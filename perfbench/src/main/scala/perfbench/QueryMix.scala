package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.core.Tables

/** query_mix: the battery queries q01–q41 on the fixed seed-42 sf0.01
  * testdata (`perfbench/data/sf0.01`; `--seed` does not change it).
  * One client runs them closed loop in name order, from q01, until
  * `--seconds` is spent and at least `MinQueries` have run. Before each query the Spark cache is cleared,
  * so no query reads a table an earlier one persisted. A query's time
  * is what a user pays: `fn(spark, dir)` (table opens, eager jobs,
  * plan building) plus writing every row to the noop sink.
  *
  * The warm-up opens every table once with `Tables.apply` and runs
  * `Warmup` once, so the first measured query does not pay the JIT warm-up of
  * the read path. The gate compares each query's row count and
  * order-insensitive hash, taken on the measured execution itself with
  * `observe`, with the values recorded in `query_mix_expected.tsv`
  * from the program that passes the DuckDB oracle on this data.
  */
final class QueryMix extends Workload {
  import QueryMix._

  private var mix: Seq[(String, (SparkSession, String) => DataFrame)] = Nil
  private val queryMs = ArrayBuffer.empty[Double]
  private val buildMs = ArrayBuffer.empty[Double]
  private val digests = mutable.LinkedHashMap.empty[String, (Long, Long)]

  private def data(ctx: Ctx) = new File(ctx.args.data, "sf0.01").getPath

  def setup(ctx: Ctx): Unit = {
    mix = SparkEntry.queries.toSeq.filter { case (n, _) => InMix(n) }.sortBy(_._1)
    require(mix.size == 41, s"query_mix expects q01-q41, found ${mix.size}")
  }

  override def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    TableNames.foreach { n =>
      ctx.trace.span("Tables.apply")(Tables(spark, data(ctx), n).schema)
    }
    val warm = mix.find(_._1 == Warmup).get._2
    warm(spark, data(ctx)).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
  }

  def measure(ctx: Ctx): Measured = {
    val spark = ctx.spark
    val t = ctx.trace
    val dir = data(ctx)
    var attempted = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.args.seconds * 1000000000L
    var i = 0
    while (i < MinQueries || System.nanoTime() < deadline) {
      val (name, fn) = mix(i % mix.size)
      attempted += 1
      spark.catalog.clearCache()
      try t.span("query", i) {
        val q0 = System.nanoTime()
        val df = t.span("SparkEntry.queries.fn", i)(fn(spark, dir))
        val q1 = System.nanoTime()
        val obs = Observation(s"digest$i")
        df.observe(obs, count(lit(1)), sum(xxhash64(hashable(df): _*))).write.format("noop").mode("overwrite").save()
        val q2 = System.nanoTime()
        val r = obs.get
        val got = (r.values.head.asInstanceOf[Long], Option(r.values.last).fold(0L)(_.asInstanceOf[Long]))
        buildMs += (q1 - q0) / 1e6
        queryMs += (q2 - q0) / 1e6
        println(f"query $name ${queryMs.last}%.1f ms")
        if (digests.get(name).exists(_ != got)) {
          failed += 1
          System.err.println(s"query_mix $name: digest $got differs from the same query's earlier run ${digests(name)}")
        }
        digests(name) = got
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"query_mix $name failed: $e")
      }
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val p50 = Stats.median(queryMs.toSeq)
    val p75 = Stats.quantile(queryMs.toSeq, 0.75)
    val rate = queryMs.size / measuredS
    val buildP50 = Stats.median(buildMs.toSeq)
    Measured(attempted, failed,
      Map("op_p50_ms" -> p50, "op_tail_ms" -> p75, "throughput_per_s" -> rate, "read_p50_ms" -> buildP50),
      Seq(Metric("query_p50_ms", p50, "ms"), Metric("query_p75_ms", p75, "ms"),
        Metric("queries_run", queryMs.size.toDouble, "count"),
        Metric("queries_per_s", rate, "1/s"),
        Metric("query_build_p50_ms", buildP50, "ms")))
  }

  def check(ctx: Ctx): Seq[(String, Boolean)] = {
    val want = expected(ctx)
    digests.toSeq.map { case (name, got) =>
      val ok = want.get(name).contains(got)
      if (!ok) System.err.println(s"query_mix $name: rows,hash $got, expected ${want.get(name)}")
      println(s"digest $name ${got._1} ${got._2}")
      s"query_mix.$name" -> ok
    }
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val t = ctx.trace
    val opens = t.all.filter(_.name == "Tables.apply")
    val builds = t.all.filter(_.name == "SparkEntry.queries.fn")
    Map(
      "core.open_ms" -> Stats.median(opens.map(_.ms)),
      "core.open_jobs" -> t.sum(opens, "jobs"),
      "queries.build_ms" -> Stats.median(builds.map(_.ms)),
      "queries.build_jobs" -> t.sum(builds, "jobs") / math.max(1, builds.size))
  }

  private def expected(ctx: Ctx): Map[String, (Long, Long)] = {
    val f = new File(ctx.args.data, "query_mix_expected.tsv")
    if (!f.exists) return Map.empty
    val src = scala.io.Source.fromFile(f)
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).map { case Array(n, rows, h) =>
      n -> (rows.toLong, h.toLong)
    }.toMap
    finally src.close()
  }
}

object QueryMix {
  /** q01–q12 take longer than the 4 seconds a run measures, so every
    * run measures the same 12 queries: enough that the median and p75
    * fall among several queries of similar cost, not on one. */
  val MinQueries = 12
  val Warmup = "q01_ingest_clean"
  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  def InMix(name: String): Boolean =
    name.stripPrefix("q").takeWhile(_.isDigit).toIntOption.exists(n => n >= 1 && n <= 41)

  /** Every column, doubles rounded to 6 decimals so the hash does not
    * depend on the order a parallel sum added its terms in. */
  def hashable(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => bround(c.cast(DoubleType), 6).as(s"c$i")
        case _                      => c.as(s"c$i")
      }
    }
}
