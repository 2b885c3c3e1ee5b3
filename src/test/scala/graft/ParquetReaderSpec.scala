package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.batch.StoreCommit
import graft.core.Tables
import graft.streaming.StreamPipeline

/** `Tables.parquet`, the one parquet reader: its schema is the one
  * `spark.read.parquet` infers (nullability and metadata included)
  * for every shape the program opens, and no open runs a Spark job. */
class ParquetReaderSpec extends SparkSpec {
  import spark.implicits._

  private val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  /** Spark jobs started while `body` runs: a sentinel job after it is
    * awaited on the listener bus, so every earlier job is counted. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.sentinel") != null)) sentinelSeen.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setLocalProperty("graft.sentinel", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.sentinel", null)
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "the sentinel job must reach the listener")
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Same schema as Spark's inference, and the open runs no job. */
  private def assertReadsLikeSpark(paths: String*): DataFrame = {
    val (df, jobs) = jobsDuring(Tables.parquet(spark, paths: _*))
    assert(jobs == 0, s"opening ${paths.mkString(", ")} ran $jobs jobs")
    assert(df.schema == spark.read.parquet(paths: _*).schema, paths.mkString(", "))
    df
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val was = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("the ten testdata tables at three scales read with Spark's schema, under the confs Tables sets and the defaults") {
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables)
      withConf(ntz, "false")(withConf(nanos, "true")(assertReadsLikeSpark(s"${sf(scale)}/$t.parquet")))
    for (t <- tables) // a session that never opened a table through Tables
      withConf(ntz, "true")(withConf(nanos, "false")(assertReadsLikeSpark(s"${sf()}/$t.parquet")))
  }

  test("Tables.apply opens every table without a job") {
    val (_, jobs) = jobsDuring(tables.foreach(t => Tables(spark, sf(), t).schema))
    assert(jobs == 0)
  }

  test("a bucket_day-partitioned bucket store and an old symbol-partitioned one") {
    val dir = tmp("graft_reader_buckets")
    val buckets = Seq(("0700", 1704067200L, 1.0), ("7203", 1704067500L, 2.0),
      ("AAPL", 1704153600L, 3.0)).toDF("symbol", "bucket_start", "vwap")
      .withColumn("batch_id", lit(0L))
    StreamPipeline.appendBuckets(buckets, s"$dir/day")
    val day = assertReadsLikeSpark(s"$dir/day")
    assert(day.schema("bucket_day").dataType == org.apache.spark.sql.types.DateType)
    assert(day.select("symbol").as[String].collect().toSet == Set("0700", "7203", "AAPL"))
    buckets.write.partitionBy("symbol").parquet(s"$dir/sym")
    assertReadsLikeSpark(s"$dir/sym") // numeric-looking partition values infer as Spark infers them
  }

  test("a StoreCommit store with its marker, .crc files and _SUCCESS") {
    val store = s"${tmp("graft_reader_store")}/store"
    val b = StoreCommit.open(spark, 3L, store)
    b.commit(store, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val names = Files.list(Paths.get(store)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_graft_batch_3") && names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names.mkString(", "))
    assert(assertReadsLikeSpark(store).as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("a multi-path read, and a root below a hidden ancestor") {
    val dir = tmp("graft_reader_multi")
    Seq((1L, 0.5)).toDF("id", "x").write.parquet(s"$dir/a")
    Seq((2L, 1.5)).toDF("id", "x").write.parquet(s"$dir/b")
    assert(assertReadsLikeSpark(s"$dir/a", s"$dir/b").count() == 2)
    def files(p: String): Seq[String] = Files.list(Paths.get(p)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assertReadsLikeSpark(files(s"$dir/a") ++ files(s"$dir/b"): _*)
    Seq((3L, 2.5)).toDF("id", "x").write.parquet(s"$dir/.build/c") // hidden names count below the root only
    assertReadsLikeSpark(s"$dir/.build/c")
  }

  test("an empty directory and a missing path raise Spark's own error") {
    val empty = tmp("graft_reader_empty")
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    for (p <- Seq(empty, s"$empty/missing")) {
      val ours = intercept[AnalysisException](Tables.parquet(spark, p))
      val theirs = intercept[AnalysisException](spark.read.parquet(p))
      assert(ours.getCondition == theirs.getCondition, ours.getMessage)
    }
  }

  test("events stored as TIMESTAMP(NANOS) read as the same rows as the microsecond table") {
    val nsDir = Paths.get("src/test/resources/events_ns").toString
    val (ns, jobs) = jobsDuring(Tables.events(spark, nsDir))
    assert(jobs == 0)
    val us = Tables.events(spark, sf())
    assert(ns.schema == us.schema)
    val ids = ns.select("event_id").as[Long].collect().toSeq
    assert(ids.size == 40)
    assert(ns.orderBy("event_id").collect().toSeq ==
      us.filter(col("event_id").isin(ids: _*)).orderBy("event_id").collect().toSeq)
  }

  test("one reader: no read.parquet( in main code outside Tables and graft/tools") {
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.startsWith(root.resolve("graft/tools")) || p.endsWith("graft/core/Tables.scala"))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("read.parquet(") => s"${root.relativize(p)}:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty, s"open parquet through Tables.parquet: ${offenders.mkString(", ")}")
  }
}
