package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.streaming.StreamPipeline

/** Every maintainer that commits through graft.batch.StoreCommit,
  * crashed at every point of the commit protocol and replayed.
  *
  * Each row runs batch 0, then batch 1 on a copy: that copy is the
  * clean run. Each crash case starts from the batch-0 state, gives every
  * store earlier in commit order its clean batch-1 layout, and builds
  * one of these states on disk for the next store:
  *
  *  - staged: batch 1's layout with its marker sits in `<store>.tmp`,
  *    not yet swapped in;
  *  - mid-swap: live was renamed to `<store>.old`, the staged layout was
  *    not yet renamed in;
  *  - swapped (last store only): every store holds batch 1, the
  *    checkpoint does not, so the replay meets its own markers. On an
  *    earlier store this state is the staged state of the next store
  *    without its staging dir.
  *
  * Replaying batch 1 (the one foreachBatch replays) must leave every
  * store equal to the clean run, bitwise, with no `.old` left behind,
  * and must count no late rows. An append-only store written ahead of
  * the commits may hold the replayed batch twice (its reader drops the
  * copy on batch_id), so it must equal the clean run as a set of rows.
  */
class StoreCrashMatrixSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** One maintainer: its swap-committed stores in commit order, its
    * two input batches, its per-batch function over a store root, any
    * store it commits before the others by other means, and any
    * append-only store it appends to before them. */
  private case class Maintainer(name: String, stores: Seq[String],
                                in: () => (DataFrame, DataFrame),
                                run: (DataFrame, String, Long) => Unit,
                                committedFirst: Seq[String] = Nil,
                                appendedFirst: Seq[String] = Nil)

  private sealed trait Crash
  private case object Staged extends Crash
  private case object MidSwap extends Crash
  private case object Swapped extends Crash

  /** Ordered arrival: every batch-1 event is later than every batch-0
    * event. A quarter of the users appear in batch 0 only, so a carry
    * that loses its earlier rows cannot match the clean run. */
  private lazy val (ev0, ev1) = {
    val ev = graft.core.Tables.events(spark, dir)
    val mid = ev.select(percentile_approx(col("ts").cast("long"), lit(0.5), lit(100))).head().getLong(0)
    (ev.filter(col("ts").cast("long") < mid),
      ev.filter(col("ts").cast("long") >= mid && pmod(col("user_id"), lit(4)) =!= 0))
  }
  private def events(cols: String*)(): (DataFrame, DataFrame) =
    (ev0.select(cols.map(col): _*), ev1.select(cols.map(col): _*))
  private def halves(table: String, key: String, cols: String*)(): (DataFrame, DataFrame) = {
    val df = graft.core.Tables(spark, dir, table)
    val t = if (cols.isEmpty) df else df.select(cols.map(col): _*)
    (t.filter(col(key) % 2 === 0), t.filter(col(key) % 2 === 1))
  }

  private val maintainers: Seq[Maintainer] = {
    val p = StreamPipeline
    val seq = events("user_id", "ts", "event_id", "event_type") _
    val profileCols = Seq("l_orderkey" -> "int", "l_partkey" -> "int",
      "l_quantity" -> "double", "l_returnflag" -> "str", "l_shipdate" -> "ts")
    def one(name: String, in: () => (DataFrame, DataFrame))(run: (DataFrame, String, Long) => Unit) =
      Maintainer(name, Seq("st"), in, (b, r, id) => run(b, s"$r/st", id))
    def two(name: String, in: () => (DataFrame, DataFrame))
           (run: (DataFrame, String, String, Long) => Unit) =
      Maintainer(name, Seq("counts", "carry"), in, (b, r, id) => run(b, s"$r/counts", s"$r/carry", id))
    Seq(
      Maintainer("sketch", Seq("sk/cms", "sk/qbuckets"), events("event_type", "value") _,
        (b, r, id) => p.mergeSketchBatch(b, s"$r/sk", "event_type", "value", id)),
      one("gram", halves("embeddings", "vec_id") _)(p.mergeGramBatch(_, _, "embedding", 64, _)),
      two("transition", seq)(p.transitionBatch),
      one("funnel", events("user_id", "ts", "event_type") _)(p.funnelBatch),
      one("retention", events("user_id", "ts") _)(p.retentionBatch),
      one("profile", halves("lineitem", "l_orderkey") _)(p.profileBatch(_, _, profileCols, _)),
      two("attribution", seq)(p.attributionBatch),
      one("closes", () => (ev0, ev1))(p.closesBatch),
      two("paths", seq)(p.pathsBatch),
      Maintainer("scd2", Seq("carry"), seq,
        (b, r, id) => p.scd2Batch(b, s"$r/dim", s"$r/carry", id), committedFirst = Seq("dim")),
      one("psi", events("event_type", "ts", "value") _)(p.psiBatch),
      one("hll", halves("documents", "doc_id", "doc_id", "source", "text") _)(p.hllBatch),
      one("mad", events("event_type", "value") _)(p.madBatch),
      one("basket", halves("lineitem", "l_orderkey", "l_orderkey", "l_partkey") _)(p.basketBatch),
      one("bot", seq)(p.botBatch),
      one("rfm", () => (ev0, ev1))(p.rfmBatch),
      one("sessions", events("user_id", "ts", "event_id") _)(p.sessionsBatch),
      one("cusum", () => (ev0, ev1))(p.cusumBatch),
      two("lift", seq)(p.liftBatch),
      Maintainer("panel", Seq("panel"),
        events("event_id", "ts", "user_id", "event_type", "value", "props") _,
        (b, r, id) => p.panelBatch(b, s"$r/ticks", s"$r/panel", id), appendedFirst = Seq("ticks")))
  }

  private def lateRows: Long = StreamPipeline.lateTransitionRows.get() +
    StreamPipeline.lateScd2Rows.get() + StreamPipeline.lateBotRows.get()

  /** A store's rows and schema, in a form that compares bitwise. */
  private def snapshot(path: String, distinct: Boolean = false): (String, Seq[String]) = {
    def canon(v: Any): String = v match {
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
      case d: java.math.BigDecimal => d.toPlainString
      case null => "null"
      case x => x.toString
    }
    val df = spark.read.parquet(path)
    val rows = df.collect().map(canon).toSeq.sorted
    (df.schema.toDDL, if (distinct) rows.distinct else rows)
  }

  private def copy(from: String, to: String): Unit = FileUtils.copyDirectory(new File(from), new File(to))
  private def delete(path: String): Unit = FileUtils.deleteDirectory(new File(path))

  private def crashState(m: Maintainer, batch0: String, clean: String, k: Int, crash: Crash): String = {
    val root = Files.createTempDirectory(s"graft_crash_${m.name}").toString
    copy(batch0, root)
    (m.committedFirst ++ m.appendedFirst ++ m.stores.take(k)).foreach { s =>
      delete(s"$root/$s"); copy(s"$clean/$s", s"$root/$s")
    }
    val live = s"$root/${m.stores(k)}"
    val done = s"$clean/${m.stores(k)}"
    crash match {
      case Staged => copy(done, s"$live.tmp")
      case MidSwap =>
        Files.move(Paths.get(live), Paths.get(s"$live.old"))
        copy(done, s"$live.tmp")
      case Swapped => delete(live); copy(done, live)
    }
    root
  }

  maintainers.foreach { m =>
    test(s"${m.name}: every crash point replays to the clean run, bitwise") {
      val (b0, b1) = m.in()
      val batch0 = Files.createTempDirectory(s"graft_b0_${m.name}").toString
      m.run(b0, batch0, 0L)
      val clean = Files.createTempDirectory(s"graft_clean_${m.name}").toString
      copy(batch0, clean)
      m.run(b1, clean, 1L)
      val all = m.committedFirst ++ m.stores
      val want = all.map(s => s -> snapshot(s"$clean/$s")).toMap
      val wantAppended = m.appendedFirst.map(s => s -> snapshot(s"$clean/$s", distinct = true)).toMap
      val cases = for (k <- m.stores.indices;
                       crash <- if (k == m.stores.size - 1) Seq(Staged, MidSwap, Swapped)
                                else Seq(Staged, MidSwap)) yield (k, crash)
      val late = lateRows
      // the cases touch disjoint directories, so they replay concurrently
      val pool = Executors.newFixedThreadPool(cases.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.traverse(cases) { case (k, crash) =>
        Future {
          val root = crashState(m, batch0, clean, k, crash)
          m.run(b1, root, 1L)
          val at = s"${m.name} crashed $crash at ${m.stores(k)}"
          all.foreach { s =>
            assert(snapshot(s"$root/$s") == want(s), s"$at: $s differs from the clean run")
            assert(!Files.exists(Paths.get(s"$root/$s.old")), s"$at: $s.old left behind")
          }
          m.appendedFirst.foreach { s =>
            assert(snapshot(s"$root/$s", distinct = true) == wantAppended(s),
              s"$at: $s differs from the clean run")
          }
        }
      }, 10.minutes)
      finally pool.shutdown()
      assert(lateRows == late, s"${m.name}: a replay counted late rows")
    }
  }
}
