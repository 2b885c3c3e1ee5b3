package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.StreamPipeline

/** One tick in the cleaned tick shape the streaming leg reads. */
final case class Tick(symbol: String, timestamp: Timestamp, price: Double, change: Double,
                      change_percent: Double, volume: Long, today_low: Double, today_high: Double)

/** tick_stream: seeded ticks for 50 symbols go through a MemoryStream
  * into `StreamPipeline.run` (1-min watermark, 5-min bucket partials,
  * parquet bucket store partitioned by symbol), triggered back to back.
  * Setup starts the stream and commits a first slice, so the measured
  * phases see a running query. The warm-up runs an untimed open loop
  * and one serve. Then:
  *
  *  1. Open loop: `OpenRows`-row slices are offered every `SliceGapMs`,
  *     each stamped with its due time. A slice's lag runs from its due
  *     time to the commit of the micro-batch that holds it. The first
  *     `FillSlices` fill the queue from empty and are not timed; then
  *     slices arrive for `--seconds`, at least `MinLagSamples` of them.
  *  2. Closed loop: `ClosedSlices` slices of `ClosedRows` rows, each
  *     added only after the previous one committed; their rows over
  *     their time are the capacity.
  *  3. `Serves` reads of `windowedMetrics(readBuckets(store))` from one
  *     client, against the store the stream has written.
  *
  * Every slice advances event time by `SliceEventSec`, with disorder
  * inside a slice only, so no tick ever falls behind the watermark. A
  * last slice of one tick per symbol an hour later moves the watermark
  * past every real bucket, so the store then holds every bucket the
  * ticks make: the gate compares it with `bucketAgg` over all ticks.
  */
final class TickStream extends Workload {
  import TickStream._

  private var warm: IndexedSeq[Seq[Tick]] = IndexedSeq.empty
  private var open: IndexedSeq[Seq[Tick]] = IndexedSeq.empty
  private var closed: IndexedSeq[Seq[Tick]] = IndexedSeq.empty
  private var prime: Seq[Tick] = Nil
  private var flush: Seq[Tick] = Nil
  private var query: StreamingQuery = _
  private var input: MemoryStream[Tick] = _

  private val lagMs = ArrayBuffer.empty[Double]
  private val lateMs = ArrayBuffer.empty[Double]
  private val closedMs = ArrayBuffer.empty[Double]
  private val serveMs = ArrayBuffer.empty[Double]
  private var backlogMax = 0
  private var attempted = 0L
  private var failed = 0L

  private def store(ctx: Ctx) = new File(ctx.dir, "buckets").getAbsolutePath

  def setup(ctx: Ctx): Unit = {
    val g = new Gen(ctx.args.seed)
    val nOpen = FillSlices + math.max(MinLagSamples, ctx.args.seconds * 1000 / SliceGapMs)
    prime = g.slice(OpenRows)
    warm = (0 until WarmupSlices).map(_ => g.slice(OpenRows))
    open = (0 until nOpen).map(_ => g.slice(OpenRows))
    closed = (0 until ClosedSlices).map(_ => g.slice(ClosedRows))
    flush = g.flush()
    // start the stream and commit its first slice: a stream pays its
    // start-up once, before it serves
    input = newInput(ctx.spark, ctx.args.cores)
    query = ctx.trace.span("StreamPipeline.run")(start(ctx.spark, ctx.dir))
    input.addData(prime)
    query.processAllAvailable()
  }

  override def teardown(ctx: Ctx): Unit = {
    query.stop()
    super.teardown(ctx)
  }

  /** The stream's source. A micro-batch reads it in `partitions`
    * partitions however many slices it holds, as it would read a
    * Kafka topic with that many partitions; left unset, a MemoryStream
    * makes one partition per slice, so an open-loop batch of 50 slices
    * would run 50 tiny tasks. */
  private def newInput(spark: SparkSession, partitions: Int): MemoryStream[Tick] = {
    import spark.implicits._
    MemoryStream[Tick](spark, partitions)
  }

  private def start(spark: SparkSession, dir: String): StreamingQuery = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    StreamPipeline.run(input.toDF(), s"$dir/buckets", s"$dir/checkpoint", Trigger.ProcessingTime(0L))
  }

  /** Offers `slices` to `in` from a generator thread, one every
    * `SliceGapMs` whatever the stream's progress, and returns each
    * slice's due time and the source offset it ended at; how late each
    * offer ran goes to `late`. */
  private def offer(in: MemoryStream[Tick], slices: IndexedSeq[Seq[Tick]],
                    late: ArrayBuffer[Double]): (Array[Long], Array[Long]) = {
    val due = new Array[Long](slices.size)
    val offset = new Array[Long](slices.size)
    val t0 = System.currentTimeMillis() + 100
    val gen = new Thread(() => {
      slices.indices.foreach { i =>
        due(i) = t0 + i.toLong * SliceGapMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        offset(i) = in.addData(slices(i)).json.toLong
        late += (System.currentTimeMillis() - due(i)).toDouble
      }
    }, "perfbench-tick-generator")
    gen.start()
    gen.join()
    (due, offset)
  }

  /** An open loop of `WarmupSlices` and a serve of the store it wrote,
    * untimed: a stream's first seconds run cold code, and without it
    * the lag of the first third of the timed slices read a third to a
    * half above that of the last third. */
  override def warmup(ctx: Ctx): Unit = {
    offer(input, warm, ArrayBuffer.empty[Double])
    query.processAllAvailable()
    serve(ctx.spark, store(ctx))
  }

  private def serve(spark: SparkSession, path: String): Unit =
    StreamPipeline.windowedMetrics(StreamPipeline.readBuckets(spark, path))
      .write.format("noop").mode("overwrite").save()

  def measure(ctx: Ctx): Measured = {
    val t = ctx.trace
    val spark = ctx.spark
    val (q, in) = (query, input)
    t.bindGroup(q.runId.toString, t.currentSpan)
    try {
      // 1. open loop
      val (due, offset) = t.span("open_loop") {
        val r = offer(in, open, lateMs)
        q.processAllAvailable()
        r
      }
      val batches = committedBatches(q)
      open.indices.foreach { i =>
        attempted += 1
        batches.find(b => b.endOffset >= offset(i)) match {
          case Some(b) => if (i >= FillSlices) lagMs += (b.commitMs - due(i)).toDouble
          case None    => failed += 1
        }
      }
      backlogMax = batches.map { b =>
        open.indices.count(i => due(i) <= b.startMs && batches.find(_.endOffset >= offset(i)).forall(_.commitMs > b.startMs))
      }.maxOption.getOrElse(0)

      // 2. closed loop
      closed.zipWithIndex.foreach { case (s, i) =>
        attempted += 1
        t.span("closed_slice", i) {
          val c0 = System.nanoTime()
          in.addData(s)
          q.processAllAvailable()
          closedMs += (System.nanoTime() - c0) / 1e6
        }
      }
      in.addData(flush)
      q.processAllAvailable()
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"tick_stream stream failed: $e")
    } finally q.stop()
    ctx.heap.checkpoint()

    // 3. serves against the store the stream wrote
    (0 until Serves).foreach { i =>
      attempted += 1
      try t.span("serve.windows", i) {
        val s0 = System.nanoTime()
        serve(spark, store(ctx))
        serveMs += (System.nanoTime() - s0) / 1e6
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"tick_stream serve failed: $e")
      }
    }

    val lagP50 = Stats.median(lagMs.toSeq)
    val lagP90 = Stats.quantile(lagMs.toSeq, 0.9)
    val capacity = ClosedRows * closedMs.size / (closedMs.sum / 1e3)
    val serveP50 = Stats.median(serveMs.toSeq)
    val offered = OpenRows * 1000.0 / SliceGapMs
    Measured(attempted, failed,
      Map("op_p50_ms" -> lagP50, "op_tail_ms" -> lagP90, "throughput_per_s" -> capacity, "read_p50_ms" -> serveP50),
      Seq(Metric("tick_lag_p50_ms", lagP50, "ms"), Metric("tick_lag_p90_ms", lagP90, "ms"),
        // the lag of the first and the last third of the open loop: a
        // lag that grows from one to the other means the offered rate
        // is above what the stream sustains
        Metric("tick_lag_first_third_p50_ms", Stats.median(lagMs.take(lagMs.size / 3).toSeq), "ms"),
        Metric("tick_lag_last_third_p50_ms", Stats.median(lagMs.takeRight(lagMs.size / 3).toSeq), "ms"),
        Metric("tick_lag_samples", lagMs.size.toDouble, "count"),
        Metric("tick_offered_rows_per_s", offered, "rows/s"),
        Metric("tick_capacity_rows_per_s", capacity, "rows/s"),
        Metric("window_serve_p50_ms", serveP50, "ms"),
        Metric("generator_late_max_ms", lateMs.maxOption.getOrElse(0d), "ms"),
        Metric("backlog_slices_max", backlogMax.toDouble, "count")))
  }

  /** Committed data batches of `q`, in order, with the offset range and
    * the commit time each progress report gives. `start` raises the
    * session's `numRecentProgressUpdates` so that no batch of the run
    * drops out of `recentProgress`. */
  private def committedBatches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala
      Batch(p.sources.head.endOffset.toLong, start, start + d("triggerExecution").longValue)
    }.sortBy(_.endOffset)

  def check(ctx: Ctx): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    import spark.implicits._
    val ticks = (prime +: (warm ++ open ++ closed)).flatten.toDF()
    val cols = Seq("symbol", "bucket_start", "n", "price_sum", "price_sum2", "price_min", "price_max", "vol_sum").map(col)
    val want = StreamPipeline.bucketAgg(ticks).select(cols: _*)
    val got = StreamPipeline.readBuckets(spark, store(ctx)).select(cols: _*)
    Seq("tick_stream.buckets_equal_bucketAgg" -> Gates.sameRows(got, want))
  }

  /** The streaming metrics come from the micro-batch spans the
    * tracer's StreamingQueryListener recorded during the measured phase,
    * one per batch id. */
  def layers(ctx: Ctx): Map[String, Double] = {
    val t = ctx.trace
    val measure = t.all.find(_.name == "measure").get
    val batches = t.subtree(measure.id).filter(_.name == "stream.batch").groupBy(_.op).values.map(_.last).toSeq
    def total(k: String) = t.sum(batches, k)
    def max(k: String) = batches.map(_.attrs.getOrElse(k, 0d)).maxOption.getOrElse(0d)
    val runs = batches.filter(_.attrs.contains("addBatch_ms"))
    val slices = open.size + closed.size + 1
    val (dataFiles, _) = Files.count(new File(store(ctx)), _.getName.endsWith(".parquet"))
    val (allFiles, bytes) = Files.count(new File(store(ctx)))
    val serves = t.all.filter(_.name == "serve.windows")
    Map(
      "streaming.trigger_ms" -> total("triggerExecution_ms"),
      "streaming.add_batch_ms" -> total("addBatch_ms"),
      "streaming.query_planning_ms" -> total("queryPlanning_ms"),
      "streaming.wal_commit_ms" -> total("walCommit_ms"),
      "streaming.commit_offsets_ms" -> total("commitOffsets_ms"),
      "streaming.latest_offset_ms" -> total("latestOffset_ms"),
      "streaming.triggers_per_slice" -> runs.size.toDouble / slices,
      "streaming.nodata_batches" -> runs.count(_.attrs.getOrElse("input_rows", 0d) == 0).toDouble,
      "streaming.state_rows" -> max("state_rows"),
      "streaming.state_mem_bytes" -> max("state_mem_bytes"),
      "streaming.state_commit_ms" -> total("state_commit_ms"),
      "streaming.files_written" -> dataFiles.toDouble,
      "streaming.store_files" -> allFiles.toDouble,
      "streaming.store_bytes" -> bytes.toDouble,
      "streaming.backlog_slices_max" -> backlogMax.toDouble,
      "streaming.generator_late_ms" -> lateMs.maxOption.getOrElse(0d),
      "serve.windows_ms" -> Stats.median(serveMs.toSeq),
      "serve.files_read" -> t.sum(serves, "files_read") / math.max(1, serves.size),
      "serve.tasks" -> t.sum(serves, "tasks") / math.max(1, serves.size),
      "streaming.capacity_1core_rows_per_s" -> capacityOneCore(ctx))
  }

  /** Closed-loop capacity of the same stream on a one-core session,
    * the single-thread reference. Replaces the run's session. */
  private def capacityOneCore(ctx: Ctx): Double = {
    ctx.spark.stop()
    val spark = graft.core.GraftSession("perfbench-tick-1core", 1)
    try {
      input = newInput(spark, 1)
      val q = start(spark, new File(ctx.dir, "one_core").getPath)
      input.addData(prime); q.processAllAvailable()
      val c0 = System.nanoTime()
      closed.foreach { s => input.addData(s); q.processAllAvailable() }
      val s = (System.nanoTime() - c0) / 1e9
      q.stop()
      ClosedRows * closed.size / s
    } finally spark.stop()
  }
}

object TickStream {
  val Symbols = 50
  /** The reference producer sends 0.5 ticks per symbol per second and
    * its consumer flushes 100 messages at a time (SURVEY.md §6). Scaled
    * by 40 over 50 symbols that is 1,000 rows/s: one 100-row slice
    * every 100 ms. That is about 10% of the closed-loop capacity at
    * local[2] on a quiet 4-core host and 25% on one that runs 2.5 times
    * slower, so the open loop stays below saturation on both. */
  val OpenRows = 100
  val SliceGapMs = 100
  /** 1 s of slices before the timed ones: the first micro-batches of the
    * open loop are short because the queue starts empty. */
  val FillSlices = 10
  /** 7 s of slices in the warm-up. */
  val WarmupSlices = 70
  /** 10 s of slices: the lag then comes from about 20 micro-batches,
    * and p90 has 10 samples beyond it. */
  val MinLagSamples = 100
  /** Above the largest micro-batch the open loop makes,
    * so capacity is measured on batches at least that large, not on
    * small ones that a fixed per-batch cost dominates. */
  val ClosedRows = 10000
  val ClosedSlices = 2
  val Serves = 2
  /** Event time runs 120 times faster than the schedule, so the
    * warm-up's slices already close 5-minute buckets and the serve it
    * ends with reads a store that holds some. */
  val SliceEventSec = 12
  val BaseEpochSec = 1704067200L // 2024-01-01T00:00:00Z

  final case class Batch(endOffset: Long, startMs: Long, commitMs: Long)

  /** Single-threaded seeded tick generator: one random-walk price per
    * symbol, slices advancing event time by `SliceEventSec`. */
  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val price = Array.fill(Symbols)(50.0 + rnd.nextInt(20000) / 100.0)
    private var slice = 0L

    private def tick(s: Int, tsMs: Long): Tick = {
      val p0 = price(s)
      val p = math.max(1.0, math.round((p0 + (rnd.nextDouble() - 0.5) * 0.4) * 100) / 100.0)
      price(s) = p
      Tick(f"SYM$s%02d", new Timestamp(tsMs), p, math.round((p - p0) * 100) / 100.0,
        math.round((p - p0) / p0 * 1e6) / 1e4, 1L + rnd.nextInt(1000), math.min(p, p0), math.max(p, p0))
    }

    def slice(rows: Int): Seq[Tick] = {
      val base = (BaseEpochSec + slice * SliceEventSec) * 1000L
      slice += 1
      (0 until rows).map(i => tick(i % Symbols, base + rnd.nextInt(SliceEventSec * 1000)))
    }

    /** One tick per symbol an hour past the last slice. */
    def flush(): Seq[Tick] = {
      val ts = (BaseEpochSec + slice * SliceEventSec + 3600L) * 1000L
      (0 until Symbols).map(s => tick(s, ts))
    }
  }
}

object Gates {
  import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}

  /** Same multiset of rows (columns as given): the row count and the
    * wrapping sum of per-row xxhash64 agree. On a mismatch the two
    * sides are collected and diffed to show some differing rows. */
  def sameRows(got: DataFrame, want: DataFrame): Boolean = {
    def digest(df: DataFrame) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.toSeq.map(df.col): _*))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val ok = digest(got) == digest(want)
    if (!ok) {
      val g = got.collect().toSet
      val w = want.collect().toSet
      System.err.println(s"gate mismatch: ${got.count()} rows vs ${want.count()} expected; " +
        s"unexpected e.g. ${g.diff(w).take(3).mkString("; ")}; missing e.g. ${w.diff(g).take(3).mkString("; ")}")
    }
    ok
  }
}
