package perfbench

import java.io.File
import java.sql.{Date, Timestamp}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.batch.{BatchJobs, WarehouseLoader}
import graft.streaming.StreamPipeline

/** One raw daily bar; `seq` orders duplicates. */
final case class Bar(symbol: String, date: Date, open: Double, high: Double, low: Double,
                     close: Double, volume: Long, seq: Long)

/** One tick in the closes store's event shape. */
final case class Ev(event_type: String, ts: Timestamp, event_id: Long, value: Double)

/** eod_batch: one cycle per simulated trading day against a standing
  * `daily_metrics` snapshot of `Symbols` x `SeedDays` rows seeded in
  * setup. A cycle runs three steps in order, one client, closed loop:
  *
  *  1. `closesMaintain` folds the day's ticks into the closes store
  *     (heal, marker, coalesce(1) rewrite, atomic swap);
  *  2. the day's raw bars, with duplicate rows and corrections to the
  *     previous day, go through `BatchJobs.dailyMetrics`, then
  *     `WarehouseLoader.load` (keyed merge) and `writeSnapshot`;
  *  3. `varCvarServe` reads the closes store.
  *
  * A cycle's time runs from its inputs being ready to all three steps
  * done. The warm-up runs `WarmupCycles` untimed cycles: the first
  * cycles of a JVM run cold code and each takes longer than the one
  * before. Measured cycles repeat until `--seconds` is spent, at least
  * `MinCycles`. The gates compare the final snapshot with every load's
  * `dailyMetrics` (the warm-up cycles' too) kept last per key, and the
  * closes store with `DailyCloses.state` over every tick fed.
  */
final class EodBatch extends Workload {
  import EodBatch._

  private var gen: Gen = _
  private var q: StreamingQuery = _
  private var in: MemoryStream[Ev] = _
  private val loads = ArrayBuffer.empty[(Int, Seq[Bar])]
  private val ticksFed = ArrayBuffer.empty[Seq[Ev]]
  private var day = 0

  private val cycleMs = ArrayBuffer.empty[Double]
  private val closesMs = ArrayBuffer.empty[Double]
  private val loadMs = ArrayBuffer.empty[Double]
  private val serveMs = ArrayBuffer.empty[Double]
  private val inputBytes = ArrayBuffer.empty[Double]
  private var inputRows = 0L
  private var failed = 0L

  private def snap(ctx: Ctx) = new File(ctx.dir, "daily_metrics").getAbsolutePath
  private def closes(ctx: Ctx) = new File(ctx.dir, "closes").getAbsolutePath

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    loads.clear(); ticksFed.clear()
    WarehouseLoader.writeSnapshot(spark, seedFrame(spark, ctx.args.seed), snap(ctx))
    val last = spark.read.parquet(snap(ctx)).where(col("date") === lit(date(SeedDays - 1)))
      .select("symbol", "daily_close").as[(String, Double)].collect().toMap
    gen = new Gen(ctx.args.seed, Array.tabulate(Symbols)(s => last(sym(s))))
    in = MemoryStream[Ev](spark)
    q = StreamPipeline.closesMaintain(in.toDF(), closes(ctx), new File(ctx.dir, "closes_checkpoint").getPath,
      Trigger.ProcessingTime(0L))
    val history = gen.historyTicks()
    ticksFed += history
    in.addData(history)
    q.processAllAvailable()
    day = SeedDays
  }

  override def warmup(ctx: Ctx): Unit = (1 to WarmupCycles).foreach(i => cycle(ctx, -i.toLong))

  override def teardown(ctx: Ctx): Unit = {
    q.stop()
    super.teardown(ctx)
  }

  private def metrics(bars: DataFrame, loadSeq: Int): DataFrame =
    BatchJobs.dailyMetrics(bars, Seq(col("seq"))).withColumn("load_seq", lit(loadSeq))

  /** One trading day; inputs are generated before the clock starts.
    * Returns the times of its three steps and the size of its input. */
  private def cycle(ctx: Ctx, op: Long): Cycle = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.trace
    val d = day
    day += 1
    val bars = gen.dayBars(d)
    val ticks = gen.dayTicks(d)
    val barsDf = bars.toDF()
    loads += ((d, bars))
    ticksFed += ticks
    val c0 = System.nanoTime()
    t.span("StreamPipeline.closesMaintain", op) {
      in.addData(ticks)
      q.processAllAvailable()
    }
    val c1 = System.nanoTime()
    t.span("batch.daily_load", op) {
      val m = t.span("BatchJobs.dailyMetrics", op)(metrics(barsDf, d))
      val target = spark.read.parquet(snap(ctx))
      val merged = t.span("WarehouseLoader.load", op)(WarehouseLoader.load(target, m, Keys, "load_seq", loadTs(d)))
      t.span("WarehouseLoader.writeSnapshot", op)(WarehouseLoader.writeSnapshot(spark, merged, snap(ctx)))
    }
    val c2 = System.nanoTime()
    t.span("StreamPipeline.varCvarServe", op)(StreamPipeline.varCvarServe(spark, closes(ctx)).collect())
    val c3 = System.nanoTime()
    Cycle((c1 - c0) / 1e6, (c2 - c1) / 1e6, (c3 - c2) / 1e6, bars.size + ticks.size,
      bars.map(b => b.symbol.length + 4 + 6 * 8).sum.toDouble)
  }

  def measure(ctx: Ctx): Measured = {
    ctx.trace.bindGroup(q.runId.toString, ctx.trace.currentSpan)
    val deadline = System.nanoTime() + ctx.args.seconds * 1000000000L
    var attempted = 0L
    while (attempted < MinCycles || System.nanoTime() < deadline) {
      attempted += 1
      try {
        val c = ctx.trace.span("cycle", attempted)(cycle(ctx, attempted))
        closesMs += c.closesMs
        loadMs += c.loadMs
        serveMs += c.serveMs
        cycleMs += c.closesMs + c.loadMs + c.serveMs
        println(f"cycle $attempted closes ${c.closesMs}%.1f ms, daily_load ${c.loadMs}%.1f ms, var_cvar ${c.serveMs}%.1f ms")
        inputRows += c.inputRows
        inputBytes += c.barBytes
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"eod_batch cycle failed: $e")
      }
    }
    q.stop()
    val p50 = Stats.median(cycleMs.toSeq)
    val tail = Stats.quantile(cycleMs.toSeq, 0.75)
    val rate = inputRows / (cycleMs.sum / 1e3)
    val serveP50 = Stats.median(serveMs.toSeq)
    Measured(attempted, failed,
      Map("op_p50_ms" -> p50, "op_tail_ms" -> tail, "throughput_per_s" -> rate, "read_p50_ms" -> serveP50),
      Seq(Metric("eod_cycle_p50_s", p50 / 1e3, "s"), Metric("eod_cycle_p75_s", tail / 1e3, "s"),
        Metric("eod_cycles", cycleMs.size.toDouble, "count"),
        Metric("eod_input_rows_per_s", rate, "rows/s"),
        Metric("closes_step_p50_ms", Stats.median(closesMs.toSeq), "ms"),
        Metric("daily_load_step_p50_ms", Stats.median(loadMs.toSeq), "ms"),
        Metric("var_cvar_serve_p50_ms", serveP50, "ms")))
  }

  def check(ctx: Ctx): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    import spark.implicits._
    // every load's dailyMetrics in one plan: the load number rides in
    // the symbol, and dailyMetrics works per (symbol, date) only
    val tagged = loads.toSeq.flatMap { case (n, bars) => bars.map(b => b.copy(symbol = s"${b.symbol}#$n")) }.toDF()
    val parts = split(col("symbol"), "#")
    val byLoad = BatchJobs.dailyMetrics(tagged, Seq(col("seq")))
      .withColumn("load_seq", parts.getItem(1).cast("int"))
      .withColumn("symbol", parts.getItem(0))
      .withColumn("last_updated", timestamp_seconds((lit(BaseEpochDay) + col("load_seq")) * 86400L + 72000L))
      .unionByName(seedFrame(spark, ctx.args.seed).withColumn("load_seq", lit(0)))
    val want = graft.operators.Dedup.keepLast(byLoad, Keys, Seq(col("load_seq"))).drop("load_seq")
    val got = spark.read.parquet(snap(ctx))
    val cols = want.columns.toSeq.map(col)
    val closeCols = Seq("event_type", "day", "ts", "event_id", "close_lv").map(col)
    Seq(
      "eod_batch.snapshot_equals_keep_last" -> Gates.sameRows(got.select(cols: _*), want.select(cols: _*)),
      "eod_batch.closes_equal_state" -> Gates.sameRows(
        spark.read.parquet(closes(ctx)).select(closeCols: _*),
        graft.operators.DailyCloses.state(ticksFed.flatten.toSeq.toDF()).select(closeCols: _*)))
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val t = ctx.trace
    val measure = t.all.find(_.name == "measure").get
    val writes = t.subtree(measure.id).filter(_.name == "WarehouseLoader.writeSnapshot")
    val perCycle = t.sum(writes, "output_bytes") / math.max(1, writes.size)
    Map(
      "streaming.closes_batch_ms" -> Stats.median(closesMs.toSeq),
      "serve.var_cvar_ms" -> Stats.median(serveMs.toSeq),
      "batch.daily_load_ms" -> Stats.median(loadMs.toSeq),
      "batch.bytes_written" -> perCycle,
      "batch.write_amplification" -> perCycle / Stats.median(inputBytes.toSeq))
  }
}

object EodBatch {
  /** A reference batch run loads one year (252 days) for 10 symbols
    * (SURVEY.md §6); this has 100 times the symbols, the factor the
    * tick rate is scaled by too. */
  val Symbols = 1000
  val SeedDays = 252
  val HistoryDays = 5
  val TicksPerSymbolDay = 5
  /** A cycle takes about 3 s at local[2], so a 4-second run measures
    * exactly this many: every run measures the same operations. */
  val MinCycles = 4
  /** After two cycles a cycle's time no longer falls from one to the
    * next. */
  val WarmupCycles = 2
  val Keys = Seq("symbol", "date")
  val BaseEpochDay = 19000L // 2022-01-08

  /** One cycle's step times (ms), its input rows (bars and ticks) and
    * its raw bar bytes. */
  final case class Cycle(closesMs: Double, loadMs: Double, serveMs: Double, inputRows: Long, barBytes: Double)

  /** When load `day` ran: 20:00 UTC that day (the gate rebuilds it). */
  def loadTs(day: Int): Timestamp = new Timestamp(((BaseEpochDay + day) * 86400L + 72000L) * 1000L)

  def sym(s: Int): String = f"E$s%04d"
  def date(d: Int): Date = Date.valueOf(java.time.LocalDate.ofEpochDay(BaseEpochDay + d))

  /** The standing snapshot, one row per symbol per day for days
    * [0, SeedDays), stamped as load 0. Spark computes it from the seed
    * with hash functions, so setup and the gate make the same rows
    * without building them as local objects. */
  def seedFrame(spark: SparkSession, seed: Long): DataFrame = {
    def u(k: Int) = pmod(xxhash64(lit(seed), col("s"), col("d"), lit(k)), lit(1000000L)) / 1e6
    def cents(c: Column) = greatest(lit(0.01), round(c, 2))
    val ref = lit(20.0) + pmod(xxhash64(lit(seed), col("s")), lit(30000L)) / 100.0
    spark.range(Symbols.toLong * SeedDays)
      .select((col("id") % Symbols).as("s"), (col("id") / Symbols).cast("int").as("d"))
      .select(format_string("E%04d", col("s")).as("symbol"), date_add(lit(date(0)), col("d")).as("date"),
        cents(ref * (lit(0.9) + u(1) * 0.2)).as("o"), cents(ref * (lit(0.9) + u(2) * 0.2)).as("c"),
        u(3).as("h"), u(4).as("l"), (lit(100L) + pmod(xxhash64(lit(seed), col("s"), col("d"), lit(5)), lit(100000L))).as("v"))
      .select(col("symbol"), col("date"), col("o").as("daily_open"),
        cents(greatest(col("o"), col("c")) * (lit(1.0) + col("h") * 0.01)).as("daily_high"),
        cents(least(col("o"), col("c")) * (lit(1.0) - col("l") * 0.01)).as("daily_low"),
        col("v").as("daily_volume"), col("c").as("daily_close"),
        round((col("c") - col("o")) / col("o") * 100.0, 4).as("daily_change"), lit(loadTs(0)).as("last_updated"))
  }

  /** Single-threaded seeded generator of bars and ticks; `close` holds
    * each symbol's last close in the seeded snapshot. */
  final class Gen(seed: Long, close: Array[Double]) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var seq = 0L
    private var eventId = 0L

    private def cents(x: Double) = math.max(0.01, math.round(x * 100) / 100.0)

    private def bar(s: Int, d: Int, ref: Double): Bar = {
      val o = cents(ref * (1 + (rnd.nextDouble() - 0.5) * 0.02))
      val c = cents(ref * (1 + (rnd.nextDouble() - 0.5) * 0.04))
      seq += 1
      Bar(sym(s), date(d), o, cents(math.max(o, c) * (1 + rnd.nextDouble() * 0.01)),
        cents(math.min(o, c) * (1 - rnd.nextDouble() * 0.01)), c, 100L + rnd.nextInt(100000), seq)
    }

    /** One tick per symbol per day for the closes history, the days
      * just before the first cycle. */
    def historyTicks(): Seq[Ev] =
      (SeedDays - HistoryDays until SeedDays).flatMap(d => (0 until Symbols).map(s => ev(s, d)))

    /** Day `d`: a bar per symbol, a second bar for 1 in 10 symbols (a
      * duplicate that keep-first drops), and a correcting bar for the
      * previous day for 1 in 20. */
    def dayBars(d: Int): Seq[Bar] =
      (0 until Symbols).flatMap { s =>
        val b = bar(s, d, close(s))
        close(s) = b.close
        val dup = if (rnd.nextInt(10) == 0) Seq(bar(s, d, b.close)) else Nil
        val fix = if (rnd.nextInt(20) == 0) Seq(bar(s, d - 1, b.close)) else Nil
        (b +: dup) ++ fix
      }

    def dayTicks(d: Int): Seq[Ev] =
      (0 until Symbols).flatMap(s => (0 until TicksPerSymbolDay).map(_ => ev(s, d)))

    private def ev(s: Int, d: Int): Ev = {
      eventId += 1
      val ms = ((BaseEpochDay + d) * 86400L + 34200L + rnd.nextInt(23400)) * 1000L
      Ev(sym(s), new Timestamp(ms), eventId, cents(close(s) * (1 + (rnd.nextDouble() - 0.5) * 0.02)))
    }
  }
}
