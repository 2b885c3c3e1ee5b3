package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.SlidingWindows
import graft.streaming.{Ingest, StreamPipeline, TickSource}

/** Raw wire-shape tick for MemoryStream replay. */
case class RawTick(symbol: String, price: Double, change: Double, percent_change: String,
                   volume: String, today_low: Double, today_high: Double, timestamp: String)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def isoPlus(baseSec: Long, off: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(baseSec + off))

  private val base = 1704067200L // 2024-01-01T00:00:00Z

  test("tick source is deterministic, seeded, and wire-shaped") {
    val a = TickSource.ticks(spark, 50).collect()
    val b = TickSource.ticks(spark, 50).collect()
    assert(a.sameElements(b))
    assert(TickSource.ticks(spark, 10, seed = 7).collect().toSet !=
      TickSource.ticks(spark, 10, seed = 8).collect().toSet)
    val df = TickSource.ticks(spark, 20)
    assert(df.columns.toSeq == Seq("symbol", "price", "change", "percent_change",
      "volume", "today_low", "today_high", "timestamp"))
    // running low/high bound the price; percent string carries a %
    val bad = Ingest.clean(df).filter(!($"today_low" <= $"price" && $"price" <= $"today_high"))
    assert(bad.isEmpty)
    assert(df.filter(!$"percent_change".endsWith("%")).isEmpty)
  }

  test("ingest clean: rename, % strip, casts, null-symbol filter") {
    val raw = Seq(
      RawTick("AAPL", 10.5, 0.5, "1.25%", "123", 10.0, 11.0, "2024-01-01T00:00:10"),
      RawTick("", 1.0, 0.0, "0%", "1", 1.0, 1.0, "2024-01-01T00:00:12")
    ).toDF()
    val c = Ingest.clean(raw)
    assert(c.columns.contains("change_percent") && !c.columns.contains("percent_change"))
    val r = c.head()
    assert(r.getAs[Double]("change_percent") == 1.25)
    assert(r.getAs[Long]("volume") == 123L)
    assert(r.getAs[java.sql.Timestamp]("timestamp").toInstant.getEpochSecond == base + 10)
    assert(c.count() == 1) // empty symbol dropped (P6)
  }

  test("dedup-on-ingest: batch-internal dups collapse, cross-batch near-dups rejected") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_dedup").toString
    val words = (0 until 10).map(i => s"word$i")
    val stream = MemoryStream[(Long, String)](spark)
    val q = StreamPipeline.dedupOnIngest(
      stream.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // batch 1: 1 and 2 are exact dups (min-id 1 survives), 3 novel
      stream.addData(Seq(
        (1L, words.mkString(" ")),
        (2L, words.mkString(" ")),
        (3L, "entirely different content here")))
      q.processAllAvailable()
      // batch 2: 10 is a near-dup of corpus doc 1 (9/10 words shared +
      // one new -> jaccard 9/11 = 0.818 >= 0.8), 11 is novel
      stream.addData(Seq(
        (10L, (words.take(9) :+ "fresh").mkString(" ")),
        (11L, "completely unrelated novel document body")))
      q.processAllAvailable()
    } finally q.stop()
    val corpus = spark.read.parquet(s"$dir/corpus")
    assert(corpus.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 11L))
    spark.catalog.clearCache()
  }

  test("dedup-on-ingest: micro (driver) and distributed regimes admit identical corpora") {
    // microGate=0 forces every batch through the distributed
    // fallback; the default gate takes the MicroDedup driver kernel.
    // Same stream -> same admitted doc set AND same index contents
    // (band/toks rows up to row order).
    val words = (0 until 10).map(i => s"word$i")
    val batches = Seq(
      Seq((1L, words.mkString(" ")),
        (2L, words.mkString(" ")), // exact dup of 1
        (3L, "entirely different content here"),
        (4L, "")), // empty doc: tokenless edge
      Seq((10L, (words.take(9) :+ "fresh").mkString(" ")), // near-dup of 1
        (11L, "completely unrelated novel document body"),
        (12L, "completely unrelated novel document body")), // exact dup of 11
      Seq((20L, (words.take(9) :+ "another").mkString(" ")), // near-dup of 1
        (21L, "third thing wholly distinct from all others")))
    def drive(gate: Int): (Seq[Long], Long) = {
      val dir = Files.createTempDirectory(s"graft_dedup_regime$gate").toString
      val stream = MemoryStream[(Long, String)](spark)
      val q = StreamPipeline.dedupOnIngest(
        stream.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/ck",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
        indexPath = Some(s"$dir/index"), microGate = gate)
      try {
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      } finally q.stop()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().sorted.toSeq
      val bandRows = spark.read.parquet(s"$dir/index/bands")
        .select("band", "band_key", "id", "sz").distinct().count()
      (ids, bandRows)
    }
    val (microIds, microBands) = drive(100000)
    val (distIds, distBands) = drive(0)
    assert(microIds == distIds, s"admitted sets differ: micro=$microIds dist=$distIds")
    assert(microBands == distBands, "index band rows differ between regimes")
    spark.catalog.clearCache()
  }

  test("dedup-on-ingest bootstraps the band index from a PRE-EXISTING corpus") {
    // The failure this pins: with indexPath set over a standing corpus
    // and no index yet, the index must be built from the CORPUS before
    // the first probe — if it were built from batch-1's novel docs
    // only, every later batch (which probes the index alone) would
    // silently re-admit near-dups of pre-existing corpus documents.
    val dir = Files.createTempDirectory("graft_ingest_dedup_ix").toString
    val words = (0 until 10).map(i => s"word$i")
    Seq((1L, words.mkString(" "), -1L), (3L, "entirely different content here", -1L))
      .toDF("doc_id", "text", "batch_id").write.parquet(s"$dir/corpus")
    val stream = MemoryStream[(Long, String)](spark)
    val q = StreamPipeline.dedupOnIngest(
      stream.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      indexPath = Some(s"$dir/index"))
    try {
      // batch 1: 10 near-dups corpus doc 1 (9/10 shared + 1 new ->
      // jaccard 9/11 >= 0.8) -> rejected via the bootstrapped index;
      // 11 novel -> admitted + appended to the index
      stream.addData(Seq(
        (10L, (words.take(9) :+ "fresh").mkString(" ")),
        (11L, "completely unrelated novel document body")))
      q.processAllAvailable()
      // batch 2 probes the INDEX only: 20 near-dups PRE-EXISTING doc 1
      // (re-admitted before the fix), 21 near-dups batch-1 novel 11,
      // 22 novel
      stream.addData(Seq(
        (20L, (words.take(9) :+ "another").mkString(" ")),
        (21L, "completely unrelated novel document body extra"),
        (22L, "third thing wholly distinct from all others")))
      q.processAllAvailable()
    } finally q.stop()
    val corpus = spark.read.parquet(s"$dir/corpus")
    assert(corpus.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 11L, 22L))
    spark.catalog.clearCache()
  }

  test("dedup-on-ingest survives a restart: state IS the corpus, no re-admits, no loss") {
    // the operator's dedup state is the corpus parquet itself (plus
    // the optional index), not streaming state — so a restarted query
    // must keep rejecting near-dups of docs admitted BEFORE the stop,
    // and must not double-append anything, purely from the store +
    // checkpointed offsets
    val srcDir = Files.createTempDirectory("graft_dedup_src").toString
    val dir = Files.createTempDirectory("graft_dedup_restart").toString
    val words = (0 until 10).map(i => s"word$i")
    def writeDocs(name: String, docs: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name),
        docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, text STRING")
    def startQuery() = StreamPipeline.dedupOnIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(srcDir),
      s"$dir/corpus", s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))

    writeDocs("b0.json", Seq(
      (1L, words.mkString(" ")),
      (3L, "entirely different content here")))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // while down: a near-dup of pre-stop doc 1, a novel doc
    writeDocs("b1.json", Seq(
      (10L, (words.take(9) :+ "fresh").mkString(" ")),
      (11L, "completely unrelated novel document body")))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val corpus = spark.read.parquet(s"$dir/corpus")
    assert(corpus.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 11L),
      "near-dup of a pre-restart doc must stay rejected; novel docs exactly once")
    spark.catalog.clearCache()
  }

  test("streaming contamination gate routes overlapping docs to the flagged sink") {
    val dir = Files.createTempDirectory("graft_contam_gate").toString
    val passage = (1 to 10).map(i => s"bench$i").mkString(" ") // 10 words -> 3 distinct 8-grams
    val bench = Seq(passage).toDF("text")
      .select(graft.functions.TextAnalysis.wordTokens(col("text")).as("words"))
      .select(explode(graft.functions.TextAnalysis.distinctNgrams(col("words"), 8)).as("gram"))
    val stream = MemoryStream[(Long, String)](spark)
    val q = StreamPipeline.contaminationGate(
      stream.toDF().toDF("doc_id", "text"), bench,
      s"$dir/clean", s"$dir/flagged", s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      stream.addData(Seq(
        (1L, "wholly clean document body with many distinct words one two three"),
        (2L, s"evil doc quoting the benchmark $passage verbatim"), // contains all its 8-grams
        (3L, "short doc"),                                         // < 8 words: no grams, clean
        (4L, (1 to 7).map(i => s"bench$i").mkString(" "))))        // 7-word prefix: no full 8-gram
      q.processAllAvailable()
    } finally q.stop()
    val clean = spark.read.parquet(s"$dir/clean").select("doc_id").as[Long].collect().sorted.toSeq
    val flagged = spark.read.parquet(s"$dir/flagged").select("doc_id").as[Long].collect().sorted.toSeq
    assert(clean == Seq(1L, 3L, 4L), s"clean=$clean")
    assert(flagged == Seq(2L), s"flagged=$flagged")
  }

  test("streaming block dedup == batch q142 rule on the accumulated corpus") {
    val dir = Files.createTempDirectory("graft_block_dedup").toString
    val bd = graft.operators.BlockDedup
    def blk64(c: Char) = c.toString * 64
    val (a, b, c64, d64, e30) = (blk64('a'), blk64('b'), blk64('c'), blk64('d'), "e" * 30)
    val batch1 = Seq((1L, a + b), (2L, a + c64))          // A dups within the batch
    val batch2 = Seq((3L, b + d64),                        // B seen in batch 1 -> store drop
                     (4L, e30),                            // sub-64 tail, novel
                     (5L, d64 + d64))                      // D first seen at doc 3 THIS batch
    val stream = MemoryStream[(Long, String)](spark)
    val q = StreamPipeline.blockDedupOnIngest(
      stream.toDF().toDF("doc_id", "text"),
      s"$dir/fps", s"$dir/clean", s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/clean")
      .select($"doc_id", $"text_clean")
    // designed expectations
    val got = streamed.as[(Long, String)].collect().toMap
    assert(got(1L) == a + b && got(2L) == c64 && got(3L) == d64 &&
      got(4L) == e30 && got(5L) == "", s"got=$got")
    // bitwise == the batch rule on the accumulated corpus (ids arrive
    // in increasing order, so first-arrival IS the global min pk)
    val union = (batch1 ++ batch2).toDF("doc_id", "text")
    val batchClean = bd.rebuild(union, col("doc_id"), col("text"),
        bd.keptOffsets(bd.blocks(union, col("doc_id"), col("text"))))
      .select($"id".as("doc_id"), $"clean".as("text_clean"))
    assert(streamed.exceptAll(batchClean).isEmpty && batchClean.exceptAll(streamed).isEmpty)
    // the store holds exactly the distinct block contents of the corpus
    val storeFps = spark.read.parquet(s"$dir/fps").select($"fp").distinct().count()
    val wantFps = bd.blocks(union, col("doc_id"), col("text"))
      .select($"fp").distinct().count()
    assert(storeFps == wantFps, s"store=$storeFps want=$wantFps")
  }

  test("streaming importance gate routes by the batch DSIR score (one code path)") {
    val dir = Files.createTempDirectory("graft_imp_gate").toString
    val d = graft.functions.Dsir
    // target corpus speaks (alpha, beta); raw corpus (zeta, eta)
    val train = Seq(
      (100L, true, "alpha beta alpha beta alpha beta gamma"),
      (101L, true, "beta alpha beta alpha delta"),
      (200L, false, "zeta eta zeta eta theta"),
      (201L, false, "eta zeta eta zeta iota")).toDF("doc_id", "is_t", "text")
    val lam = d.model(d.slots(train, col("doc_id"), col("text"), keep = Seq("is_t"))).cache()
    val docs = Seq(
      (1L, "alpha beta alpha beta"), // target-like -> keep
      (2L, "zeta eta zeta eta"),     // raw-like -> flag
      (3L, "solo"),                  // featureless -> score 0, flag
      (4L, "beta alpha beta"))       // target-like -> keep
    val stream = MemoryStream[(Long, String)](spark)
    val q = StreamPipeline.importanceGate(
      stream.toDF().toDF("doc_id", "text"), lam,
      s"$dir/keep", s"$dir/flagged", s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      stream.addData(docs.take(2))
      q.processAllAvailable()
      stream.addData(docs.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(s"$dir/keep")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val batchKeep = d.score(
        d.slots(docs.toDF("doc_id", "text"), col("doc_id"), col("text")), lam)
      .filter(col("keep")).select(col("id")).as[Long].collect().sorted.toSeq
    assert(kept == batchKeep, s"stream kept=$kept batch kept=$batchKeep")
    assert(kept == Seq(1L, 4L), s"kept=$kept")
    val flagged = spark.read.parquet(s"$dir/flagged")
    assert(flagged.select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // the featureless doc carries an explicit zero score, not a null
    assert(flagged.filter($"doc_id" === 3L).select("score_fp").as[Long].head() == 0L)
    lam.unpersist()
  }

  test("streaming panel maintenance converges to the batch q172 panel (one code path)") {
    val dir = Files.createTempDirectory("graft_panel").toString
    def ts(day: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-02-0$day%d 10:$m%02d:00")
    // two batches; batch 2 REVISES day 2 (late ticks) and opens day 3
    // — the maintainer must recompute both touched days from the full
    // store, not just the batch rows
    val b1 = Seq(
      (1L, ts(1, 0), 1L, "X", 10.0, """{"k": 5}"""),
      (2L, ts(1, 5), 1L, "X", 11.0, """{"k": 3}"""),
      (3L, ts(2, 0), 1L, "X", 9.0, """{"k": 2}"""),
      (4L, ts(1, 2), 1L, "Y", 20.0, """{"k": 7}"""))
    val b2 = Seq(
      (5L, ts(2, 9), 1L, "X", 12.0, """{"k": 4}"""),
      (6L, ts(3, 1), 1L, "Y", 21.0, """{"k": 1}"""),
      (7L, ts(2, 4), 1L, "Y", 19.0, """{"k": 6}"""))
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)](spark)
    val q = StreamPipeline.panelMaintain(
      stream.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      s"$dir/ticks", s"$dir/panel", s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/panel")
    val want = graft.operators.DailyPanel.compute(
      (b1 ++ b2).toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"panel diverged:\ngot ${got.collect().mkString("\n")}\nwant ${want.collect().mkString("\n")}")
    // late ticks really merged: day 2 X has both its ticks
    assert(got.filter($"event_type" === "X" && $"day" === java.sql.Date.valueOf("2024-02-02"))
      .select("n_ticks").as[Long].head() == 2L)
  }

  test("streaming adaptive quality gate routes by the batch q161 rule (one code path)") {
    val dir = Files.createTempDirectory("graft_aq_gate").toString
    val qg = graft.operators.QualityGate
    // reference corpus: srcA speaks long clean prose, srcB short noise
    val ref = Seq(
      (100L, "srcA", "the quick brown fox jumps over the lazy dog again and again with delight"),
      (101L, "srcA", "a calm clear morning by the river with birds and light wind in the trees"),
      (102L, "srcA", "good text of reasonable length and low punctuation for the gate to like"),
      (103L, "srcA", "plain words flow here"),
      (200L, "srcB", "ok"),
      (201L, "srcB", "!!! ??? ;;;"),
      (202L, "srcB", "fine short note"),
      (203L, "srcB", "x")).toDF("doc_id", "source", "text")
    val docs = Seq(
      (1L, "srcA", "the quick brown fox jumps over the lazy dog with energy and joy today"),
      (2L, "srcA", "hm"),                    // below srcA's P25 -> flagged
      (3L, "srcB", "fine short note again"), // above srcB's bar -> keep
      (4L, "srcNEW", "never seen source"),   // no cutoff -> keep (audited)
      (5L, "srcB", "... !!!"))               // unscorable/poor -> flagged
    val stream = MemoryStream[(Long, String, String)](spark)
    val q = StreamPipeline.adaptiveQualityGate(
      stream.toDF().toDF("doc_id", "source", "text"), ref,
      s"$dir/keep", s"$dir/flagged", s"$dir/ck",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      stream.addData(docs.take(2))
      q.processAllAvailable()
      stream.addData(docs.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(s"$dir/keep")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch form of the SAME rule on the same rows (known sources)
    val batchKept = qg.gate(
        qg.scored(docs.toDF("doc_id", "source", "text")),
        qg.cutoffs(qg.scored(ref)))
      .filter($"kept").select("doc_id").as[Long].collect().sorted.toSeq
    // identical decisions (gate() keeps null-cutoff sources on both
    // paths; the unscorable doc is absent from scored() and flagged
    // by the stream)
    assert(kept.toSet == batchKept.toSet, s"stream=$kept batch=$batchKept")
    val flagged = spark.read.parquet(s"$dir/flagged")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert((kept ++ flagged).sorted == docs.map(_._1).sorted, "every doc routed exactly once")
    // the unseen-source keep carries a null cutoff — the retrain signal
    assert(spark.read.parquet(s"$dir/keep").filter($"doc_id" === 4L)
      .filter($"q_cut_fp".isNull).count() == 1)
  }

  test("streaming bucket partials + derived windows == batch sliding windows") {
    val ticks = TickSource.ticks(spark, 400, startEpochSec = base, intervalSec = 2).collect().toSeq
    val stream = MemoryStream[RawTick](spark)
    val q = StreamPipeline.bucketPartials(Ingest.clean(stream.toDF()), watermark = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("buckets").start()
    try {
      stream.addData(ticks.map(r => RawTick(r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getString(3), r.getString(4), r.getDouble(5), r.getDouble(6), r.getString(7))))
      q.processAllAvailable()
      // flush ticks push the watermark past every real bucket
      stream.addData(Seq(RawTick("FLUSH", 1.0, 0, "0%", "1", 1, 1, isoPlus(base, 7200))))
      q.processAllAvailable()
      stream.addData(Seq(RawTick("FLUSH", 1.0, 0, "0%", "1", 1, 1, isoPlus(base, 7500))))
      q.processAllAvailable()

      val buckets = spark.table("buckets").filter($"symbol" =!= "FLUSH")
      val streamed = StreamPipeline.windowedMetrics(buckets)

      val cleanedBatch = Ingest.clean(TickSource.ticks(spark, 400, startEpochSec = base, intervalSec = 2))
      val batch = SlidingWindows.joined(cleanedBatch, col("symbol"), "symbol", col("timestamp"), col("price"))

      val j = streamed.alias("s").join(batch.alias("b"), Seq("symbol", "window_start"), "full_outer")
      assert(j.filter($"s.moving_avg_price_15m".isNull || $"b.moving_avg_price_15m".isNull).isEmpty,
        "window sets differ")
      val maxDiff = j.select(
        greatest(
          abs($"s.moving_avg_price_15m" - $"b.moving_avg_price_15m"),
          abs($"s.moving_avg_price_1h" - $"b.moving_avg_price_1h"),
          abs(coalesce($"s.price_volatility_15m", lit(0)) - coalesce($"b.price_volatility_15m", lit(0))),
          abs(coalesce($"s.price_volatility_1h", lit(0)) - coalesce($"b.price_volatility_1h", lit(0)))
        ).as("d")).agg(max($"d")).as[Double].head()
      assert(maxDiff < 1e-6, s"metric drift $maxDiff")
      // volume: streamed sums the volume column; compare against a
      // batch sliding-window sum over the same column
      val batchVol = SlidingWindows.metrics(cleanedBatch, col("symbol"), "symbol",
        col("timestamp"), col("volume"), "15 minutes", "5 minutes", "_15m")
        .select($"symbol", $"window_start", $"sum_value_15m")
      val jv = streamed.join(batchVol, Seq("symbol", "window_start"))
      val volDiff = jv.select(max(abs($"total_volume_15m" - $"sum_value_15m"))).as[Double].head()
      assert(volDiff < 1e-6)
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from finalized buckets") {
    val stream = MemoryStream[RawTick](spark)
    val q = StreamPipeline.bucketPartials(Ingest.clean(stream.toDF()), watermark = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("late_buckets").start()
    try {
      def tick(sym: String, off: Long): RawTick =
        RawTick(sym, 10.0, 0, "0%", "1", 10, 10, isoPlus(base, off))
      stream.addData(Seq(tick("A", 0), tick("A", 60))) // bucket [0,300)
      q.processAllAvailable()
      stream.addData(Seq(tick("A", 3600))) // watermark -> 3540
      q.processAllAvailable()
      stream.addData(Seq(tick("A", 10))) // LATE: before watermark, dropped
      stream.addData(Seq(tick("A", 7200), tick("A", 7500))) // flush
      q.processAllAvailable()
      val n = spark.table("late_buckets").filter($"bucket_start" === base).select($"n").as[Long].head()
      assert(n == 2L, "late tick must not be counted")
    } finally q.stop()
  }

  test("foreachBatch bucket store: replay-safe read via batch_id dedup") {
    val dir = Files.createTempDirectory("graft_buckets").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val stream = MemoryStream[RawTick](spark)
    val q = StreamPipeline.run(Ingest.clean(stream.toDF()), dir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      def tick(off: Long): RawTick = RawTick("A", 10.0, 0, "0%", "1", 10, 10, isoPlus(base, off))
      stream.addData((0 until 10).map(i => tick(i * 30L)))
      q.processAllAvailable()
      stream.addData(Seq(tick(7200), tick(7500)))
      q.processAllAvailable()
      val buckets = StreamPipeline.readBuckets(spark, dir).filter($"symbol" === "A")
      assert(buckets.count() == buckets.select("symbol", "bucket_start").distinct().count())
      assert(buckets.agg(sum($"n")).as[Long].head() == 10L)
      // simulate a replayed micro-batch: duplicate files with a higher batch_id
      StreamPipeline.appendBuckets(spark.read.parquet(dir).withColumn("batch_id", lit(99L)),
        dir)
      val reread = StreamPipeline.readBuckets(spark, dir).filter($"symbol" === "A")
      assert(reread.agg(sum($"n")).as[Long].head() == 10L, "replay must not double-count")
    } finally q.stop()
  }

  test("dead letters capture null-symbol and unparseable-timestamp rows") {
    val raw = Seq(
      RawTick("AAPL", 10.0, 0, "1%", "5", 9, 11, "2024-01-01T00:00:10"),
      RawTick("MSFT", 10.0, 0, "1%", "5", 9, 11, "not-a-timestamp"),
      RawTick("", 10.0, 0, "1%", "5", 9, 11, "2024-01-01T00:00:12")
    ).toDF()
    val dead = Ingest.deadLetters(raw)
    assert(dead.count() == 2)
    assert(dead.select("timestamp").as[String].collect().toSet ==
      Set("not-a-timestamp", "2024-01-01T00:00:12")) // raw values preserved for replay
    // clean + dead partition the input: nothing silently lost
    val cleanedOk = Ingest.clean(raw).filter($"timestamp".isNotNull && $"symbol" =!= "")
    assert(cleanedOk.count() + dead.count() == 3)
    // and the windowed aggregate only ever sees the clean rows
    val buckets = StreamPipeline.bucketAgg(Ingest.clean(raw))
    assert(buckets.filter($"bucket_start".isNull).isEmpty)
    assert(buckets.agg(sum($"n")).as[Long].head() == 1L)
  }

  test("bucket partials run on the RocksDB state store (100 TB state path)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[RawTick](spark)
      val q = StreamPipeline.bucketPartials(Ingest.clean(stream.toDF()), watermark = "1 minute")
        .writeStream.outputMode("append").format("memory").queryName("rocks_buckets").start()
      try {
        def tick(off: Long): RawTick = RawTick("A", 10.0, 0, "0%", "2", 10, 10, isoPlus(base, off))
        stream.addData((0 until 6).map(i => tick(i * 30L)))
        q.processAllAvailable()
        stream.addData(Seq(tick(7200), tick(7500)))
        q.processAllAvailable()
        val row = spark.table("rocks_buckets").filter($"bucket_start" === base).head()
        assert(row.getAs[Long]("n") == 6L && row.getAs[Long]("vol_sum") == 12L)
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpoint recovery: restart continues from offset, no loss or double-count") {
    // file source (replayable, unlike MemoryStream) + the real bucket
    // store: stop the query mid-stream, add data, RESTART with the
    // same checkpoint — the second incarnation must pick up from the
    // recorded offset and the store must hold each tick exactly once
    val srcDir = Files.createTempDirectory("graft_src").toString
    val bucketDir = Files.createTempDirectory("graft_rec_buckets").toString
    val ckpt = Files.createTempDirectory("graft_rec_ckpt").toString
    def writeBatch(name: String, offs: Seq[Long]): Unit = {
      val lines = offs.map(o =>
        s"""{"symbol":"A","price":10.0,"change":0.0,"percent_change":"0%","volume":"1","today_low":10.0,"today_high":10.0,"timestamp":"${isoPlus(base, o)}"}""")
      Files.write(java.nio.file.Paths.get(srcDir, name), lines.mkString("\n").getBytes)
    }
    def startQuery() = StreamPipeline.run(
      Ingest.clean(spark.readStream.schema(Ingest.rawSchema).option("maxFilesPerTrigger", "1").json(srcDir)),
      bucketDir, ckpt, trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))

    writeBatch("b0.json", (0 until 5).map(_ * 30L))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // while down: more ticks in the same bucket + the watermark flush
    writeBatch("b1.json", (5 until 10).map(_ * 30L))
    writeBatch("b2.json", Seq(7200L, 7500L))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val buckets = StreamPipeline.readBuckets(spark, bucketDir).filter($"bucket_start" === base)
    assert(buckets.select(sum($"n")).as[Long].head() == 10L, "each tick exactly once across restart")
  }

  test("versioned warehouse sink: one version per batch, exactly-once across restart") {
    val srcDir = Files.createTempDirectory("graft_vsrc").toString
    val tableRoot = Files.createTempDirectory("graft_vtab").toString
    val ckpt = Files.createTempDirectory("graft_vckpt").toString
    def writeBatch(name: String, sym: String, price: Double): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name),
        s"""{"symbol":"$sym","price":$price,"change":0.0,"percent_change":"0%","volume":"1","today_low":$price,"today_high":$price,"timestamp":"${isoPlus(base, 0)}"}""".getBytes)
    def startQuery() = StreamPipeline.runVersioned(
      Ingest.clean(spark.readStream.schema(Ingest.rawSchema).option("maxFilesPerTrigger", "1").json(srcDir)),
      tableRoot, ckpt, keys = Seq("symbol"), orderCol = "timestamp",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))

    writeBatch("b0.json", "A", 10.0)
    writeBatch("b1.json", "B", 20.0)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val conf = spark.sparkContext.hadoopConfiguration
    val afterFirst = graft.batch.VersionedTable.versions(conf, tableRoot)
    assert(afterFirst.size == 2, s"one version per micro-batch, got $afterFirst")

    // while down: a price update for A; restart must merge it exactly
    // once and never re-commit the recovered batches
    writeBatch("b2.json", "A", 11.0)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(graft.batch.VersionedTable.versions(conf, tableRoot).size == 3)
    val now = graft.batch.VersionedTable.read(spark, tableRoot)
      .select($"symbol", $"price").as[(String, Double)].collect().toMap
    assert(now == Map("A" -> 11.0, "B" -> 20.0), s"got $now")
    // time travel: the pre-update state is still readable
    val v2 = graft.batch.VersionedTable.read(spark, tableRoot, Some(afterFirst.last))
      .select($"symbol", $"price").as[(String, Double)].collect().toMap
    assert(v2 == Map("A" -> 10.0, "B" -> 20.0), s"got $v2")
  }

  test("versioned sink lifecycle: schema evolution + keyed delete mid-stream + restart, every version serves") {
    // A real warehouse table sees all three on ONE table across
    // restarts: upstream adds a column (operating condition, not an
    // error), a GDPR keyed delete lands between batches, and the
    // stream resumes from its checkpoint. Every committed version
    // must keep serving in the schema it was committed with.
    val srcDir = Files.createTempDirectory("graft_evsrc").toString
    val tableRoot = Files.createTempDirectory("graft_evtab").toString
    val ckpt = Files.createTempDirectory("graft_evckpt").toString
    def writeDoc(name: String, json: String): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name), json.getBytes)
    def start(ddl: String) = StreamPipeline.runVersioned(
      spark.readStream.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .option("maxFilesPerTrigger", "1").json(srcDir),
      tableRoot, ckpt, keys = Seq("symbol"), orderCol = "ts",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0), evolve = true)
    val conf = spark.sparkContext.hadoopConfiguration

    // phase 1: two batches under the v1 producer schema (each file
    // written while the query is live — deterministic batch order)
    writeDoc("b0.json", """{"symbol":"AAA","price":10.0,"ts":1}""")
    val q1 = start("symbol STRING, price DOUBLE, ts LONG")
    try {
      q1.processAllAvailable()
      writeDoc("b1.json", """{"symbol":"BBB","price":20.0,"ts":2}""")
      q1.processAllAvailable()
    } finally q1.stop()
    val phase1 = graft.batch.VersionedTable.versions(conf, tableRoot)
    assert(phase1.size == 2, s"one version per batch, got $phase1")

    // mid-stream keyed delete (right-to-be-forgotten): BBB leaves the
    // head as a NEW version; history keeps serving it until vacuum
    graft.batch.VersionedTable.deleteKeys(spark, tableRoot, Seq("symbol"),
      Seq("BBB").toDF("symbol"))
    assert(graft.batch.VersionedTable.read(spark, tableRoot)
      .select($"symbol").as[String].collect().toSeq == Seq("AAA"))

    // phase 2: restart with the EVOLVED producer schema (added venue)
    writeDoc("b2.json", """{"symbol":"AAA","price":11.0,"ts":3,"venue":"X"}""")
    val q2 = start("symbol STRING, price DOUBLE, ts LONG, venue STRING")
    try {
      q2.processAllAvailable()
      writeDoc("b3.json", """{"symbol":"CCC","price":30.0,"ts":4,"venue":"Y"}""")
      q2.processAllAvailable()
    } finally q2.stop()
    val vs = graft.batch.VersionedTable.versions(conf, tableRoot)
    assert(vs.size == 5, s"2 merges + delete + 2 evolved merges, got $vs")

    // head: evolved schema, delete respected, old row reads null venue
    val head = graft.batch.VersionedTable.read(spark, tableRoot)
    assert(head.columns.contains("venue"))
    val now = head.select($"symbol", $"price", $"venue")
      .as[(String, Double, Option[String])].collect()
      .map { case (s, p, v) => s -> ((p, v)) }.toMap
    assert(now.keySet == Set("AAA", "CCC") &&
      now("AAA") == (11.0, Some("X")) && now("CCC") == (30.0, Some("Y")), s"got $now")

    // time travel: each version serves in ITS schema
    def stateAt(v: Long): Map[String, Double] =
      graft.batch.VersionedTable.read(spark, tableRoot, Some(v))
        .select($"symbol", $"price").as[(String, Double)].collect().toMap
    assert(stateAt(vs(0)) == Map("AAA" -> 10.0))
    assert(stateAt(vs(1)) == Map("AAA" -> 10.0, "BBB" -> 20.0))
    assert(stateAt(vs(2)) == Map("AAA" -> 10.0), "delete version must drop BBB")
    assert(!graft.batch.VersionedTable.read(spark, tableRoot, Some(vs(2)))
      .columns.contains("venue"), "pre-evolution versions keep the old schema")
    assert(stateAt(vs(3)) == Map("AAA" -> 11.0))
    assert(stateAt(vs(4)) == Map("AAA" -> 11.0, "CCC" -> 30.0))

    // vacuum completes the GDPR story: retain the last 2 versions and
    // BBB's bytes actually leave disk — the pre-delete versions stop
    // serving, the head still does, exactly once more
    val reclaimed = graft.batch.VersionedTable.vacuum(spark, tableRoot, retainLast = 2)
    assert(reclaimed.nonEmpty, "vacuum must reclaim the dropped versions' files")
    assert(graft.batch.VersionedTable.versions(conf, tableRoot) == vs.takeRight(2))
    intercept[Exception] {
      graft.batch.VersionedTable.read(spark, tableRoot, Some(vs(1))).collect()
    }
    assert(stateAt(vs(4)) == Map("AAA" -> 11.0, "CCC" -> 30.0))
  }

  test("anomaly alerts: only the history-deviant tick fires, stats match batch") {
    val bucketDir = Files.createTempDirectory("graft_anom_buckets").toString
    val alertDir = Files.createTempDirectory("graft_anom_alerts").toString + "/out"
    // standing history: prices 10±1 for A (written via the real bucket path)
    val hist = MemoryStream[RawTick](spark)
    def tick(off: Long, price: Double): RawTick =
      RawTick("A", price, 0, "0%", "1", price, price, isoPlus(base, off))
    val qh = StreamPipeline.run(Ingest.clean(hist.toDF()), bucketDir,
      Files.createTempDirectory("graft_anom_ck1").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      hist.addData((0 until 20).map(i => tick(i * 30L, 10.0 + (i % 3) - 1)))
      hist.addData(Seq(tick(7200L, 10.0))) // flush the watermark
      qh.processAllAvailable()
    } finally qh.stop()

    // probe stream: one normal tick, one 5-sigma outlier
    val probe = MemoryStream[RawTick](spark)
    val qa = StreamPipeline.anomalyAlerts(Ingest.clean(probe.toDF()), bucketDir,
      Files.createTempDirectory("graft_anom_ck2").toString, alertDir, kSigma = 2.0,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      probe.addData(Seq(tick(9000L, 10.5), tick(9030L, 25.0)))
      qa.processAllAvailable()
    } finally qa.stop()

    val alerts = spark.read.parquet(alertDir).select($"price").as[Double].collect().toSeq
    assert(alerts == Seq(25.0), s"only the outlier fires, got $alerts")
    // stats in the alert row equal the batch-side fold of the store
    val (mu, sd) = spark.read.parquet(alertDir).select($"mu", $"sd").as[(Double, Double)].head()
    val hb = StreamPipeline.readBuckets(spark, bucketDir)
      .agg(sum($"n").as("hn"), sum($"price_sum").as("s1"), sum($"price_sum2").as("s2")).head()
    val (hn, s1, s2) = (hb.getLong(0), hb.getDecimal(1).doubleValue(), hb.getDecimal(2).doubleValue())
    val muB = s1 / hn
    val sdB = math.sqrt(((s2 - s1 * s1 / hn) / (hn - 1)).max(0d))
    assert(math.abs(mu - muB) < 1e-9 && math.abs(sd - sdB) < 1e-9)
  }

  test("stream-stream enrichment: time-bounded tick x quote inner join") {
    case class Quote(qsymbol: String, qts: java.sql.Timestamp, bid: Double)
    def ts(off: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(base + off))
    val ticks = MemoryStream[RawTick](spark)
    val quotes = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    val enriched = StreamPipeline.enrichWithQuotes(
      Ingest.clean(ticks.toDF()),
      quotes.toDF().toDF("qsymbol", "qts", "bid"),
      joinWindow = "10 minutes")
    val q = enriched.writeStream.outputMode("append").format("memory").queryName("enriched").start()
    try {
      def tick(sym: String, off: Long): RawTick =
        RawTick(sym, 10.0, 0, "0%", "1", 10, 10, isoPlus(base, off))
      // quote 100s before the tick (in window), quote 700s before
      // (j > 10min, out), quote after the tick (out), other symbol (out)
      quotes.addData(Seq(("A", ts(500), 1.0), ("A", ts(-100), 2.0), ("A", ts(700), 3.0), ("B", ts(550), 4.0)))
      ticks.addData(Seq(tick("A", 600)))
      q.processAllAvailable()
      val got = spark.table("enriched").select($"symbol", $"bid").as[(String, Double)].collect().toSet
      assert(got == Set(("A", 1.0)), s"got $got")
      // late flush so the suite leaves no lingering state pressure
      ticks.addData(Seq(tick("A", 7200)))
      q.processAllAvailable()
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER enrichment: unmatched ticks emit nulls after watermark") {
    def ts(off: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(base + off))
    val ticks = MemoryStream[RawTick](spark)
    val quotes = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    val enriched = StreamPipeline.enrichWithQuotes(
      Ingest.clean(ticks.toDF()),
      quotes.toDF().toDF("qsymbol", "qts", "bid"),
      joinWindow = "10 minutes", joinType = "left_outer")
    val q = enriched.writeStream.outputMode("append").format("memory").queryName("enriched_lo").start()
    try {
      def tick(sym: String, off: Long): RawTick =
        RawTick(sym, 10.0, 0, "0%", "1", 10, 10, isoPlus(base, off))
      // A has a quote in-window; B has none at all
      quotes.addData(Seq(("A", ts(500), 1.0)))
      ticks.addData(Seq(tick("A", 600), tick("B", 600)))
      q.processAllAvailable()
      // B's null row may only emit once the watermark proves no quote
      // can still arrive — push both watermarks far past 600+10m
      quotes.addData(Seq(("Z", ts(7200), 9.0)))
      ticks.addData(Seq(tick("Z", 7200)))
      q.processAllAvailable()
      quotes.addData(Seq(("Z", ts(7800), 9.0)))
      ticks.addData(Seq(tick("Z", 7800)))
      q.processAllAvailable()
      val got = spark.table("enriched_lo").filter($"symbol".isin("A", "B"))
        .select($"symbol", $"bid").as[(String, Option[Double])].collect().toSet
      assert(got == Set(("A", Some(1.0)), ("B", None)), s"got $got")
    } finally q.stop()
  }

  test("streaming dedup within watermark: redelivered keys collapse, state stays bounded") {
    val ticks = MemoryStream[RawTick](spark)
    // key = (symbol, timestamp): the wire-replay identity of a tick
    val deduped = StreamPipeline.dedupEvents(
      Ingest.clean(ticks.toDF()), Seq("symbol", "timestamp"), "timestamp", delay = "10 minutes")
    val q = deduped.writeStream.outputMode("append").format("memory").queryName("dedup_ev").start()
    try {
      def tick(sym: String, off: Long, price: Double): RawTick =
        RawTick(sym, price, 0, "0%", "1", price, price, isoPlus(base, off))
      // same key three times in one batch (price differs: first wins)
      ticks.addData(Seq(tick("A", 0, 1.0), tick("A", 0, 2.0), tick("B", 0, 3.0)))
      q.processAllAvailable()
      // same key again in a later batch, still within the horizon
      ticks.addData(Seq(tick("A", 0, 4.0), tick("A", 60, 5.0)))
      q.processAllAvailable()
      val got = spark.table("dedup_ev").groupBy($"symbol").count()
        .as[(String, Long)].collect().toMap
      assert(got == Map("A" -> 2L, "B" -> 1L), s"got $got") // A@0 once, A@60 once
    } finally q.stop()
  }

  test("transitionMaintain: cross-batch boundary transitions and gap cuts equal batch q185 exactly; replay-idempotent") {
    val dir = Files.createTempDirectory("graft_trans").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // batch 1: u7 view@0 -> click@1 (one in-batch transition);
    //          u8 view@0 (no transition yet)
    // batch 2: u7 view@2 (BOUNDARY click->view, 1-min gap) then
    //          purchase@45 (43-min gap: cut); u8 click@40 (40-min
    //          gap from its carry: cut — no boundary transition)
    val b1 = Seq((7L, ts(0), 1L, "view"), (7L, ts(1), 2L, "click"), (8L, ts(0), 3L, "view"))
    val b2 = Seq((7L, ts(2), 4L, "view"), (7L, ts(45), 5L, "purchase"), (8L, ts(40), 6L, "click"))
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val q = StreamPipeline.transitionMaintain(
      stream.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      s"$dir/counts", s"$dir/carry", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      def countsMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
          r.getAs[Long]("n_trans")).toMap
      val streamed = countsMap(spark.read.parquet(s"$dir/counts"))
      assert(streamed == Map(("view", "click") -> 1L, ("click", "view") -> 1L),
        s"streamed: $streamed")
      // the exact q185 code path over the union feed must agree
      val whole = (b1 ++ b2).toDF("user_id", "ts", "event_id", "event_type")
      assert(streamed == countsMap(graft.operators.Transitions.counts(whole)))
      // replaying batch 1 (its marker is gone after batch 2's swap,
      // but foreachBatch only replays the LATEST batch) — replay the
      // latest id: a no-op on both stores
      val beforeC = spark.read.parquet(s"$dir/counts").collect().toSet
      val beforeK = spark.read.parquet(s"$dir/carry").collect().toSet
      StreamPipeline.transitionBatch(
        b2.toDF("user_id", "ts", "event_id", "event_type"),
        s"$dir/counts", s"$dir/carry", batchId = 1L)
      assert(spark.read.parquet(s"$dir/counts").collect().toSet == beforeC)
      assert(spark.read.parquet(s"$dir/carry").collect().toSet == beforeK)
      // real feed: stream the sf0.001 events in 3 event-time-ordered
      // chunks; maintained counts must equal q185's n_trans exactly
      val ev = graft.core.Tables.events(spark, sf())
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .orderBy($"ts", $"event_id")
        .as[(Long, java.sql.Timestamp, Long, String)].collect().toSeq
      val dir2 = Files.createTempDirectory("graft_trans2").toString
      val s2 = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
      val q2 = StreamPipeline.transitionMaintain(
        s2.toDF().toDF("user_id", "ts", "event_id", "event_type"),
        s"$dir2/counts", s"$dir2/carry", s"$dir2/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      try {
        ev.grouped((ev.size + 2) / 3).foreach { c => s2.addData(c); q2.processAllAvailable() }
        val got = countsMap(spark.read.parquet(s"$dir2/counts"))
        val want = SparkEntry.queries("q185_transitions")(spark, sf()).collect()
          .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
            r.getAs[Long]("n_trans")).toMap
        assert(got == want, "streamed matrix must equal the declared q185 counts")
        // ...and the PageRank serve over the maintained store must be
        // bitwise the declared q200 (shared pagerankFromCounts closing)
        def prMap(rows: Array[org.apache.spark.sql.Row]) = rows
          .map(r => r.getAs[String]("state") ->
            (r.getAs[Long]("out_trans"), r.getAs[Double]("pagerank"))).toMap
        val served = prMap(StreamPipeline.pagerankServe(spark, s"$dir2/counts").collect())
        val declared = prMap(SparkEntry.queries("q200_pagerank_nav")(spark, sf()).collect())
        assert(served == declared,
          s"PageRank served from the maintained store diverges: $served vs $declared")
      } finally q2.stop()
    } finally q.stop()
  }
}
