package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Scale probe: replicates sf0.1 facts `reps`x in /tmp parquet and
  * re-runs headline aggregate/join shapes on the same plans, printing
  * wall-clock AND the shuffle economy (bytes written/read, spill) per
  * query — the evidence for the would-it-survive-100x question.
  *
  *   runMain graft.ScaleProbe           # 10x, the broad battery
  *   runMain graft.ScaleProbe 100       # 100x (~60M lineitem, ~500k
  *                                      # docs), the shuffle-heavy tail
  *   runMain graft.ScaleProbe 100 q48_dedup_clusters,q22_minhash_pairs
  *
  * Ids offset per replica so key cardinality scales with volume;
  * document TEXTS replicate verbatim (only ids move) — every doc
  * gains reps-1 byte-identical copies, the adversarial dedup regime
  * where candidate pairs grow quadratically in reps unless the
  * canonical-set collapse does its job.
  */
object ScaleProbe {

  /** Aggregated across stages between reset() calls. `maxTask` is the
    * longest single task — the skew/serialization witness: a
    * dominant-key window plan can post a fine wall-clock on a small
    * probe while one task carries half the feed; maxTask exposes the
    * part that does NOT parallelize when volume grows. */
  private final class ShuffleMeter extends SparkListener {
    val write = new AtomicLong; val read = new AtomicLong; val spill = new AtomicLong
    val maxTask = new AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    // SPARK_GRAFT_STAGES=1: per-stage task histograms — attributes a
    // probe's maxTask to its stage (skew audit: a hot LSH bucket shows
    // as maxTask >> median WITHIN one shuffle stage; a scan-layout
    // artifact shows as a scan stage whose EVERY task is long)
    private val stageDetail = sys.env.contains("SPARK_GRAFT_STAGES")
    private val taskDurs =
      new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    private val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (te.taskInfo != null) {
        maxTask.getAndUpdate(m => math.max(m, te.taskInfo.duration))
        if (stageDetail)
          taskDurs.computeIfAbsent(te.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
            .add(te.taskInfo.duration)
      }
    def dumpStages(label: String): Unit = if (stageDetail) {
      import scala.jdk.CollectionConverters._
      taskDurs.asScala.toSeq.sortBy(_._1).foreach { case (sid, q) =>
        val ds = q.asScala.toSeq.sorted
        if (ds.nonEmpty && ds.last >= 1000L) { // only stages with a >=1s task
          val name = Option(stageNames.get(sid)).getOrElse("?")
          println(f"[stage] $label stage=$sid n=${ds.size} " +
            f"med=${ds(ds.size / 2) / 1e3}%.1f s max=${ds.last / 1e3}%.1f s  $name")
        }
      }
    }
    def reset(): Unit = {
      write.set(0); read.set(0); spill.set(0); maxTask.set(0)
      taskDurs.clear(); stageNames.clear()
    }
    override def onStageSubmitted(ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      if (stageDetail && ss.stageInfo != null)
        stageNames.put(ss.stageInfo.stageId, ss.stageInfo.name.take(120))
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(10)
    val only = args.drop(1).headOption.map(_.split(",").map(_.trim).toSet)
    val spark = core.GraftSession("scaleprobe", 32)
    // SPARK_GRAFT_SPLITMB=16: shrink file-split size. The replica
    // layout writes a handful of fat parquet files, so scan-heavy
    // stages run ~25 uniform tasks (med ≈ max in the stage
    // histograms — layout-bound, NOT logical skew); finer splits are
    // what a real 100 TB layout has thousands of anyway. This knob
    // measures that remedy without rewriting the replicas.
    sys.env.get("SPARK_GRAFT_SPLITMB").foreach(mb =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", s"${mb}m"))
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_sfx$reps"

    def replicate(table: String, idCols: Seq[String], offset: Long): Unit = {
      val base = core.Tables(spark, src, table)
      val out = (0 until reps).map { r =>
        idCols.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(r * offset)))
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }
    // SPARK_GRAFT_REUSE=1: skip replication when the replica dir is
    // already on disk from a prior probe run (saves ~6 min at 100x
    // when iterating on query plans, not on the replication itself)
    val dstS = s"$dst-salted"
    // reuse probes the WANTED fact set (under SPARK_GRAFT_TABLES the
    // default lineitem sentinel may legitimately be absent)
    val reuseSentinels = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq("lineitem"))
    val reuse = sys.env.contains("SPARK_GRAFT_REUSE") &&
      reuseSentinels.forall(t => new java.io.File(s"$dst/$t.parquet").exists())
    val t0 = System.nanoTime()
    // SPARK_GRAFT_TABLES=events,orders — replicate only the named
    // fact tables (round-16: a 1000x probe of one grid query needs
    // two facts, and a 1000-branch union per unneeded table is the
    // dominant build cost). Default: all facts, as before.
    val wantTables = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").map(_.trim).toSet)
    def want(t: String) = wantTables.forall(_.contains(t))
    if (!reuse) {
    if (want("lineitem")) replicate("lineitem", Seq("l_orderkey"), 100000000L)
    if (want("orders")) replicate("orders", Seq("o_orderkey"), 100000000L) // o_custkey stays -> joins fan out per replica
    if (want("events")) replicate("events", Seq("event_id"), 100000000L)
    // texts replicate VERBATIM (only ids offset): every doc gains
    // reps-1 byte-identical copies — the adversarial dedup regime
    if (want("documents")) replicate("documents", Seq("doc_id"), 100000000L)
    if (want("embeddings")) replicate("embeddings", Seq("vec_id"), 100000000L) // queries (vec_id<10) stay 10
    // SALTED document corpus for the pair-LISTING queries: every 3rd
    // token is replaced by a replica-specific salt, so EVERY 3-gram
    // shingle contains a salt and cross-replica jaccard collapses to
    // ~0 (a 1-in-4 salt leaves 25% of shingles shared — jaccard 0.14,
    // which is adversarially MORE self-similar than a real corpus and
    // inflates LSH candidate collisions ~1000x; measured 201 s at
    // 10x). Within-replica near-dup pairs survive (both members get
    // the same positional salts) — content genuinely GROWS with
    // volume and pair density stays ~1x per replica. Verbatim replication is
    // the right adversary for cluster/survivor queries (their output
    // stays linear — sets collapse), but it SQUARES the true pair
    // count of a pair-listing query: sf0.1 already holds ~3M real
    // near-dup pairs, so 100 verbatim copies make ~30 BILLION correct
    // output rows — an output-cardinality fact about the question
    // asked, not a plan defect. (A light salt is not enough either: a
    // doc plus one appended token is still a 0.94-jaccard near-dup of
    // its source.)
    if (want("documents")) {
      val base = core.Tables(spark, src, "documents")
      (0 until reps).map { r =>
        base.withColumn("doc_id", col("doc_id") + lit(r * 100000000L))
          .withColumn("text", expr(
            s"array_join(transform(regexp_extract_all(lower(text), '[a-z0-9]+', 0), (t, i) -> IF(i % 3 = 0, concat('s$r', 'x', i), t)), ' ')"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dstS/documents.parquet")
    }
    // dims copy verbatim: they stay dim-sized at any fact scale
    Seq("customer", "nation", "supplier", "part", "region").foreach { t =>
      core.Tables(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    }
    println(f"[scale] replicate x$reps ${(System.nanoTime() - t0) / 1e9}%.1f s reused=$reuse")
    // host calibration next to every probe row (round-13 Next #2:
    // PROBE100 wall-clocks are only comparable across rounds with the
    // host state pinned alongside them)
    // thread count = the REAL core count (not a hardcoded 32): on any
    // other host a fixed 32 conflates core count with throttling in
    // allcore_ratio; the count is printed inside the line so readers
    // know what the ratio was measured against.
    val probeCanaryThreads = Runtime.getRuntime.availableProcessors
    println("[scale] " + HostCanary.line("PROBE_HOST", probeCanaryThreads))

    // noop sink: full materialization, no column pruning of the
    // aggregates under measurement (same action as Bench)
    def time(label: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      if (only.forall(_.exists(label.contains))) {
        meter.reset()
        val t = System.nanoTime()
        // r16 advice: under SPARK_GRAFT_TABLES a query whose fact was
        // not replicated has no parquet to read — report and continue
        // instead of killing the whole probe run on the first miss
        try {
          df.write.format("noop").mode("overwrite").save()
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(s"[scale] $label@${reps}x SKIPPED (${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160)})")
            spark.catalog.clearCache(); System.gc()
            return
        }
        println(f"[scale] $label@${reps}x time=${(System.nanoTime() - t) / 1e9}%.2f s " +
          f"shufW=${meter.write.get / 1e6}%.1f MB shufR=${meter.read.get / 1e6}%.1f MB " +
          f"spill=${meter.spill.get / 1e6}%.1f MB maxTask=${meter.maxTask.get / 1e3}%.1f s")
        meter.dumpStages(label)
        // release caller-owned persists (phraseVocab et al. — queries
        // whose RETURNED frame is lazy can't unpersist internally
        // without losing the cache before evaluation): same isolation
        // convention as Bench's per-query clearCache + GC.
        spark.catalog.clearCache()
        System.gc()
      }
    def q(name: String)(implicit d: String = dst) = SparkEntry.queries(name)(spark, d)

    // --- the shuffle-heavy tail (the 100x set) ---
    time("q13_tpch_q1") { q("q13_tpch_q1") }
    time("q07_window_15m") { q("q07_window_15m") }
    // 4-way join+agg: lineitem x orders with dims from sf0.1
    // (lazy: under SPARK_GRAFT_TABLES a skipped fact has no replica
    // file, and an eager read here would fail the whole probe run)
    lazy val l = core.Tables.parquet(spark, s"$dst/lineitem.parquet")
    lazy val o = core.Tables.parquet(spark, s"$dst/orders.parquet")
    lazy val cst = core.Tables.customer(spark, src)
    lazy val nat = core.Tables.nation(spark, src)
    time("q14_join_agg") {
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(cst, o("o_custkey") === cst("c_custkey"))
        .join(broadcast(nat), cst("c_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"), count(lit(1)))
    }
    // pair LISTINGS on the salted (content-growing) corpus — output
    // scales linearly, like a real corpus; see replicate() comment.
    // q47 (3-gram-shingle minhash) is the scale representative, NOT
    // q22: q22 ranks WORD-SET jaccard, and this corpus draws from a
    // ~30-word vocabulary, so ~25% of ALL doc pairs are true >=0.8
    // near-dups (2.97M of 12.5M at 1x) and the mass just under the
    // threshold (j~0.5-0.8) collides in bands at ~0.5^4 x 32 = 86%
    // per pair — candidate verification is Theta(n^2) because the
    // ANSWER is Theta(n^2) on this vocabulary (measured: 253 s at a
    // salted 10x, ~1e9 candidates). Shingle space is rich, so q47
    // has none of that degeneracy.
    time("q47_shingle_minhash") { SparkEntry.queries("q47_shingle_minhash")(spark, dstS) }
    time("q59_fuzzy_lsh") { SparkEntry.queries("q59_fuzzy_lsh")(spark, dstS) }
    // cluster/survivor queries on the VERBATIM replicas — the
    // adversarial duplication regime their set-collapse absorbs
    time("q48_dedup_clusters") { q("q48_dedup_clusters") }
    time("q67_dedup_corpus") { q("q67_dedup_corpus") }
    // the fuzzy family's cluster/survivor twins: VERBATIM replicas —
    // the exact regime where q59's pair LISTING output goes quadratic
    // (~30B doc pairs at 100x), but the set-granular CC stays linear:
    // 100 byte-identical copies collapse to ONE prefix node before
    // the LSH, and the output is one row per doc
    time("q213_fuzzy_clusters") { q("q213_fuzzy_clusters") }
    time("q214_fuzzy_survivors") { q("q214_fuzzy_survivors") }
    time("q86_heavy_hitters") { q("q86_heavy_hitters") }
    time("q91_boilerplate") { q("q91_boilerplate") }
    // round-7 additions. q108's window partitions on event_type — FIVE
    // keys here, so at 100x each task sorts ~2M rows: the honest
    // skew fact about per-instrument windows on a 5-instrument feed (a
    // real market feed has thousands of symbols = thousands-way
    // parallelism at the same per-key volume). q110/q105 claim
    // volume-independent post-shuffle state (fixed bin grid / 64-row
    // sketches); q111 is the zero-shuffle scan anchor; q104 is the
    // full PQ train+encode+serve pipeline whose fan-out scales with
    // corpus x cells.
    time("q108_rolling_bands") { q("q108_rolling_bands") }
    // q109 rides ChunkedFrame.withRunningMax since round 9 — the
    // running peak evaluates keys x hour-chunks wide, not one task
    // per event type (the pre-fix shape was the q108 ceiling). The
    // _direct entry measures the PRE-FIX bare-key window on the same
    // data for the BASELINE.md before/after row.
    time("q109_drawdown") { q("q109_drawdown") }
    time("q109_direct_window") {
      import org.apache.spark.sql.expressions.Window
      val run = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      core.Tables.events(spark, dst)
        .select(col("event_type"), col("value"),
          max(col("value")).over(run).as("peak"))
        .withColumn("dd",
          when(col("peak") > 0, (col("peak") - col("value")) / col("peak"))
            .otherwise(lit(0d)))
        .groupBy(col("event_type"))
        .agg(max(col("peak")).as("max_peak"), max(col("dd")).as("max_dd"),
          count(lit(1)).as("n_rows"))
    }
    time("q110_corr_matrix") { q("q110_corr_matrix") }
    time("q111_tpch_q6") { q("q111_tpch_q6") }
    time("q105_kmv_setops") { q("q105_kmv_setops") }
    time("q104_pq_topk") { q("q104_pq_topk") }
    // round-8 additions. q121 includes its own layout write + catalog
    // build (the pruned READ is the point: files opened stay ~2/16 at
    // any volume); q122's moment pass is one aggregation, its
    // quantile a global rank selection; q123 fuses two top-20 rank
    // lists (rankers scan-bound, fusion O(40)); q124 is the LABELED
    // brute-force scorer + band filter — linear in corpus x queries,
    // the q118 serving path replaces it at real scale.
    time("q121_stats_pruned_scan") { q("q121_stats_pruned_scan") }
    time("q122_drift_gate") { q("q122_drift_gate") }
    time("q123_hybrid_rrf") { q("q123_hybrid_rrf") }
    time("q124_hard_negatives") { q("q124_hard_negatives") }
    // q126 is one partial-agg shuffle (JSON decode map-side); q127
    // rides ChunkedFrame.globalRank, so its parallelism comes from
    // keys x value-buckets, not the 5-key feed; q129's two windows
    // share one exchange+sort but DO partition on the bare key — the
    // same per-key ceiling q108 had, with ChunkedFrame as the
    // documented escape hatch once a feed is skewed.
    time("q126_vwap") { q("q126_vwap") }
    time("q127_dist_funcs_chunked") { q("q127_dist_funcs_chunked") }
    time("q129_rsi") { q("q129_rsi") }
    // verbatim embedding replicas are q130's adversarial regime: the
    // label count stays 10, so cluster populations grow reps-x and
    // the per-cluster pair quadratic grows reps^2-x — at a REAL 100 TB
    // the paper's rule (k grows with the corpus) keeps populations
    // flat; this measures the blocked join surviving the squeeze
    time("q130_semantic_dedup") { q("q130_semantic_dedup") }
    // q137 is the growing-k answer to q130's fixed-k squeeze: k =
    // ceil(n/100) scales with the replicated corpus, so cluster
    // populations — and the per-cluster pair quadratic — stay FLAT;
    // the n x k assignment stays map-side against broadcast centroids
    time("q137_semdedup_growk") { q("q137_semdedup_growk") }
    // q138 composes the same learned clustering into IVF serving: the
    // probe cost is queries x k (broadcast centroids) and the scan is
    // nprobe buckets x flat population — corpus-size-free serving
    time("q138_ivf_growk") { q("q138_ivf_growk") }
    // q139: one |langs|-row histogram shuffle + a broadcast-rate
    // map-side filter over two scan-bound corpus passes; q140: the
    // q70 two-level prefix offsets + a bounded map-side explode
    time("q139_lang_rebalance") { q("q139_lang_rebalance") }
    time("q140_seq_pack") { q("q140_seq_pack") }
    // q141: one bigram->slot partial-agg shuffle builds the 4096-row
    // model; raw-pool scoring is a broadcast join + per-doc aggregate
    time("q141_dsir_importance") { q("q141_dsir_importance") }
    // TPC-H finishers: q131/q133/q134's supply relations are
    // (part, supp)-pair aggregates — dim-x-dim sized at any fact
    // volume once the partial agg collapses the scan; q135 feeds two
    // aggregates from one filtered pass; q132 is the multi-fact
    // profit rollup whose LIKE-pruned part dim gates the fact early
    // q136's two medians are rank selections over globalRank — the
    // keys x value-buckets shape; no per-key sort at any volume
    // q142 under VERBATIM replication is the adversarial regime by
    // design: every block gains reps-1 identical copies, so the
    // fp-keyed first-occurrence aggregate carries reps-x rows into
    // one shuffle and all but one copy of everything dedups away —
    // the reconstruction join then touches only surviving offsets
    time("q142_block_dedup") { q("q142_block_dedup") }
    // q143/q146/q147: histogram-broadcast filter and two-level word
    // aggregates — scan-bound, shuffle bounded by (source|doc, word)
    time("q143_temp_mixture") { q("q143_temp_mixture") }
    time("q146_word_entropy") { q("q146_word_entropy") }
    time("q147_vocab_stats") { q("q147_vocab_stats") }
    // q156: lag-diff (halo 1) + running sum, both chunked over the
    // five-key feed — the unbounded-sum sibling's scale exercise
    time("q156_obv") { q("q156_obv") }
    // q154: runningMax + two globalRanks, all chunked — the five-key
    // feed keeps volume-wide parallelism through all three passes
    time("q154_drawdown_episodes") { q("q154_drawdown_episodes") }
    // q153: the lag window keys on (instrument, DAY) — replication
    // fattens partitions only because replica ts are FIXED; real
    // volume growth adds days (key cardinality grows with span)
    time("q153_realized_vol") { q("q153_realized_vol") }
    // q152: the composed build — the corpus-sized shuffles are the
    // content-hash dedup aggregate, the bigram->slot aggregate, and
    // the packing's bucket windows; models/rates broadcast
    time("q152_training_build") { q("q152_training_build") }
    // q150: the (source, word) aggregate collapses the scan; the
    // word-total join is vocab-sized, the output |sources| rows
    time("q150_source_kl") { q("q150_source_kl") }
    // q151: eval side broadcasts (tiny by construction); corpus
    // touched once map-side; the ≥τ-hit aggregate is the only shuffle
    time("q151_semantic_decontam") { q("q151_semantic_decontam") }
    // q145: the epoch-shuffle permutation through globalRank — the
    // whole point is surviving volume growth without a per-epoch
    // single-task sort (chunk count grows with the corpus)
    time("q145_epoch_shuffle") { q("q145_epoch_shuffle") }
    // q144: SQ8 quantization is a map pass over the replicated
    // vectors; both serving top-ks are broadcast-queries partial aggs
    time("q144_sq8_topk") { q("q144_sq8_topk") }
    // q148/q149 ride the q22 pair machinery: SALTED corpus (verbatim
    // replication squares the true pair count — an output-cardinality
    // fact, same regime note as q47/q59)
    time("q148_containment") { SparkEntry.queries("q148_containment")(spark, dstS) }
    time("q149_leakage_matrix") { SparkEntry.queries("q149_leakage_matrix")(spark, dstS) }
    time("q136_mad_outliers") { q("q136_mad_outliers") }
    time("q131_tpch_q2") { q("q131_tpch_q2") }
    time("q132_tpch_q9") { q("q132_tpch_q9") }
    time("q133_tpch_q11") { q("q133_tpch_q11") }
    time("q134_tpch_q16") { q("q134_tpch_q16") }
    time("q135_tpch_q20") { q("q135_tpch_q20") }
    // round-9 additions: market estimators (tick-grain aggregates /
    // span-bounded windows), vector-compression serving, and the
    // curation analytics
    time("q157_parkinson_vol") { q("q157_parkinson_vol") }
    time("q158_amihud_illiq") { q("q158_amihud_illiq") }
    time("q159_rolling_beta") { q("q159_rolling_beta") }
    time("q165_garman_klass") { q("q165_garman_klass") }
    time("q160_prototype_prune") { q("q160_prototype_prune") }
    time("q161_adaptive_quality") { q("q161_adaptive_quality") }
    time("q162_bq_hamming_topk") { q("q162_bq_hamming_topk") }
    time("q163_novelty") { q("q163_novelty") }
    time("q164_mrl_prefix_topk") { q("q164_mrl_prefix_topk") }
    time("q166_source_centroids") { q("q166_source_centroids") }
    time("q167_order_flow") { q("q167_order_flow") }
    time("q168_dup_profile") { q("q168_dup_profile") }
    time("q169_roll_spread") { q("q169_roll_spread") }
    time("q170_variance_ratio") { q("q170_variance_ratio") }
    // q163/q114's 100 TB regime (8-byte gram hashes on the
    // exchanges); spec-pinned identical output to the declared
    // string-gram queries
    // declared as q195 since round 10; label keeps the historical name
    time("q163_novelty_hashed=q195") { q("q195_novelty_hashed") }
    time("q172_daily_panel") { q("q172_daily_panel") }
    time("q173_quality_weighted") { q("q173_quality_weighted") }
    time("q174_quality_survivor") { q("q174_quality_survivor") }
    // session-4 additions: day-grid statistics (volume-sized work is
    // one close partial-agg) + two tick-grain estimators (q177 window
    // pass + day-grid agg; q178 chunked corpus-wide volume clock)
    time("q180_mmr_topk") { q("q180_mmr_topk") }
    time("q181_table_profile") { q("q181_table_profile") }
    // q181's sketch twin: exact rows/nulls from one aggregate row +
    // per-column KMV distinct — the scale path the q181 header names
    time("q193_table_profile_kmv") { q("q193_table_profile_kmv") }
    time("q182_sessions") { q("q182_sessions") }
    // dominant-key sessionization regime: one planted bot user
    // carries 50% of ALL events. The direct per-user window funnels
    // half the feed into ONE sort task; the chunked two-level plan
    // (q182/q185/q190's route since round 10) keeps tasks
    // volume/block-sized. Same scan, same summary aggregate — the
    // delta is purely the window evaluation strategy.
    def botFeed = core.Tables.events(spark, dst)
      .withColumn("user_id",
        when(col("event_id") % 2 === 0, lit(999999999L)).otherwise(col("user_id")))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    def botSummary(flags: org.apache.spark.sql.DataFrame) =
      flags.groupBy(col("user_id"))
        .agg(max(col("sid")).as("n_sessions"), count(lit(1)).as("n_ev"))
    time("q182_bot_chunked") {
      botSummary(graft.operators.Transitions.flags(botFeed, chunked = true))
    }
    time("q182_bot_direct") {
      botSummary(graft.operators.Transitions.flags(botFeed, chunked = false))
    }
    time("q183_funnel") { q("q183_funnel") }
    time("q184_retention") { q("q184_retention") }
    time("q185_transitions") { q("q185_transitions") }
    time("q186_pca_top") { q("q186_pca_top") }
    time("q187_abtt_topk") { q("q187_abtt_topk") }
    time("q188_pca_two") { q("q188_pca_two") }
    time("q189_rfm") { q("q189_rfm") }
    time("q190_session_lift") { q("q190_session_lift") }
    time("q191_time_to_convert") { q("q191_time_to_convert") }
    time("q196_markov_attribution") { q("q196_markov_attribution") }
    time("q197_shapley_attribution") { q("q197_shapley_attribution") }
    time("q192_lead_lag") { q("q192_lead_lag") }
    time("q175_higher_moments") { q("q175_higher_moments") }
    time("q176_return_acf") { q("q176_return_acf") }
    time("q177_kyle_lambda") { q("q177_kyle_lambda") }
    time("q178_vpin") { q("q178_vpin") }
    time("q179_momentum") { q("q179_momentum") }
    time("q114_split_decontam") { q("q114_split_decontam") }
    // declared as q194 since round 10; label keeps the historical name
    time("q114_decontam_hashed=q194") { q("q194_decontam_hashed") }
    time("q198_pairs_spread") { q("q198_pairs_spread") }
    time("q199_risk_adjusted") { q("q199_risk_adjusted") }
    time("q200_pagerank_nav") { q("q200_pagerank_nav") }
    time("q201_content_split") { q("q201_content_split") }
    time("q202_budget_select") { q("q202_budget_select") }
    time("q203_ewma_backtest") { q("q203_ewma_backtest") }
    time("q204_session_paths") { q("q204_session_paths") }
    time("q205_bot_profile") { q("q205_bot_profile") }
    time("q206_flac_headers") { q("q206_flac_headers") }
    time("q207_mp3_headers") { q("q207_mp3_headers") }
    time("q208_sma_crossover") { q("q208_sma_crossover") }
    time("q209_corr_clusters") { q("q209_corr_clusters") }
    time("q210_holt_backtest") { q("q210_holt_backtest") }
    time("q211_textrank") { q("q211_textrank") }
    time("q215_textrank_hashed") { q("q215_textrank_hashed") }
    time("q212_benford_audit") { q("q212_benford_audit") }
    // round-11 additions. q216: key-grain ⋈ key-grain audit joins
    // (the fact side collapses in a partial agg before any join);
    // q217 is dim-bound (customer copies verbatim — the point);
    // q218 runs on the VERBATIM replicas: the matcher is
    // VOCABULARY-bound (distinct bigram phrases), so 100 byte-copies
    // of every doc must collapse in the phrase dedup and leave the
    // block join untouched — volume-independence is the claim under
    // measure. (The SALTED corpus is this query's blocking-key
    // adversary, not its volume adversary: every minted salt token
    // shares a 2-char prefix 's<digit>', so the synthetic vocabulary
    // floods a handful of (prefix, length) cells and candidate
    // verification goes quadratic IN THE VOCABULARY — the classic ER
    // failure of a too-coarse blocking key, answered by extending
    // the key (3-char prefix / phonetic key), not by volume
    // machinery. Measured and documented in BASELINE.md round 11.)
    // q219 runs on the SALTED corpus (content genuinely grows: the
    // salts mint new sort keys; the rank+delta equi-join stays
    // linear); q220's chunked SCD2 faces the fixed-150-user feed at
    // 100x — per-user histories fatten 100x, exactly the regime the
    // two-level plan exists for; q221-q225 are day-grid folds after
    // one volume-sized partial agg each.
    time("q216_ri_orphans") { q("q216_ri_orphans") }
    time("q217_k_anonymity") { q("q217_k_anonymity") }
    time("q218_entity_match") { q("q218_entity_match") }
    time("q219_sorted_neighborhood") { SparkEntry.queries("q219_sorted_neighborhood")(spark, dstS) }
    // q245: q219's hashed-payload twin on the same salted corpus —
    // the probe pair is the exchange-byte evidence (8-byte token
    // keys vs word strings through the rank+delta join)
    time("q245_sorted_neighborhood_hashed") { SparkEntry.queries("q245_sorted_neighborhood_hashed")(spark, dstS) }
    time("q220_scd2_build") { q("q220_scd2_build") }
    time("q221_var_cvar") { q("q221_var_cvar") }
    time("q222_kalman_backtest") { q("q222_kalman_backtest") }
    time("q223_coint_screen") { q("q223_coint_screen") }
    time("q224_cusum_changepoint") { q("q224_cusum_changepoint") }
    time("q225_kaplan_meier") { q("q225_kaplan_meier") }
    // q226: the (s, p) distinct collapses verbatim fact replicas —
    // content-bound like q218; q227: one profile partial agg +
    // broadcast map-side filter; q228: per-customer revenue partial
    // agg (fattens 100x per customer), ranks on the dim-bounded
    // customer table
    time("q226_supply_triangles") { q("q226_supply_triangles") }
    time("q227_seasonal_anomaly") { q("q227_seasonal_anomaly") }
    time("q228_revenue_gini") { q("q228_revenue_gini") }
    // q229/q230: one partial agg each to band/cell grain (domain-
    // bounded); q232: the register build is the probe target — at
    // most |sources|x512 rows cross the exchange regardless of
    // volume (the exact-distinct twin inside the same query is the
    // contrast); q233: day-grid folds after the DailyCloses partial
    // agg; q231 probes the VERBATIM corpus exactly like q218 (the
    // phrase vocabulary is content-bound — 100 byte-copies collapse
    // in the dedup; the SALTED corpus is q218's documented semantic
    // failure regime, worse here because every salt token is
    // class-0 → one S000 block — a blocking-key choice, not volume
    // machinery).
    time("q229_psi_drift") { q("q229_psi_drift") }
    time("q230_cramers_v") { q("q230_cramers_v") }
    time("q232_hll_distinct") { q("q232_hll_distinct") }
    time("q233_holt_winters") { q("q233_holt_winters") }
    time("q231_phonetic_match") { q("q231_phonetic_match") }
    // q234: two key-grain partial aggs per candidate FD; q235: the
    // q173 rank machinery -> |sources|x10 output
    time("q234_fd_discovery") { q("q234_fd_discovery") }
    time("q235_quantile_norm") { q("q235_quantile_norm") }
    // q236: day-grid fold after the DailyCloses partial agg; q237:
    // vocabulary partial agg + a 1000-row-per-source fit; q238: map
    // pass + one source-grain partial agg
    time("q236_garch_backtest") { q("q236_garch_backtest") }
    time("q237_zipf_fit") { q("q237_zipf_fit") }
    time("q238_readability") { q("q238_readability") }
    // q239: one user-grain partial agg, 2-row rollup
    time("q239_ab_test") { q("q239_ab_test") }
    // q240: the q185/q200 chunked session pass; everything after is
    // <=|types|^2 cells
    time("q240_nav_entropy") { q("q240_nav_entropy") }
    // q241: (type, cent-value) partial agg + chunked running sums
    time("q241_ks_drift") { q("q241_ks_drift") }
    // q242: user-grain first-event agg + grid work; q243: order-grain
    // partial agg joined key-grain to headers
    time("q242_cohort_ltv") { q("q242_cohort_ltv") }
    time("q243_order_recon") { q("q243_order_recon") }
    // q244: one event->(user, day) distinct partial agg; x30 fan-out
    // on the user-day grid only
    time("q244_stickiness") { q("q244_stickiness") }
    // round-12 additions. q246: one distinct (order, part) grid, the
    // apriori item cut before the basket-bounded pair join (fan-out
    // Σ|basket|², baskets ≤ 7 by construction); q247: day-grid array
    // folds after the one DailyCloses partial agg; q248: everything
    // on the (type, cent-value) / (type, deviation) DOMAIN grids with
    // chunked running sums — no per-type sort; q249: one user-grain
    // label agg + one (band, label)-grain partial agg
    time("q246_basket_rules") { q("q246_basket_rules") }
    time("q247_acf_ljungbox") { q("q247_acf_ljungbox") }
    time("q248_mad_outliers") { q("q248_mad_outliers") }
    time("q249_info_value") { q("q249_info_value") }
    // q250: the q241 grid + chunked running sums; q251: day-grid pair
    // join + per-pair rank windows (day-grid rows only); q252: C(n,2)
    // slope folds on volume-independent day arrays; q253: q249's two
    // partial aggs + a band-domain self-join
    time("q250_mann_whitney") { q("q250_mann_whitney") }
    time("q251_spearman_pairs") { q("q251_spearman_pairs") }
    time("q252_theil_sen") { q("q252_theil_sen") }
    time("q253_stump_split") { q("q253_stump_split") }
    // q254: day-grid self-join per pair (codegen counting, bounded
    // m²); q255: q228's customer-grain partial agg + nation rollup
    time("q254_kendall_pairs") { q("q254_kendall_pairs") }
    time("q255_hhi_concentration") { q("q255_hhi_concentration") }
    // q256: q247's lag frame + per-row Durbin-Levinson columns
    time("q256_pacf") { q("q256_pacf") }
    // round-13 additions. q128/q257/q258/q261: one DailyCloses
    // partial agg then day-grid windows/folds per instrument (volume-
    // independent after the first shuffle); q259: q252's C(n,2) fold
    // on day arrays + a (type, close) grid agg for ties; q260: q248's
    // (type, cent) grid + chunked running counts; q262: q228's
    // customer-grain revenue agg, then the cents-grid rank machinery;
    // q263: global value-grid midranks (chunk-banded running sum) +
    // k-row closing; q264: q229's band-grid shape; q265: two cell-
    // grain partial aggs with broadcast margins; q266: within-day
    // k-row rank windows over the day grid
    time("q128_stochastic_osc") { q("q128_stochastic_osc") }
    time("q257_jarque_bera") { q("q257_jarque_bera") }
    time("q258_runs_test") { q("q258_runs_test") }
    time("q259_mann_kendall") { q("q259_mann_kendall") }
    time("q260_trimmed_means") { q("q260_trimmed_means") }
    time("q261_hurst_rs") { q("q261_hurst_rs") }
    time("q262_lorenz_deciles") { q("q262_lorenz_deciles") }
    time("q263_kruskal_wallis") { q("q263_kruskal_wallis") }
    time("q264_js_drift") { q("q264_js_drift") }
    time("q265_mutual_info") { q("q265_mutual_info") }
    time("q266_friedman") { q("q266_friedman") }
    // q267: q266's complete-day blocks on SIGN counts — two day-grid
    // grain aggs after the one DailyCloses partial agg
    time("q267_cochran_q") { q("q267_cochran_q") }
    // q268: q250's grid + TWO chunk-banded running sums (pooled +
    // early), broadcast per-type totals, one IEEE term per cell
    time("q268_anderson_darling") { q("q268_anderson_darling") }
    // q269: q230's cell grid + broadcast margins, <=20 output rows
    time("q269_assoc_residuals") { q("q269_assoc_residuals") }
    // round-14 additions. q270: one partial agg to the 9-digit domain
    // per relation (map-side combine does ~all the work); q271: one
    // DailyCloses partial agg then per-type value-grid + day-grid
    // windows (rank-count identity — NO C(n,2) fold); q272: q268's
    // grid + the SAME one fused running-sums pass; q273: one partial
    // agg to group grain (count + two power sums), k-row closing
    time("q270_benford") { q("q270_benford") }
    time("q271_pettitt") { q("q271_pettitt") }
    time("q272_cvm_drift") { q("q272_cvm_drift") }
    time("q273_bartlett") { q("q273_bartlett") }
    // q274/q275: one DailyCloses partial agg then per-type day-grid
    // lag/lead windows + one grid-grain agg each
    time("q274_von_neumann") { q("q274_von_neumann") }
    time("q275_turning_points") { q("q275_turning_points") }
    // q276: hurstRs-class O(n·l) day-grid array folds after the one
    // DailyCloses partial agg; q277: the q274 lag-window shape
    time("q276_kpss") { q("q276_kpss") }
    time("q277_dickey_fuller") { q("q277_dickey_fuller") }
    // q278: one map-side pass over documents (two size() counts per
    // doc, no explode), one partial agg to source grain
    time("q278_heaps_fit") { q("q278_heaps_fit") }
    // round-15 additions. q281: q247's shape (one DailyCloses partial
    // agg, |types| day-grid array folds over r²); q282: the q263
    // kruskal closing over the volume-independent day-grid returns
    time("q281_arch_lm") { q("q281_arch_lm") }
    time("q282_weekday_effect") { q("q282_weekday_effect") }
    // q279: ONE partial agg to the (gk, vc) cell grid per relation,
    // then grid-bounded chunk-banded running counts + a k-row close;
    // q283: ONE partial agg to the value grid (customer grain for
    // orders), then the same chunk-banded pass — no global window
    time("q279_mood_median") { q("q279_mood_median") }
    time("q283_gini") { q("q283_gini") }
    // q280: q279's cell grid + per-group chunk-banded medians, exact
    // |dev| power sums on the grid, k-row close; q284: one partial
    // agg to (type, day) triples then per-type |d|-grid windows
    time("q280_brown_forsythe") { q("q280_brown_forsythe") }
    time("q284_wilcoxon_ampm") { q("q284_wilcoxon_ampm") }
    // q285: one partial agg to (gi, vc) cells, the fused 5-column
    // chunk-banded running-sums pass, grid-grain + k-row closings
    time("q285_jonckheere") { q("q285_jonckheere") }

    // --- round-16 additions ---
    // q286: q250's (type, cents) grid + the closed-form both-ends
    // score prefix — grid-bounded after ONE volume-sized partial agg
    time("q286_ansari_bradley") { q("q286_ansari_bradley") }
    // q287: the q263 global grid + a k-row x k-row pairwise close
    time("q287_dunn_posthoc") { q("q287_dunn_posthoc") }
    // q288/q289/q291/q292: day-grid shapes (volume-independent after
    // DailyCloses'/orders' one partial agg) — probed to pin the claim
    time("q288_kendall_w") { q("q288_kendall_w") }
    time("q289_dagostino_k2") { q("q289_dagostino_k2") }
    time("q291_page_trend") { q("q291_page_trend") }
    time("q292_cusum") { q("q292_cusum") }
    // q290: q250's grid, one fused two-column running-count pass
    time("q290_cliffs_delta") { q("q290_cliffs_delta") }

    // --- the broader battery (10x runs keep historical coverage) ---
    if (reps <= 10) {
      time("q06_ohlcv_daily") { q("q06_ohlcv_daily") }
      time("q42_semi_join") { q("q42_semi_join") }
      time("q49_rollup_sets") { q("q49_rollup_sets") }
      time("q53_cube") { q("q53_cube") }
      time("q55_gapfill") { q("q55_gapfill_locf") }
      time("q57_tfidf") { q("q57_tfidf_topterms") }
      time("q56_fuzzy") { q("q56_fuzzy_editdist") }
      time("q60_contamination") { q("q60_contamination") }
      time("q63_bigram_lm") { q("q63_bigram_lm") }
      time("q70_token_shards") { q("q70_token_shards") }
      time("q69_quality_gate") { q("q69_quality_gate") }
      time("q73_winnow") { q("q73_winnow_fps") }
      time("q79_countmin") { q("q79_countmin_hh") }
      time("q81_lm_score") { q("q81_lm_score") }
      time("q77_tpch_q18") { q("q77_tpch_q18") }
      time("q85_sig_quantiles") { q("q85_sig_quantiles") }
      time("q90_range_join") { q("q90_range_join_binned") }
      time("q87_tpch_q21") { q("q87_tpch_q21") }
      time("q92_kmv") { q("q92_kmv_distinct") }
      time("q98_kmv_by_key") { q("q98_kmv_by_key") }
      time("q93_grouped_quantiles") { q("q93_grouped_quantiles") }
      time("q96_inverted_index") { q("q96_inverted_index") }
    }
    spark.stop()
  }
}
