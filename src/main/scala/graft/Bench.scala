package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
object Bench {
  /** Full materialization without sink cost: the noop format consumes
    * every row/column of the result, so Catalyst cannot prune the
    * projections a query exists to measure (a bare `.count()` lets
    * column pruning delete them and times the scan instead). */
  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = core.GraftSession.envCores(32)
    val spark = core.GraftSession("bench", cores)
    // Each query runs twice and the SECOND time is reported: the first
    // run absorbs JIT/codegen-compile/parquet-footer first-touch, which
    // otherwise lands on whichever queries happen to iterate first
    // (round-1 driver bench charged q18 6x its steady state).
    // SPARK_GRAFT_ONLY=q48_dedup_clusters,q22_minhash_pairs — iterate
    // on one query's plan without paying the full battery
    // NOTE: q90 enables the BinnedRangeJoin rewrite SESSION-WIDE as a
    // side effect (graft.Graft.enableRangeJoinRewrite), so queries that
    // iterate after it run with the rule registered. The rule only
    // fires on inner point-in-interval joins with no equi key — q90 is
    // the single such plan in the battery — but a bench subset that
    // includes q90 is measuring the post-enablement session, same as
    // the full run.
    // pre-battery host calibration (HostCanary — round-13 Next #1);
    // printed now (for quiet-run logs) AND re-printed compactly at
    // the end, inside the driver's ~2k archived tail, next to the
    // post-battery reading
    val (preNs, preRatio) = HostCanary.measure(cores)
    println(f"""BENCH_HOST_PRE {"ns_per_op":$preNs%.3f,"allcore_ratio":$preRatio%.2f,"threads":$cores}""")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      try { run(fn(spark, sfDir)) } catch { case NonFatal(_) => }
      // Two measured runs, report the MIN: a single measured run is
      // exposed to transient machine noise (a concurrent oracle
      // process, a GC pause landing mid-query) — the round-5 driver
      // run charged q48 10x its steady state that way. Min-of-n is
      // the standard robust estimator for wall-clock microbenchmarks;
      // the plans are deterministic, so min is the true cost.
      // a throw in a MEASURED run reports -1, not its partial wall
      // time — otherwise an instant analysis failure masquerades as a
      // suspiciously fast healthy run
      var dt = Double.MaxValue
      var ok = true
      var rep = 0
      // adaptive third rep: when both measured runs stayed slow the
      // cause is either a genuinely heavy query or a sustained noise
      // source on the host (the round-5 driver ran the DuckDB oracle
      // concurrently and charged q48 6x its steady state). One more
      // sample is cheap relative to the distortion it prevents.
      while (ok && (rep < 2 || (rep < 3 && dt > 1.5))) {
        val t0 = System.nanoTime()
        ok = try { run(fn(spark, sfDir)); true } catch {
          case NonFatal(t) => System.err.println(s"[bench] $name FAILED: ${t.getClass.getSimpleName}: ${t.getMessage}"); false
        }
        if (ok) dt = math.min(dt, (System.nanoTime() - t0) / 1e9)
        rep += 1
      }
      if (!ok) dt = -1.0
      // isolate measurements: operators that persist working tables
      // (MinHash, CC) would otherwise leave cache entries that evict /
      // collide with later queries' storage and skew their numbers.
      // The explicit GC makes freed block/broadcast cleanup (which is
      // GC-triggered via ContextCleaner) happen HERE instead of as a
      // multi-second pause inside whichever later query trips it.
      spark.catalog.clearCache()
      System.gc()
      name -> dt
    }
    def r3(v: Double): Double = math.floor(v * 1000d + 0.5d) / 1000d
    // ANN build/serve split: q104/q118's oracle queries replay index
    // TRAINING inside every measured run (that is their correctness
    // contract — the whole pipeline must be DuckDB-replayable), which
    // makes them the battery's slowest entries while hiding the number
    // that matters at 100 TB: serving against a PREBUILT index. Build
    // once here, measure the steady-state serve path separately.
    // Split lines are MEASURED here but PRINTED after the canonical
    // compact line: the driver archives only the final ~2k chars of
    // output, and anything printed before the compact totals can fall
    // out of that window (BENCH_r08 silently lost the BENCH_ANN line
    // that way).
    var splitLines = List.empty[String]
    // SPARK_GRAFT_SPLIT=1 forces the split block under SPARK_GRAFT_ONLY
    // (local smoke-testing of the split path without the full battery)
    if (only.isEmpty || sys.env.contains("SPARK_GRAFT_SPLIT")) {
      import graft.functions.{ProductQuant, Similarity}
      import org.apache.spark.sql.functions.col
      val e = graft.core.Tables.embeddings(spark, sfDir)
      val q = e.filter(col("vec_id") < 10)
      def time2(f: => Unit): Double = {
        var dt = Double.MaxValue
        for (_ <- 1 to 2) { val t0 = System.nanoTime(); f; dt = math.min(dt, (System.nanoTime() - t0) / 1e9) }
        dt
      }
      val tb = System.nanoTime()
      // buildIndex returns codes eagerly materialized (localCheckpoint)
      // and a collected codebook — the returned pair IS the persisted
      // index, so the build wall-clock ends here.
      val (codes, book) = ProductQuant.buildIndex(e, "vec_id", "embedding", 16, 64, 4, 1)
      val buildPq = (System.nanoTime() - tb) / 1e9
      val servePq = time2(run(ProductQuant.serveRerankTopK(
        q, e, codes, book, "vec_id", "embedding", 16, 64, 25, 5)))
      val tc = System.nanoTime()
      val cents = Similarity.centroids(e, "embedding", "label").localCheckpoint(true)
      val buildIvf = buildPq + (System.nanoTime() - tc) / 1e9
      val serveIvf = time2(run(ProductQuant.ivfPqServe(
        q, e, codes, book, cents, "vec_id", "embedding", "label", 16, 64, 2, 25, 5)))
      splitLines :+= s"""BENCH_ANN {"q104_build":${r3(buildPq)},"q104_serve":${r3(servePq)},""" +
        s""""q118_build":${r3(buildIvf)},"q118_serve":${r3(serveIvf)}}"""
      spark.catalog.clearCache()
      System.gc()
      // q121's measured entry charges the 16-file layout rewrite +
      // catalog build to every run (its oracle-replay contract); the
      // number that matters at 100 TB is the PRUNED READ against a
      // standing layout. Split them the same way as ANN build/serve.
      import org.apache.spark.sql.functions.{count => fcount, lit => flit, sum => fsum}
      val layout = "/tmp/graft_bench_q121"
      val t121 = System.nanoTime()
      graft.core.Tables.lineitem(spark, sfDir)
        .repartitionByRange(16, col("l_shipdate"))
        .write.mode("overwrite").parquet(layout)
      val stats121 = graft.sources.StatsCatalog.build(spark, layout, Seq("l_shipdate"))
      val build121 = (System.nanoTime() - t121) / 1e9
      val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
      val hi = java.sql.Timestamp.valueOf("1996-03-31 23:59:59")
      val read121 = time2(run(
        graft.sources.StatsCatalog.prunedRead(spark, layout, stats121, "l_shipdate", lo, hi)
          .groupBy(col("l_returnflag"))
          .agg(fsum((col("l_extendedprice") * (flit(1) - col("l_discount"))).cast("decimal(28,4)")).as("revenue"),
            fcount(flit(1)).as("n_rows"))))
      splitLines :+= s"""BENCH_Q121 {"q121_build":${r3(build121)},"q121_pruned_read":${r3(read121)}}"""
      spark.catalog.clearCache()
      System.gc()
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Human/archive line first: full query names, full precision.
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""BENCH_FULL {"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"sf":"$sfDir"}""")
    // Canonical machine line LAST and COMPACT: the driver keeps only
    // the final ~2000 chars of output, so the parseable line must fit
    // in that window together with sbt's trailing [success] line. Full
    // names at nanosecond precision are ~2.7k chars for 66 queries and
    // get head-truncated (BENCH_r03/r04 recorded parsed:null). Short
    // qNN keys (BASELINE.md's own naming) at millisecond precision
    // keep the line under ~1k chars with room to grow.
    // centisecond precision on the compact line: at 140 queries the
    // line is ~1.8k chars and the split lines + sbt's [success] must
    // also fit the driver's ~2k tail — full precision lives in
    // BENCH_FULL above
    def r2c(v: Double): Double = math.floor(v * 100d + 0.5d) / 100d
    val qs = results.map { case (k, v) => s"\"" + k.takeWhile(_ != '_') + "\":" + r2c(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r2c(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // Split lines AFTER the compact line so they sit inside the
    // driver's archived tail (they are short; the parseable compact
    // line above still leads the window).
    splitLines.foreach(println)
    // Totals-only line LAST: at 191 queries even the compact per-query
    // map outgrew the driver's ~2.4k-char tail window and BENCH_r09
    // recorded parsed:null. This line is ~130 chars and final, so it
    // always survives the tail intact and the round gate (total + the
    // round-1 41-query subset vs BENCH_r01's 46.65 s) stays
    // machine-checkable from the artifact alone. subset41 = the
    // queries numbered q01–q41, BASELINE.md's cross-round yardstick.
    val subset41 = results.collect {
      case (k, v) if k.stripPrefix("q").takeWhile(_.isDigit).toIntOption.exists(_ <= 41) => v
    }.sum
    // post-battery calibration + the combined canary line directly
    // before the final totals line so both sit in the archived tail
    val (postNs, postRatio) = HostCanary.measure(cores)
    println(f"""BENCH_HOST {"pre_ns_per_op":$preNs%.3f,"pre_allcore_ratio":$preRatio%.2f,"post_ns_per_op":$postNs%.3f,"post_allcore_ratio":$postRatio%.2f,"threads":$cores}""")
    // Canary-normalized subset (round-14 Next #5): the cross-round
    // subset-41 trend spans hosts reading 0.6–2.2 ns/op on the same
    // canary chain, so the raw seconds conflate plan changes with
    // host speed. subset41_normalized rescales to the documented
    // healthy-core midpoint (0.8 ns/op): raw × (0.8 / pre_ns_per_op).
    // Approximate (wall-clock isn't 100% clock-bound) — BASELINE.md
    // records BOTH, compares raw to raw within a round and normalized
    // across rounds.
    // A degenerate canary (0 or NaN ns/op — e.g. a clock source the
    // sandbox virtualizes away) must not poison the JSON artifact
    // with Infinity/NaN: emit null and let BASELINE.md fall back to
    // the raw subset (round-15 advice).
    val subset41NormJson =
      if (preNs > 0 && !preNs.isNaN) r2c(subset41 * (0.8 / preNs)).toString
      else "null"
    println(s"""{"metric":"total","value":${r2c(total)},"unit":"sec","n_queries":${results.size},"subset41":${r2c(subset41)},"subset41_normalized":$subset41NormJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
