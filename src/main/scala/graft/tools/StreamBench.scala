package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.StreamPipeline

/** STREAMING THROUGHPUT BENCH — the number the batch bench can't
  * give: sustained rows/sec and per-batch latency of the live-feed
  * pipelines against a GROWING standing store. Drives each pipeline
  * with a MemoryStream at a fixed rows/batch for a fixed batch count
  * (high-rate replay — the same mechanics as the stream ≡ batch
  * correctness specs, at bench volume) and reports one JSON line:
  *
  *   STREAM_BENCH {"pipeline":{"rows_per_sec":N,"batch_ms":{"p50":..,
  *     "max":..},"batches":B,"rows_per_batch":R,...},...}
  *
  *   SPARK_GRAFT_STREAM_ROWS=100000 SPARK_GRAFT_STREAM_BATCHES=20 \
  *     sbt "runMain graft.tools.StreamBench"
  *
  * Pipelines measured: `run` (tick ingest -> watermarked 5-min bucket
  * partials -> batch-stamped parquet store), `anomalyAlerts` (per
  * batch: fold the standing bucket store into |symbols| stats rows,
  * broadcast onto the batch), `dedupOnIngest` (MinHash the batch,
  * probe the persistent band index, append novel docs + signatures).
  * Latency per batch is wall-clock around `processAllAvailable` —
  * ingest transform + state update + sink write, the full cost a
  * trigger pays. State/store sizes come from the query's own progress
  * metrics plus the on-disk store footprint.
  */
object StreamBench {

  private def timeBatches[A](stream: MemoryStream[A], q: StreamingQuery,
                             batches: Int, gen: Int => Seq[A]): Seq[Double] = {
    val lat = ArrayBuffer.empty[Double]
    for (b <- 0 until batches) {
      val data = gen(b)
      stream.addData(data)
      val t0 = System.nanoTime()
      q.processAllAvailable()
      lat += (System.nanoTime() - t0) / 1e6
    }
    lat.toSeq
  }

  private def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
  private def r1(v: Double): Double = math.floor(v * 10 + 0.5) / 10

  private def dirSizeMb(path: String): Double = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    r1(walk(root) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "100000").toInt
    val batches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "20").toInt
    val cpus = graft.core.GraftSession.envCores(32)
    val spark = graft.core.GraftSession("streambench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streambench").toString
    val base = 1704067200L // 2024-01-01T00:00:00Z
    val nSymbols = 50

    def report(name: String, lats: Seq[Double], rowsPerBatch: Int, extra: String = ""): String = {
      val totalSec = lats.sum / 1e3
      s""""$name":{"rows_per_sec":${math.round(rowsPerBatch * lats.size / totalSec)},""" +
        s""""batch_ms":{"p50":${r1(p50(lats))},"max":${r1(lats.max)}},""" +
        s""""batches":${lats.size},"rows_per_batch":$rowsPerBatch$extra}"""
    }

    // ---- 1. bucket ingest (run): cleaned ticks -> watermarked 5-min
    // partials -> batch-stamped parquet. Each batch advances event
    // time 10 min so earlier buckets finalize under the watermark.
    val ticks = MemoryStream[(String, java.sql.Timestamp, Double, Double, Long)](spark)
    val cleaned = ticks.toDF().toDF("symbol", "timestamp", "price", "change", "volume")
    val qRun = StreamPipeline.run(cleaned, s"$dir/buckets", s"$dir/ckpt_run",
      trigger = Trigger.ProcessingTime(0))
    def genTicks(b: Int): Seq[(String, java.sql.Timestamp, Double, Double, Long)] =
      (0 until rows).map { i =>
        val sym = f"S${i % nSymbols}%02d"
        val ts = new java.sql.Timestamp((base + b * 600L + (i / nSymbols) % 600) * 1000L)
        val price = 100.0 + ((i * 2654435761L) % 1000) / 100.0
        (sym, ts, price, 0.0, 100L + i % 7)
      }
    val runLats = timeBatches(ticks, qRun, batches, genTicks)
    val runState = Option(qRun.lastProgress).map(p =>
      p.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    qRun.stop()
    val runLine = report("bucket_ingest", runLats, rows,
      s""","state_rows":$runState,"store_mb":${dirSizeMb(s"$dir/buckets")}""")

    // ---- 2. anomaly alerts against the standing bucket store the
    // ingest leg just built (it keeps growing while alerts run: each
    // alert batch is preceded by an ingest batch, the production
    // interleave).
    val ticks2 = MemoryStream[(String, java.sql.Timestamp, Double, Double, Long)](spark)
    val cleaned2 = ticks2.toDF().toDF("symbol", "timestamp", "price", "change", "volume")
    val qRun2 = StreamPipeline.run(cleaned, s"$dir/buckets", s"$dir/ckpt_run2",
      trigger = Trigger.ProcessingTime(0))
    val qAlert = StreamPipeline.anomalyAlerts(cleaned2, s"$dir/buckets", s"$dir/ckpt_alert",
      s"$dir/alerts", kSigma = 2.0, trigger = Trigger.ProcessingTime(0))
    val alertLats = ArrayBuffer.empty[Double]
    for (b <- batches until batches * 2) {
      ticks.addData(genTicks(b))
      qRun2.processAllAvailable()
      ticks2.addData(genTicks(b))
      val t0 = System.nanoTime()
      qAlert.processAllAvailable()
      alertLats += (System.nanoTime() - t0) / 1e6
    }
    qRun2.stop(); qAlert.stop()
    val alertLine = report("anomaly_alerts", alertLats.toSeq, rows,
      s""","store_mb":${dirSizeMb(s"$dir/buckets")}""")

    // ---- 3. dedup-on-ingest with the persistent band index: docs are
    // 30-word texts; ~10% duplicate an earlier batch's doc verbatim.
    val docRows = math.max(rows / 10, 1000)
    val docs = MemoryStream[(Long, String)](spark)
    val qDedup = StreamPipeline.dedupOnIngest(docs.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/ckpt_dedup", threshold = 0.8,
      trigger = Trigger.ProcessingTime(0), indexPath = Some(s"$dir/bandindex"))
    // word = hash(seed, j), NOT a sliding window over one global
    // sequence — windowed construction aliases (docs 1613 apart share
    // 27/30 words at this multiplier: real near-dups) and the dedup
    // pipeline rightly collapses the whole corpus
    def text(seed: Long): String =
      (0 until 30).map(j => s"w${((seed * 1000003L + j) * 2654435761L) % 50000}").mkString(" ")
    def genDocs(b: Int): Seq[(Long, String)] =
      (0 until docRows).map { i =>
        val id = b.toLong * docRows + i
        // every 10th doc repeats a doc from the previous batch verbatim
        val seed = if (i % 10 == 0 && b > 0) (b - 1).toLong * docRows + i else id
        (id, text(seed))
      }
    val dedupLats = timeBatches(docs, qDedup, batches, genDocs)
    qDedup.stop()
    val dedupLine = report("dedup_on_ingest", dedupLats, docRows,
      s""","index_mb":${dirSizeMb(s"$dir/bandindex")},"corpus_mb":${dirSizeMb(s"$dir/corpus")}""")

    // ---- 4. DSIR importance gate: every batch scored against a
    // standing 4096-slot model (broadcast; the model size is
    // corpus-independent so the per-batch cost is pure batch work).
    val dsir = graft.functions.Dsir
    val lam = dsir.model(dsir.slots(
        ((0 until 2000).map(i => (i.toLong, true, text(i))) ++
         (0 until 2000).map(i => (2000L + i, false, text(5000000L + i))))
          .toDF("doc_id", "is_t", "text"),
        col("doc_id"), col("text"), keep = Seq("is_t")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lam.count()
    val docs2 = MemoryStream[(Long, String)](spark)
    val qImp = StreamPipeline.importanceGate(docs2.toDF().toDF("doc_id", "text"), lam,
      s"$dir/imp_keep", s"$dir/imp_flag", s"$dir/ckpt_imp",
      trigger = Trigger.ProcessingTime(0))
    def genImp(b: Int): Seq[(Long, String)] =
      (0 until docRows).map { i =>
        val id = b.toLong * docRows + i
        (id, text(if (i % 2 == 0) id else 5000000L + id))
      }
    val impLats = timeBatches(docs2, qImp, batches, genImp)
    qImp.stop()
    val impLine = report("importance_gate", impLats, docRows,
      s""","keep_mb":${dirSizeMb(s"$dir/imp_keep")},"flag_mb":${dirSizeMb(s"$dir/imp_flag")}""")

    // ---- 5. block-level dedup on ingest: docs are 8 x 64-char
    // blocks; ~30% of each batch's blocks repeat earlier content
    // (template/boilerplate regime), so the store grows sublinearly
    // while every batch pays a full store anti-join probe.
    val docs3 = MemoryStream[(Long, String)](spark)
    val qBlk = StreamPipeline.blockDedupOnIngest(docs3.toDF().toDF("doc_id", "text"),
      s"$dir/blk_fps", s"$dir/blk_clean", s"$dir/ckpt_blk",
      trigger = Trigger.ProcessingTime(0))
    def block(seed: Long): String = {
      val r = new StringBuilder(64)
      var x = seed * 6364136223846793005L + 1442695040888963407L
      while (r.length < 64) { x = x * 6364136223846793005L + 1442695040888963407L
        r += ('a' + math.floorMod(x, 26)).toChar }
      r.toString
    }
    def genBlockDocs(b: Int): Seq[(Long, String)] =
      (0 until docRows).map { i =>
        val id = b.toLong * docRows + i
        val body = (0 until 8).map { j =>
          // 30% of blocks draw from a small shared pool (dups), the
          // rest are novel per (doc, j)
          if ((i + j) % 10 < 3) block((i + j) % 97) else block(id * 8 + j)
        }.mkString
        (id, body)
      }
    val blkLats = timeBatches(docs3, qBlk, batches, genBlockDocs)
    qBlk.stop()
    val blkLine = report("block_dedup_ingest", blkLats, docRows,
      s""","store_mb":${dirSizeMb(s"$dir/blk_fps")},"clean_mb":${dirSizeMb(s"$dir/blk_clean")}""")

    // ---- 6. per-source adaptive quality gate: batches scored with
    // the shared QualityGate expression and routed against standing
    // per-source P25 cutoffs (8 sources, learned once from a 4k-doc
    // reference at wiring time — the cutoff table is |sources| rows,
    // broadcast, so per-batch cost is pure map-side scoring).
    def qualText(seed: Long, noisy: Boolean): String =
      text(seed) + (if (noisy) " !!! ??? ;;; ... ,,," else "")
    val refCorpus = (0 until 4000).map { i =>
      (i.toLong, s"src${i % 8}", qualText(i.toLong, noisy = i % 4 == 0))
    }.toDF("doc_id", "source", "text")
    val docs4 = MemoryStream[(Long, String, String)](spark)
    val qAq = StreamPipeline.adaptiveQualityGate(docs4.toDF().toDF("doc_id", "source", "text"),
      refCorpus, s"$dir/aq_keep", s"$dir/aq_flag", s"$dir/ckpt_aq",
      trigger = Trigger.ProcessingTime(0))
    def genAq(b: Int): Seq[(Long, String, String)] =
      (0 until docRows).map { i =>
        val id = b.toLong * docRows + i
        (id, s"src${i % 8}", qualText(id, noisy = i % 4 == 0))
      }
    val aqLats = timeBatches(docs4, qAq, batches, genAq)
    qAq.stop()
    val aqLine = report("adaptive_quality_gate", aqLats, docRows,
      s""","keep_mb":${dirSizeMb(s"$dir/aq_keep")},"flag_mb":${dirSizeMb(s"$dir/aq_flag")}""")

    // ---- 7. incremental panel maintenance: each batch of raw ticks
    // lands in the day-partitioned store and refreshes ONLY its
    // touched days' panel rows (batches advance event time ~100 min,
    // so 1-2 days stay hot per batch and per-batch cost is flat as
    // the standing store grows).
    val tickRows = math.max(rows / 10, 1000)
    val ticks7 = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)](spark)
    val qPanel = StreamPipeline.panelMaintain(
      ticks7.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      s"$dir/panel_ticks", s"$dir/panel", s"$dir/ckpt_panel",
      trigger = Trigger.ProcessingTime(0))
    def genPanelTicks(b: Int): Seq[(Long, java.sql.Timestamp, Long, String, Double, String)] =
      (0 until tickRows).map { i =>
        val id = b.toLong * tickRows + i
        val ts = new java.sql.Timestamp((base + b * 6000L + (i % 6000)) * 1000L)
        val price = 100.0 + ((id * 2654435761L) % 1000) / 100.0
        (id, ts, 1L, f"S${i % 5}%02d", price, s"""{"k": ${i % 100}}""")
      }
    val panelLats = timeBatches(ticks7, qPanel, batches, genPanelTicks)
    qPanel.stop()
    val panelLine = report("panel_maintain", panelLats, tickRows,
      s""","store_mb":${dirSizeMb(s"$dir/panel_ticks")},"panel_rows":${spark.read.parquet(s"$dir/panel").count()}""")

    // ---- 8. incremental Gram/PCA maintenance: each batch of 64-dim
    // embeddings folds into one OuterProductSum partial and merges
    // into the 4161-row Gram store — per-batch cost is O(batch·dim²)
    // map work + a fixed-size store rewrite, flat as the corpus grows.
    val vecRows = math.max(rows / 10, 1000)
    val vecs8 = MemoryStream[(Long, Seq[Float])](spark)
    val qGram = StreamPipeline.maintainGram(
      vecs8.toDF().toDF("vec_id", "embedding"),
      s"$dir/gram", s"$dir/ckpt_gram", trigger = Trigger.ProcessingTime(0))
    def genVecs(b: Int): Seq[(Long, Seq[Float])] =
      (0 until vecRows).map { i =>
        val id = b.toLong * vecRows + i
        (id, Seq.tabulate(64)(d => (((id * 2654435761L + d * 97L) % 2000) - 1000) / 1000.0f))
      }
    val gramLats = timeBatches(vecs8, qGram, batches, genVecs)
    qGram.stop()
    val gramLine = report("gram_maintain", gramLats, vecRows,
      s""","store_mb":${dirSizeMb(s"$dir/gram")}""")

    // ---- 9. transition-matrix maintenance: per batch, the q185
    // window logic over (carry ∪ batch); state = |types|² counts +
    // one row per user — neither grows with event volume.
    val evRows = math.max(rows / 10, 1000)
    val ev9 = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val qTrans = StreamPipeline.transitionMaintain(
      ev9.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      s"$dir/tm_counts", s"$dir/tm_carry", s"$dir/ckpt_tm",
      trigger = Trigger.ProcessingTime(0))
    val evTypes = Array("view", "click", "purchase", "signup", "error")
    def genEv(b: Int): Seq[(Long, java.sql.Timestamp, Long, String)] =
      (0 until evRows).map { i =>
        val id = b.toLong * evRows + i
        val ts = new java.sql.Timestamp((base + b * 600L + (i / 500) % 600) * 1000L)
        (id % 500, ts, id, evTypes(((id * 2654435761L) % 5).toInt.abs))
      }
    val transLats = timeBatches(ev9, qTrans, batches, genEv)
    qTrans.stop()
    val transLine = report("transition_maintain", transLats, evRows,
      s""","carry_rows":${spark.read.parquet(s"$dir/tm_carry").count()}""")

    // ---- 10. funnel maintenance: per batch, the q183 gating pass
    // over (carry-as-events ∪ batch); state = one stage-time row per
    // user — user-grain, never event-grain.
    val ev10 = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val qFun = StreamPipeline.funnelMaintain(
      ev10.toDF().toDF("user_id", "ts", "event_type"),
      s"$dir/funnel", s"$dir/ckpt_funnel", trigger = Trigger.ProcessingTime(0))
    val funTypes = Array("view", "click", "purchase", "signup", "error")
    def genFun(b: Int): Seq[(Long, java.sql.Timestamp, String)] =
      (0 until evRows).map { i =>
        val id = b.toLong * evRows + i
        val ts = new java.sql.Timestamp((base + b * 600L + (i / 500) % 600) * 1000L)
        (id % 500, ts, funTypes(((id * 2654435761L) % 5).toInt.abs))
      }
    val funLats = timeBatches(ev10, qFun, batches, genFun)
    qFun.stop()
    val funLine = report("funnel_maintain", funLats, evRows,
      s""","store_rows":${spark.read.parquet(s"$dir/funnel").count()}""")

    // ---- 11. retention maintenance: the q184 activity pass over
    // (store ∪ batch); state = distinct (user, day) — day-grain,
    // order-insensitive (no arrival contract at all).
    val ev11 = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val qRet = StreamPipeline.retentionMaintain(
      ev11.toDF().toDF("user_id", "ts"),
      s"$dir/retention", s"$dir/ckpt_retention", trigger = Trigger.ProcessingTime(0))
    def genRet(b: Int): Seq[(Long, java.sql.Timestamp)] =
      (0 until evRows).map { i =>
        val id = b.toLong * evRows + i
        // spread activity across days so the store grows in day grain
        val ts = new java.sql.Timestamp((base + (id % 7) * 86400L + (i % 3600)) * 1000L)
        (id % 500, ts)
      }
    val retLats = timeBatches(ev11, qRet, batches, genRet)
    qRet.stop()
    val retLine = report("retention_maintain", retLats, evRows,
      s""","store_rows":${spark.read.parquet(s"$dir/retention").count()}""")

    // ---- 12. table-profile maintenance: live per-column data-quality
    // stats; state = |cols| rows of counters + k-min arrays, exactly
    // mergeable — the store never grows.
    val ev12 = MemoryStream[(Long, Double, String, java.sql.Timestamp)](spark)
    val profCols = Seq("id" -> "int", "price" -> "double", "flag" -> "str", "ts" -> "ts")
    val qProf = StreamPipeline.profileMaintain(
      ev12.toDF().toDF("id", "price", "flag", "ts"),
      s"$dir/profile", s"$dir/ckpt_profile", profCols, trigger = Trigger.ProcessingTime(0))
    def genProf(b: Int): Seq[(Long, Double, String, java.sql.Timestamp)] =
      (0 until evRows).map { i =>
        val id = b.toLong * evRows + i
        (id, ((id * 37) % 100000) / 100.0, if (id % 17 == 0) null else s"f${id % 50}",
          new java.sql.Timestamp((base + id % 86400) * 1000L))
      }
    val profLats = timeBatches(ev12, qProf, batches, genProf)
    qProf.stop()
    val profLine = report("profile_maintain", profLats, evRows,
      s""","store_rows":${spark.read.parquet(s"$dir/profile").count()}""")

    // ---- 13. Markov-attribution maintenance: the q196 edge
    // extraction over (carry ∪ batch); state = bounded edge counts +
    // one carry row per user.
    val ev13 = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val qAttr = StreamPipeline.attributionMaintain(
      ev13.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      s"$dir/attr_counts", s"$dir/attr_carry", s"$dir/ckpt_attr",
      trigger = Trigger.ProcessingTime(0))
    val attrLats = timeBatches(ev13, qAttr, batches, genEv)
    qAttr.stop()
    val attrLine = report("attribution_maintain", attrLats, evRows,
      s""","carry_rows":${spark.read.parquet(s"$dir/attr_carry").count()}""")

    // ---- 14. RFM maintenance: per-user max/sum/decimal-sum state —
    // order-insensitive merge, user-grain store.
    val ev14 = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    val qRfm = StreamPipeline.rfmMaintain(
      ev14.toDF().toDF("user_id", "ts", "value"),
      s"$dir/rfm", s"$dir/ckpt_rfm", trigger = Trigger.ProcessingTime(0))
    def genRfm(b: Int): Seq[(Long, java.sql.Timestamp, Double)] =
      (0 until evRows).map { i =>
        val id = b.toLong * evRows + i
        (id % 500, new java.sql.Timestamp((base + (id % 5) * 86400L + i) * 1000L),
          ((id * 31) % 10000) / 100.0)
      }
    val rfmLats = timeBatches(ev14, qRfm, batches, genRfm)
    qRfm.stop()
    val rfmLine = report("rfm_maintain", rfmLats, evRows,
      s""","store_rows":${spark.read.parquet(s"$dir/rfm").count()}""")

    // ---- 15. session-summary maintenance: q182 served live from one
    // user-grain closed+open store.
    val ev15 = MemoryStream[(Long, java.sql.Timestamp, Long)](spark)
    val qSess = StreamPipeline.sessionsMaintain(
      ev15.toDF().toDF("user_id", "ts", "event_id"),
      s"$dir/sessions", s"$dir/ckpt_sessions", trigger = Trigger.ProcessingTime(0))
    def genSess(b: Int): Seq[(Long, java.sql.Timestamp, Long)] =
      (0 until evRows).map { i =>
        val id = b.toLong * evRows + i
        (id % 500, new java.sql.Timestamp((base + b * 600L + (i / 500) % 600) * 1000L), id)
      }
    val sessLats = timeBatches(ev15, qSess, batches, genSess)
    qSess.stop()
    val sessLine = report("sessions_maintain", sessLats, evRows,
      s""","store_rows":${spark.read.parquet(s"$dir/sessions").count()}""")

    // ---- 16. session-lift maintenance: bounded closed-session count
    // table + per-user open type-set carry.
    val ev16 = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val qLift = StreamPipeline.liftMaintain(
      ev16.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      s"$dir/lift_counts", s"$dir/lift_carry", s"$dir/ckpt_lift",
      trigger = Trigger.ProcessingTime(0))
    // 1-hour batch stride: every batch CLOSES the previous sessions,
    // so the permanent count table is exercised, not just the carry
    def genLift(b: Int): Seq[(Long, java.sql.Timestamp, Long, String)] =
      (0 until evRows).map { i =>
        val id = b.toLong * evRows + i
        val ts = new java.sql.Timestamp((base + b * 3600L + (i / 500) % 600) * 1000L)
        (id % 500, ts, id, evTypes(((id * 2654435761L) % 5).toInt.abs))
      }
    val liftLats = timeBatches(ev16, qLift, batches, genLift)
    qLift.stop()
    val liftLine = report("lift_maintain", liftLats, evRows,
      s""","counts_rows":${spark.read.parquet(s"$dir/lift_counts").count()}""")

    // ---- 17. daily-closes maintenance: one (instrument, day) row,
    // idempotent later-tick-wins merge — the live base under the
    // q198/q199 risk and pairs serves. 5 instruments x a rolling day
    // per batch keeps the store day-grid-sized while every batch
    // touches every row.
    val ev17 = MemoryStream[(String, java.sql.Timestamp, Long, Double)](spark)
    val qCl = StreamPipeline.closesMaintain(
      ev17.toDF().toDF("event_type", "ts", "event_id", "value"),
      s"$dir/closes", s"$dir/ckpt_closes", trigger = Trigger.ProcessingTime(0))
    def genCloses(b: Int): Seq[(String, java.sql.Timestamp, Long, Double)] =
      (0 until evRows).map { i =>
        val id = b.toLong * evRows + i
        (evTypes((id % 5).toInt),
          new java.sql.Timestamp((base + b * 86400L + i) * 1000L),
          id, 100.0 + (id % 97) / 10.0)
      }
    val clLats = timeBatches(ev17, qCl, batches, genCloses)
    qCl.stop()
    val clLine = report("closes_maintain", clLats, evRows,
      s""","store_rows":${spark.read.parquet(s"$dir/closes").count()}""")

    // ---- 17b. the serve paths OFF the maintained closes store — the
    // numbers a live strategy endpoint actually pays (the BENCH_ANN
    // build/serve-split precedent): each serve is a day-grid read +
    // fold over the store just maintained, measured end-to-end
    // (collect) per call, p50 over repeated calls.
    def serveLats(f: () => org.apache.spark.sql.DataFrame): Seq[Double] =
      (0 until math.max(batches, 5)).map { _ =>
        val t0 = System.nanoTime()
        f().collect()
        (System.nanoTime() - t0) / 1e6
      }
    val closesRows = spark.read.parquet(s"$dir/closes").count()
    val xoLine = report("crossover_serve",
      serveLats(() => StreamPipeline.crossoverServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val ewLine = report("ewma_serve",
      serveLats(() => StreamPipeline.ewmaServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val hoLine = report("holt_serve",
      serveLats(() => StreamPipeline.holtServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val vcLine = report("var_cvar_serve",
      serveLats(() => StreamPipeline.varCvarServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val kfLine = report("kalman_serve",
      serveLats(() => StreamPipeline.kalmanServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val egLine = report("coint_serve",
      serveLats(() => StreamPipeline.cointServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val hwLine = report("hw_serve",
      serveLats(() => StreamPipeline.hwServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val ghLine = report("garch_serve",
      serveLats(() => StreamPipeline.garchServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    // round-13 diagnostics serves — same store, four more closings
    val jbLine = report("jb_serve",
      serveLats(() => StreamPipeline.jbServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val runsLine = report("runs_serve",
      serveLats(() => StreamPipeline.runsServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val mkLine = report("mann_kendall_serve",
      serveLats(() => StreamPipeline.mannKendallServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val hurstLine = report("hurst_serve",
      serveLats(() => StreamPipeline.hurstServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    // round-14 diagnostics serves — same store, four more closings
    val pettittLine = report("pettitt_serve",
      serveLats(() => StreamPipeline.pettittServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val vnLine = report("von_neumann_serve",
      serveLats(() => StreamPipeline.vonNeumannServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val tpLine = report("turning_points_serve",
      serveLats(() => StreamPipeline.turningPointsServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val kpssLine = report("kpss_serve",
      serveLats(() => StreamPipeline.kpssServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    val dfLine = report("dickey_fuller_serve",
      serveLats(() => StreamPipeline.dickeyFullerServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")
    // round-15 diagnostics serve — same store, one more closing
    val archLine = report("arch_serve",
      serveLats(() => StreamPipeline.archServe(spark, s"$dir/closes")), 0,
      s""","store_rows":$closesRows""")

    // ---- 18. path-trigram maintenance: <=|types|^3 count table +
    // two-row-per-user carry; the q204 extraction over carry ∪ batch.
    val ev18 = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val qPaths = StreamPipeline.pathsMaintain(
      ev18.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      s"$dir/path_counts", s"$dir/path_carry", s"$dir/ckpt_paths",
      trigger = Trigger.ProcessingTime(0))
    val pathLats = timeBatches(ev18, qPaths, batches, genEv)
    qPaths.stop()
    val pathLine = report("paths_maintain", pathLats, evRows,
      s""","counts_rows":${spark.read.parquet(s"$dir/path_counts").count()}""")

    // ---- 19. bot-profile maintenance: one cadence row per user
    // (additive gap counters + the three-number minute-rate state);
    // the q205 serve reads the store directly.
    val ev19 = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val qBot = StreamPipeline.botMaintain(
      ev19.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      s"$dir/bot_store", s"$dir/ckpt_bot", trigger = Trigger.ProcessingTime(0))
    val botLats = timeBatches(ev19, qBot, batches, genEv)
    qBot.stop()
    val botLine = report("bot_maintain", botLats, evRows,
      s""","store_rows":${spark.read.parquet(s"$dir/bot_store").count()}""")

    // ---- 20. daily-volume CUSUM maintenance: the |types| x |days|
    // additive count grid; the q224 serve folds the store.
    val ev20 = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val qCusum = StreamPipeline.cusumMaintain(
      ev20.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      s"$dir/cusum_counts", s"$dir/ckpt_cusum",
      trigger = Trigger.ProcessingTime(0))
    val cusumLats = timeBatches(ev20, qCusum, batches, genEv)
    qCusum.stop()
    val cusumLine = report("cusum_maintain", cusumLats, evRows,
      s""","counts_rows":${spark.read.parquet(s"$dir/cusum_counts").count()}""")

    // ---- 23. SCD2 dimension maintenance: closed-interval dim (one
    // row per state CHANGE — append-only) + per-user open carry; the
    // q220 serve unions the two stores. The shared genEv feed gives
    // every user a CONSTANT type (id stride 500 ≡ 0 mod 5 — no
    // change rows, dim stays empty), so this leg gets a flip-heavy
    // variant: the type keys on id DIV 500, flipping every user's
    // state on every event — dim_rows ≈ the event count, the
    // adversarial write-amplification regime for the
    // rewrite-per-batch closed store.
    def genEvFlip(b: Int): Seq[(Long, java.sql.Timestamp, Long, String)] =
      genEv(b).map { case (u, ts, id, _) =>
        (u, ts, id, evTypes(((id / 500L) % 5L).toInt))
      }
    val ev23 = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val qScd2 = StreamPipeline.scd2Maintain(
      ev23.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      s"$dir/scd2_dim", s"$dir/scd2_carry", s"$dir/ckpt_scd2",
      trigger = Trigger.ProcessingTime(0))
    val scd2Lats = timeBatches(ev23, qScd2, batches, genEvFlip)
    qScd2.stop()
    val scd2Line = report("scd2_maintain", scd2Lats, evRows,
      s""","dim_rows":${spark.read.parquet(s"$dir/scd2_dim").count()},""" +
        s""""carry_rows":${spark.read.parquet(s"$dir/scd2_carry").count()}""")

    // ---- 24. PSI drift grid maintenance: the additive (type, day,
    // band) count grid (each batch advances one day so the early/late
    // split is live); the q229 serve closes over the store.
    val ev24 = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    val qPsi = StreamPipeline.psiMaintain(
      ev24.toDF().toDF("event_type", "ts", "value"),
      s"$dir/psi_grid", s"$dir/ckpt_psi", trigger = Trigger.ProcessingTime(0))
    def genPsi(b: Int): Seq[(String, java.sql.Timestamp, Double)] =
      (0 until evRows).map { i =>
        val id = b.toLong * evRows + i
        val ts = new java.sql.Timestamp((base + b * 86400L + (i / 500) % 600) * 1000L)
        (evTypes(((id * 2654435761L) % 5).toInt.abs), ts,
          ((id * 48271L) % 100000).toDouble / 100.0 + 0.01)
      }
    val psiLats = timeBatches(ev24, qPsi, batches, genPsi)
    qPsi.stop()
    val psiLine = report("psi_maintain", psiLats, evRows,
      s""","grid_rows":${spark.read.parquet(s"$dir/psi_grid").count()}""")
    // q264's JS divergence is a second closing over the SAME grid
    val jsLine = report("js_serve",
      serveLats(() => StreamPipeline.jsServe(spark, s"$dir/psi_grid")), 0,
      s""","grid_rows":${spark.read.parquet(s"$dir/psi_grid").count()}""")

    // ---- 25. HLL register maintenance: per-source max-merged
    // registers (<= |sources| x 512 rows forever); the q232 estimate
    // serve closes over the store.
    val d25 = MemoryStream[(Long, String, String)](spark)
    val qHll = StreamPipeline.hllMaintain(
      d25.toDF().toDF("doc_id", "source", "text"),
      s"$dir/hll_regs", s"$dir/ckpt_hll", trigger = Trigger.ProcessingTime(0))
    def genHllDocs(b: Int): Seq[(Long, String, String)] =
      (0 until docRows).map { i =>
        val id = b.toLong * docRows + i
        (id, s"src${id % 8}", text(id))
      }
    val hllLats = timeBatches(d25, qHll, batches, genHllDocs)
    qHll.stop()
    val hllLine = report("hll_maintain", hllLats, docRows,
      s""","reg_rows":${spark.read.parquet(s"$dir/hll_regs").count()}""")

    // ---- 26. median/MAD maintenance: the additive (type, cent)
    // value grid (the psi convergence class); q248 serves off it.
    val ev26 = MemoryStream[(String, java.sql.Timestamp, Double)](spark)
    val qMad = StreamPipeline.madMaintain(
      ev26.toDF().toDF("event_type", "ts", "value"),
      s"$dir/mad_grid", s"$dir/ckpt_mad", trigger = Trigger.ProcessingTime(0))
    val madLats = timeBatches(ev26, qMad, batches, genPsi)
    qMad.stop()
    val madLine = report("mad_maintain", madLats, evRows,
      s""","grid_rows":${spark.read.parquet(s"$dir/mad_grid").count()}""")
    // q260's trimmed/winsorized means are a second closing over the
    // SAME grid
    val trimmedLine = report("trimmed_serve",
      serveLats(() => StreamPipeline.trimmedServe(spark, s"$dir/mad_grid")), 0,
      s""","grid_rows":${spark.read.parquet(s"$dir/mad_grid").count()}""")

    // ---- 27. basket-rules maintenance: the additive (ka, kb)
    // counting-cell grid off completed order baskets; q246 serves
    // (apriori cut + lift + top-k) off the store.
    val d27 = MemoryStream[(Long, Long)](spark)
    val qBasket = StreamPipeline.basketMaintain(
      d27.toDF().toDF("l_orderkey", "l_partkey"),
      s"$dir/basket_cells", s"$dir/ckpt_basket", trigger = Trigger.ProcessingTime(0))
    // completed baskets: ~evRows lines per batch over evRows/4 orders
    // of 4 lines each, parts from a 2000-part catalog with a skewed
    // co-occurrence pattern (consecutive part ids pair often)
    def genBasket(b: Int): Seq[(Long, Long)] =
      (0 until evRows).map { i =>
        val order = b.toLong * evRows + (i / 4)
        val part = (((order * 2654435761L) % 2000).toInt.abs + (i % 4) * 3) % 2000
        (order, part.toLong)
      }
    val basketLats = timeBatches(d27, qBasket, batches, genBasket)
    qBasket.stop()
    val basketLine = report("basket_maintain", basketLats, evRows,
      s""","cell_rows":${spark.read.parquet(s"$dir/basket_cells").count()}""")

    println(s"STREAM_BENCH {$runLine,$alertLine,$dedupLine,$impLine,$blkLine,$aqLine,$panelLine,$gramLine,$transLine,$funLine,$retLine,$profLine,$attrLine,$rfmLine,$sessLine,$liftLine,$clLine,$xoLine,$ewLine,$hoLine,$vcLine,$kfLine,$egLine,$hwLine,$ghLine,$jbLine,$runsLine,$mkLine,$hurstLine,$pettittLine,$vnLine,$tpLine,$kpssLine,$dfLine,$archLine,$pathLine,$botLine,$cusumLine,$scd2Line,$psiLine,$jsLine,$hllLine,$madLine,$trimmedLine,$basketLine}")
    spark.stop()
  }
}
