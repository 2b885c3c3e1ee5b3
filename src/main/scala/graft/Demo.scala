package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

import graft.batch.WarehouseLoader
import graft.core.Tables
import graft.sources.KafkaIO
import graft.streaming.{Ingest, StreamPipeline, TickSource}

/** Kafka-shaped wire record for MemoryStream replay (top-level so the
  * Dataset encoder codegens). */
case class DemoWire(key: String, value: String)

/** End-to-end pipeline demo — the reference's full chain
  * (produce -> wire -> ingest -> stream-process -> store -> derive ->
  * warehouse merge; historical.py:66, spark_stream_processor.py:
  * 261-301) in ONE process, with the streaming result asserted
  * bit-equal to the batch (q16-shaped) computation on the same ticks:
  *
  *   TickSource (seeded walk)
  *     -> KafkaIO.toWire (key/JSON-value wire rows)
  *     -> MemoryStream replay (stands in for the broker)
  *     -> Ingest.fromKafkaJson -> Ingest.clean
  *     -> StreamPipeline.run (watermark, 5-min bucket partials,
  *        append mode, checkpoint, foreachBatch parquet bucket store)
  *     -> StreamPipeline.readBuckets (replay-safe)
  *     -> StreamPipeline.windowedMetrics (15m x 1h contract)
  *     == StreamPipeline.windowedMetrics(bucketAgg(batch ticks))
  *     -> WarehouseLoader.load MERGE into a snapshot (idempotent)
  *
  * Exactness: bucket partials are decimal/long/min/max — order-
  * independent and parquet-round-trip exact — so streaming-derived
  * metrics equal batch-derived metrics BITWISE (asserted with except()
  * in both directions, not a tolerance).
  */
object Demo {

  private def iso(epochSec: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochSecond(epochSec))

  /** Runs the chain under `workDir`; throws on any divergence.
    * Returns (windowed metric rows, warehouse snapshot rows). */
  def run(spark: SparkSession, workDir: String, nPerSymbol: Int = 400): (Long, Long) = {
    val s = spark
    import s.implicits._
    val base = 1704067200L // 2024-01-01T00:00:00Z
    val bucketPath = s"$workDir/buckets"
    val ckptPath = s"$workDir/ckpt"
    val snapPath = s"$workDir/warehouse/windowed_metrics"

    // 1. produce + wire-encode (batch side of the wire). Replay in
    // EVENT-TIME order — what a live producer emits — otherwise one
    // symbol's full history in an early micro-batch advances the
    // watermark past other symbols' still-unsent early ticks and the
    // engine (correctly) drops them as late.
    val ticks = TickSource.ticks(spark, nPerSymbol, startEpochSec = base, intervalSec = 2)
    val wireRows = KafkaIO.toWire(ticks.orderBy(col("timestamp"), col("symbol")), col("symbol"))
      .as[(String, String)].collect().toSeq
    // watermark flush ticks: push event time far past every real bucket
    val flushTicks = Seq(7200L, 7500L).map { off =>
      ("FLUSH", 1.0, 0.0, "0%", "1", 1.0, 1.0, iso(base + off))
    }.toDF("symbol", "price", "change", "percent_change", "volume", "today_low", "today_high", "timestamp")
    val wireFlush = KafkaIO.toWire(flushTicks, col("symbol")).as[(String, String)].collect().toSeq

    // 2. replay over the wire into the streaming leg
    val stream = MemoryStream[DemoWire](spark)
    val cleaned = Ingest.clean(Ingest.fromKafkaJson(stream.toDF()))
    val q = StreamPipeline.run(cleaned, bucketPath, ckptPath, trigger = Trigger.ProcessingTime(0))
    try {
      wireRows.grouped(1000).foreach { chunk =>
        stream.addData(chunk.map(kv => DemoWire(kv._1, kv._2)))
        q.processAllAvailable()
      }
      stream.addData(wireFlush.map(kv => DemoWire(kv._1, kv._2)))
      q.processAllAvailable()
    } finally q.stop()

    // 3. compact the bucket store (the operational small-files step),
    // then replay-safe read -> windowed metrics (streaming leg)
    val (filesBefore, filesAfter) = graft.batch.BatchJobs.compactBuckets(spark, bucketPath)
    require(filesAfter <= filesBefore, s"compaction grew the store: $filesBefore -> $filesAfter")
    val streamed = StreamPipeline.windowedMetrics(
      StreamPipeline.readBuckets(spark, bucketPath).filter(col("symbol") =!= "FLUSH"))

    // 4. the same contract computed purely in batch from the same ticks
    val batch = StreamPipeline.windowedMetrics(
      StreamPipeline.bucketAgg(Ingest.clean(
        TickSource.ticks(spark, nPerSymbol, startEpochSec = base, intervalSec = 2))))

    val onlyStream = streamed.exceptAll(batch).count()
    val onlyBatch = batch.exceptAll(streamed).count()
    val nMetrics = streamed.count()
    require(nMetrics > 0, "no windowed metrics produced")
    require(onlyStream == 0 && onlyBatch == 0,
      s"stream/batch divergence: $onlyStream stream-only, $onlyBatch batch-only rows")

    // 5. warehouse merge (stage + MERGE on PK), idempotency asserted
    val targetSchema = StructType(streamed.schema.fields :+ StructField("last_updated", TimestampType))
    val loadTs = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(base + 86400))
    val source = streamed.withColumn("__seq", lit(1L))
    val target0 = WarehouseLoader.readSnapshot(spark, snapPath, targetSchema)
    WarehouseLoader.writeSnapshot(spark,
      WarehouseLoader.load(target0, source, Seq("symbol", "window_start"), "__seq", loadTs), snapPath)
    val snap1 = Tables.parquet(spark, snapPath)
    val n1 = snap1.count()
    // re-apply the same load against the written snapshot: the MERGE
    // must be a no-op (idempotent under replay, like the reference's
    // Snowflake MERGE on PK)
    val merged2 = WarehouseLoader.load(snap1, source, Seq("symbol", "window_start"), "__seq", loadTs)
    require(merged2.count() == n1 && merged2.exceptAll(snap1).isEmpty,
      "warehouse merge is not idempotent")
    require(n1 == nMetrics, s"snapshot rows $n1 != metric rows $nMetrics")
    (nMetrics, n1)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession("graft-demo", cores = 8)
    val workDir = Files.createTempDirectory("graft_demo").toString
    val (nMetrics, nSnap) = run(spark, workDir)
    println(s"[demo] OK: $nMetrics windowed-metric rows stream==batch bitwise; " +
      s"$nSnap rows merged into warehouse snapshot (idempotent) under $workDir")
    spark.stop()
  }
}
