package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Ohlcv}

/** The reference's batch pipeline (spark_batch_processor.py:42-153) as
  * pure DataFrame transforms: dedup -> daily OHLCV rollup ->
  * daily_change -> the declared 8-column projection, plus the
  * partitioned writers (S9).
  */
object BatchJobs {

  /** Daily metrics with the reference's declared output schema
    * (load_to_snowflake.py:72-85). Deterministic open/close via the
    * `order` columns (the reference's unordered first/last is
    * nondeterministic — SURVEY.md §2 A5); the input is deduped on
    * (symbol, date) first, exactly as spark_batch_processor.py:83. */
  def dailyMetrics(bars: DataFrame, order: Seq[Column]): DataFrame = {
    val deduped = Dedup.keepFirst(bars, Seq("symbol", "date"), order)
    Ohlcv.rollup(
      deduped,
      keys = Seq(col("symbol"), col("date")),
      keyNames = Seq("symbol", "date"),
      valueCol = col("close"),
      order = order,
      volCol = Some(col("volume"))
    ).join(
      // open/high/low come from their own source columns per the
      // reference (first(open), max(high), min(low)), not from close
      deduped.groupBy(col("symbol"), col("date")).agg(
        first(col("open")).as("daily_open"),
        max(col("high")).as("daily_high"),
        min(col("low")).as("daily_low")
      ),
      Seq("symbol", "date")
    ).select(
      col("symbol"), col("date"),
      col("daily_open"), col("daily_high"), col("daily_low"),
      col("volume").as("daily_volume"),
      col("close").as("daily_close"),
      Ohlcv.dailyChange(col("daily_open"), col("close")).as("daily_change")
    )
  }

  /** S9: overwrite CSV partitioned by symbol under a date=... path. */
  def writeDaily(df: DataFrame, basePath: String, date: String): Unit =
    df.write
      .option("header", "true")
      .partitionBy("symbol")
      .mode("overwrite")
      .csv(s"$basePath/date=$date")

  /** Bucket-store compaction — the operational answer to streaming's
    * small-files problem: foreachBatch appends files with every
    * micro-batch, which at 100 TB is millions of files whose listing
    * alone dominates reads. Compaction folds replayed micro-batches
    * (StreamPipeline.readBuckets dedup), rewrites the store in the
    * streaming writer's UTC-day layout as `targetFileRows`-sized files
    * sorted by (symbol, bucket_start) within each day
    * (StreamPipeline.writeBucketLayout), and swaps atomically
    * (StoreCommit.replace: heal, write-temp, rename) so concurrent
    * readers see either the old or the new layout. Run it on a
    * cadence; the streaming writer keeps appending to the swapped-in
    * store because the path is unchanged. It also migrates a store in
    * the old symbol-partitioned layout: run it once before restarting
    * a stream on such a store. Returns (filesBefore, filesAfter). */
  def compactBuckets(spark: SparkSession, bucketPath: String,
                     targetFileRows: Long = 4000000L): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    def countFiles(p: String): Long = {
      val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new Path(p), true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    StoreCommit.heal(spark, bucketPath)
    val before = countFiles(bucketPath)
    StoreCommit.replace(spark, bucketPath) { staging =>
      val deduped = graft.streaming.StreamPipeline.readBuckets(spark, bucketPath)
        .withColumn("batch_id", lit(-1L)) // compacted rows predate any replay
      val nFiles = math.max(1, math.ceil(deduped.count().toDouble / targetFileRows).toInt)
      graft.streaming.StreamPipeline.writeBucketLayout(deduped, staging, nFiles)
    }
    (before, countFiles(bucketPath))
  }
}
