package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ohlcv

/** The reference's batch pipeline (spark_batch_processor.py:42-153) as
  * pure DataFrame transforms: dedup + daily OHLCV rollup (one
  * aggregate) -> daily_change -> the declared 8-column projection,
  * plus the partitioned writers (S9).
  */
object BatchJobs {

  /** Daily metrics with the reference's declared output schema
    * (load_to_snowflake.py:72-85). The reference dedups the day's bars
    * on (symbol, date) and then rolls them up
    * (spark_batch_processor.py:83-101); after the dedup every group is
    * one row, so the rollup's first/max/min/sum/last are identities on
    * that row. Both steps are therefore one aggregate: per (symbol,
    * date), `min_by` the whole bar under the `order` key — the row a
    * keep-first dedup keeps (the reference's unordered keep is
    * nondeterministic — SURVEY.md §2 A5) — and project it. One
    * exchange, no window sort, no self-join.
    *
    * The same rows and schema as keep-first + rollup + join:
    *  - the struct key compares field by field, ascending with nulls
    *    first, as the ascending `row_number` does ([[Ohlcv.orderKey]],
    *    which also rejects a descending order column);
    *  - rows with a null `symbol` or `date` are dropped, as the inner
    *    USING join on the keys dropped them;
    *  - `daily_volume` takes the type `sum(volume)` resolves to (int
    *    gives bigint, decimal widens), read from the analyzed schema,
    *    which runs no job. */
  def dailyMetrics(bars: DataFrame, order: Seq[Column]): DataFrame = {
    val volumeType = bars.select(sum(col("volume"))).schema.head.dataType
    bars
      .filter(col("symbol").isNotNull && col("date").isNotNull)
      .groupBy(col("symbol"), col("date"))
      .agg(min_by(struct(col("open"), col("high"), col("low"), col("close"), col("volume")),
        Ohlcv.orderKey(order)).as("bar"))
      .select(
        col("symbol"), col("date"),
        col("bar.open").as("daily_open"), col("bar.high").as("daily_high"),
        col("bar.low").as("daily_low"),
        col("bar.volume").cast(volumeType).as("daily_volume"),
        col("bar.close").as("daily_close"),
        Ohlcv.dailyChange(col("bar.open"), col("bar.close")).as("daily_change")
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
