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

  /** S8: append parquet partitioned by symbol. */
  def writeProcessed(df: DataFrame, path: String): Unit =
    df.write.mode("append").partitionBy("symbol").parquet(path)

  /** Bucket-store compaction — the operational answer to streaming's
    * small-files problem: foreachBatch appends one file per partition
    * per micro-batch, which at 100 TB is millions of files whose
    * listing alone dominates reads. Compaction folds replayed
    * micro-batches (StreamPipeline.readBuckets dedup), rewrites the
    * store coalesced to `targetFileRows`-sized files per symbol
    * partition, and swaps atomically (write-temp + rename, same as
    * WarehouseLoader.writeSnapshot) so concurrent readers see either
    * the old or the new layout. Run it on a cadence; the streaming
    * writer keeps appending to the swapped-in store because the path
    * is unchanged. A torn earlier swap is healed before the store is
    * read (StoreCommit rule 1). Returns (filesBefore, filesAfter). */
  def compactBuckets(spark: SparkSession, bucketPath: String,
                     targetFileRows: Long = 4000000L): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    StoreCommit.heal(spark, bucketPath)
    def countFiles(p: String): Long = {
      val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new Path(p), true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = countFiles(bucketPath)
    val deduped = graft.streaming.StreamPipeline.readBuckets(spark, bucketPath)
      .withColumn("batch_id", lit(-1L)) // compacted rows predate any replay
    val rows = deduped.count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetFileRows).toInt)
    val tmp = bucketPath + ".compact"
    deduped.repartition(nFiles).write.mode("overwrite").partitionBy("symbol").parquet(tmp)
    AtomicSwap.swapInto(spark.sparkContext.hadoopConfiguration, tmp, bucketPath)
    (before, countFiles(bucketPath))
  }
}
