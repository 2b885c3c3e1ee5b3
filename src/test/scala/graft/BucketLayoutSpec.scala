package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{Ingest, StreamPipeline}

/** The bucket store's on-disk layout: partitioned by the UTC day of
  * `bucket_start`, not by symbol, so an emitting micro-batch writes at
  * most one file per writer task per day and symbols stay data. */
class BucketLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1704067200L // 2024-01-01T00:00:00Z
  private val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)
  private def tick(sym: String, off: Long): RawTick = RawTick(sym, 10.0, 0, "0%", "1", 10, 10,
    iso.format(java.time.Instant.ofEpochSecond(base + off)))

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
  private def parquetFiles(store: String): Seq[File] =
    walk(new File(store)).filter(_.getName.endsWith(".parquet"))

  /** Stream `ticks` into a fresh store, then a flush tick that pushes
    * the watermark past their buckets; returns the store path and the
    * parquet files it held before the flush. */
  private def streamed(ticks: Seq[RawTick]): (String, Seq[File]) = {
    val dir = Files.createTempDirectory("graft_bucket_layout").toString
    val store = s"$dir/buckets"
    val stream = MemoryStream[RawTick](spark)
    val q = StreamPipeline.run(Ingest.clean(stream.toDF()), store, s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try {
      stream.addData(ticks)
      q.processAllAvailable()
      val beforeFlush = parquetFiles(store)
      stream.addData(Seq(tick(ticks.head.symbol, 7200)))
      q.processAllAvailable()
      (store, beforeFlush)
    } finally q.stop()
  }

  test("one emitting micro-batch over 50 symbols writes at most shuffle.partitions files, by day") {
    val symbols = (0 until 50).map(i => f"S$i%02d")
    val (store, beforeFlush) = streamed(for (s <- symbols; off <- Seq(0L, 60L, 120L)) yield tick(s, off))
    assert(beforeFlush.isEmpty, s"a micro-batch that emits no bucket wrote $beforeFlush")
    val files = parquetFiles(store)
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(files.nonEmpty && files.size <= tasks, s"${files.size} files for one emitting batch, $tasks tasks")
    val dirs = walk(new File(store)).filter(_.isDirectory).map(_.getName)
    assert(!dirs.exists(_.startsWith("symbol=")), s"symbol-partitioned: $dirs")
    assert(files.map(_.getParentFile.getName).toSet == Set("bucket_day=2024-01-01"))
    val buckets = StreamPipeline.readBuckets(spark, store)
    assert(buckets.columns.toSet == Set("symbol", "bucket_start", "n", "price_sum", "price_sum2",
      "price_min", "price_max", "vol_sum"), "the day column is dropped on read")
    assert(buckets.select($"symbol").as[String].collect().sorted.toSeq == symbols)
  }

  test("numeric-looking symbols read back from the bucket store as strings") {
    val (store, _) = streamed(Seq(tick("0700", 0), tick("7203", 30), tick("0700", 60)))
    val buckets = StreamPipeline.readBuckets(spark, store)
    assert(buckets.schema("symbol").dataType == org.apache.spark.sql.types.StringType)
    assert(buckets.select($"symbol").as[String].collect().toSet == Set("0700", "7203"))
  }
}
