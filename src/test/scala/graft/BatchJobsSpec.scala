package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.batch.BatchJobs
import graft.operators.MergeUpsert

class BatchJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val bars = Seq(
    ("AAPL", "2024-01-01", 10.0, 15.0, 9.0, 12.0, 100L, 1),
    ("AAPL", "2024-01-01", 10.0, 15.0, 9.0, 12.0, 100L, 2), // dup row (consumer replay)
    ("AAPL", "2024-01-02", 12.0, 14.0, 11.0, 13.0, 120L, 1),
    ("MSFT", "2024-01-01", 20.0, 22.0, 19.5, 21.0, 300L, 1)
  ).toDF("symbol", "date", "open", "high", "low", "close", "volume", "seq")

  test("daily metrics: dedup + rollup + daily_change with declared schema") {
    val m = BatchJobs.dailyMetrics(bars, Seq(col("seq")))
    assert(m.columns.toSeq == Seq("symbol", "date", "daily_open", "daily_high",
      "daily_low", "daily_volume", "daily_close", "daily_change"))
    assert(m.count() == 3) // dup collapsed
    val a = m.filter($"symbol" === "AAPL" && $"date" === "2024-01-01").head()
    assert(a.getAs[Double]("daily_open") == 10.0 && a.getAs[Double]("daily_close") == 12.0)
    assert(math.abs(a.getAs[Double]("daily_change") - 20.0) < 1e-9) // (12-10)/10*100
  }

  test("partitioned CSV writer round-trips with symbol partition recovery") {
    val dir = Files.createTempDirectory("graft_daily").toString
    val m = BatchJobs.dailyMetrics(bars, Seq(col("seq")))
    BatchJobs.writeDaily(m, dir, "2024-01-02")
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$dir/date=2024-01-02")
    // partitionBy drops symbol from file contents but the reader
    // recovers it from the path (the reference loaders re-parse it by
    // hand, load_to_snowflake.py:123-131 — Spark does it natively)
    assert(back.columns.contains("symbol"))
    assert(back.count() == 3)
  }

  test("warehouse-style upsert flow: stamped merge is idempotent on PK") {
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val target = Seq(("AAPL", "2024-01-01", 1.0, t0)).toDF("symbol", "date", "daily_close", "last_updated")
    val src = Seq(("AAPL", "2024-01-01", 2.0), ("MSFT", "2024-01-01", 3.0)).toDF("symbol", "date", "daily_close")
    val t1 = java.sql.Timestamp.valueOf("2024-06-02 00:00:00")
    val once = MergeUpsert.upsertStamped(target, src, Seq("symbol", "date"), t1)
    val twice = MergeUpsert.upsertStamped(once, src, Seq("symbol", "date"), t1)
    assert(once.count() == 2)
    assert(twice.orderBy("symbol").collect().toSeq == once.orderBy("symbol").collect().toSeq)
    assert(once.filter($"symbol" === "AAPL").head().getAs[Double]("daily_close") == 2.0)
  }

  test("bucket-store compaction: fewer files, identical data, replay dedup folded") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // simulate many micro-batches, incl. a replayed one (same bucket,
    // higher batch_id — must be dropped by compaction, not doubled)
    (0 until 6).foreach { b =>
      Seq(("A", 1704067200L + b * 300L, 5L, b.toLong))
        .toDF("symbol", "bucket_start", "n", "batch_id")
        .write.mode("append").partitionBy("symbol").parquet(dir)
    }
    Seq(("A", 1704067200L, 5L, 99L)).toDF("symbol", "bucket_start", "n", "batch_id")
      .write.mode("append").partitionBy("symbol").parquet(dir)
    val want = graft.streaming.StreamPipeline.readBuckets(spark, dir)
      .select("symbol", "bucket_start", "n").collect().map(_.toString).sorted.toSeq
    val (before, after) = BatchJobs.compactBuckets(spark, dir)
    assert(after < before, s"no compaction: $before -> $after")
    val got = graft.streaming.StreamPipeline.readBuckets(spark, dir)
      .select("symbol", "bucket_start", "n").collect().map(_.toString).sorted.toSeq
    assert(got == want, "compaction changed the logical content")
    // the store keeps accepting streamed appends after the swap
    graft.streaming.StreamPipeline.appendBuckets(Seq(("A", 1704069000L, 2L, 7L))
      .toDF("symbol", "bucket_start", "n", "batch_id"), dir)
    assert(graft.streaming.StreamPipeline.readBuckets(spark, dir).count() == want.size + 1)
  }
}
