package graft

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.batch.BatchJobs
import graft.operators.{Dedup, Ohlcv}

/** `BatchJobs.dailyMetrics` is one `min_by` aggregate. The reference
  * below is the formulation it replaced — keep-first dedup, the
  * `Ohlcv.rollup`, a second groupBy for open/high/low, and the inner
  * join on (symbol, date) — and both must give the same rows and the
  * same schema, nullability included, on every input shape that could
  * tell them apart. */
class DailyMetricsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def reference(bars: DataFrame, order: Seq[Column]): DataFrame = {
    val deduped = Dedup.keepFirst(bars, Seq("symbol", "date"), order)
    Ohlcv.rollup(deduped, keys = Seq(col("symbol"), col("date")), keyNames = Seq("symbol", "date"),
      valueCol = col("close"), order = order, volCol = Some(col("volume"))
    ).join(
      deduped.groupBy(col("symbol"), col("date")).agg(
        first(col("open")).as("daily_open"), max(col("high")).as("daily_high"),
        min(col("low")).as("daily_low")),
      Seq("symbol", "date")
    ).select(
      col("symbol"), col("date"), col("daily_open"), col("daily_high"), col("daily_low"),
      col("volume").as("daily_volume"), col("close").as("daily_close"),
      Ohlcv.dailyChange(col("daily_open"), col("close")).as("daily_change"))
  }

  private def frame(volume: DataType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("symbol", StringType), StructField("date", DateType),
      StructField("open", DoubleType), StructField("high", DoubleType),
      StructField("low", DoubleType), StructField("close", DoubleType),
      StructField("volume", volume), StructField("seq", LongType),
      StructField("seq2", IntegerType, nullable = false))))

  private val d1 = Date.valueOf("2024-01-01")
  private val d2 = Date.valueOf("2024-01-02")

  /** Every case in one frame: keys never collide across cases. */
  private def bars(vol: Long => Any, volType: DataType): DataFrame = frame(volType, Seq(
    // duplicate keys with distinct order values: seq 1 is kept
    Row("A", d1, 10.0, 15.0, 9.0, 12.0, vol(100), 2L, 0),
    Row("A", d1, 11.0, 16.0, 8.0, 13.0, vol(200), 1L, 0),
    Row("A", d1, 12.0, 17.0, 7.0, 14.0, vol(300), 3L, 0),
    Row("A", d2, 12.0, 14.0, 11.0, 13.0, vol(120), 1L, 0),
    // a null order value sorts first
    Row("B", d1, 20.0, 22.0, 19.5, 21.0, vol(300), 5L, 0),
    Row("B", d1, 21.0, 23.0, 19.0, 22.0, vol(310), null, 0),
    // ties on seq broken by seq2 (the two-column order)
    Row("C", d1, 30.0, 31.0, 29.0, 30.5, vol(400), 7L, 2),
    Row("C", d1, 31.0, 32.0, 28.0, 31.5, vol(410), 7L, 1),
    // null keys: dropped
    Row(null, d1, 1.0, 1.0, 1.0, 1.0, vol(1), 1L, 0),
    Row("D", null, 1.0, 1.0, 1.0, 1.0, vol(1), 1L, 0),
    Row(null, null, 1.0, 1.0, 1.0, 1.0, vol(1), 1L, 0),
    // null value fields on the kept row stay null; zero open: null change
    Row("E", d1, null, null, null, null, null, 1L, 0),
    Row("E", d1, 5.0, 6.0, 4.0, 5.5, vol(50), 2L, 0),
    Row("F", d1, 0.0, 1.0, 0.0, 1.0, vol(60), 1L, 0),
    Row("F", d2, 3.0, null, 2.0, null, vol(70), 1L, 0)))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSame(in: DataFrame, order: Seq[Column]): Unit = {
    val got = BatchJobs.dailyMetrics(in, order)
    val want = reference(in, order)
    assert(got.schema == want.schema, s"schema:\n${got.schema.treeString}\nvs\n${want.schema.treeString}")
    assert(rows(got) == rows(want))
  }

  private val volumes = Seq[(String, DataType, Long => Any)](
    ("bigint", LongType, v => v),
    ("int", IntegerType, v => v.toInt),
    ("decimal", DecimalType(12, 2), v => new java.math.BigDecimal(v).movePointLeft(1)),
    ("double", DoubleType, v => v.toDouble))

  volumes.foreach { case (name, t, v) =>
    test(s"dailyMetrics == keep-first + rollup + join, $name volume, one and two order columns") {
      val in = bars(v, t)
      // C ties on seq alone: only the two-column order picks its row
      assertSame(in.filter(!(col("symbol") <=> lit("C"))), Seq(col("seq")))
      assertSame(in, Seq(col("seq"), col("seq2")))
    }
  }

  test("dailyMetrics keeps the declared shape: int volume sums to bigint, null keys dropped") {
    val m = BatchJobs.dailyMetrics(bars(_.toInt, IntegerType), Seq(col("seq"), col("seq2")))
    assert(m.schema("daily_volume").dataType == LongType)
    val kept = m.collect().map(r => (r.getString(0), r.getDate(1), r.get(2))).toSet
    assert(kept.size == 7 && kept.forall { case (s, d, _) => s != null && d != null })
    assert(kept.contains(("A", d1, 11.0)) && kept.contains(("B", d1, 21.0)) &&
      kept.contains(("C", d1, 31.0)) && kept.contains(("E", d1, null)))
  }

  test("dailyMetrics and Ohlcv.rollup reject a descending order column") {
    val in = bars(v => v, LongType)
    intercept[IllegalArgumentException](BatchJobs.dailyMetrics(in, Seq(col("seq").desc)))
    intercept[IllegalArgumentException](BatchJobs.dailyMetrics(in, Seq(col("seq2"), col("seq").desc)))
    intercept[IllegalArgumentException] {
      Ohlcv.rollup(in, Seq(col("symbol")), Seq("symbol"), col("close"), Seq(col("seq").desc))
    }
  }

  test("dailyMetrics plan: one exchange, no window") {
    val m = BatchJobs.dailyMetrics(bars(v => v, LongType), Seq(col("seq")))
    m.collect()
    val plan = m.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, plan.toString)
    assert(collect(plan) { case w: WindowExec => w }.isEmpty, plan.toString)
  }
}
