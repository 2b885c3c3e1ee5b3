package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.operators.DailyCloses

/** `DailyCloses.fold` folds raw ticks into a state frame as one
  * aggregate over store ∪ ticks; it must equal the state of all ticks
  * — under late ticks, redelivered ticks and ticks that `state`
  * filters out — and run one exchange. */
class DailyClosesSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s"2024-01-0$s")

  private lazy val a = Seq(
    ("X", ts("1 10:00:00"), 1L, 10.0),
    ("X", ts("1 15:00:00"), 2L, 11.0),
    ("X", ts("2 10:00:00"), 3L, 12.0),
    ("Y", ts("1 11:00:00"), 4L, 20.0)
  ).toDF("event_type", "ts", "event_id", "value")

  private lazy val b = Seq(
    ("X", ts("1 15:00:00"), 2L, 11.0), // redelivered from a
    ("X", ts("1 09:00:00"), 5L, 9.0),  // late: earlier than a's close
    ("X", ts("2 16:00:00"), 6L, 0.0),  // later, but value <= 0: dropped
    ("Y", ts("1 12:00:00"), 7L, -1.0), // later, but value <= 0: dropped
    ("Y", ts("1 11:00:00"), 8L, 21.0), // same ts, higher event_id: wins
    ("Z", ts("3 10:00:00"), 9L, 30.0), // a new instrument
    ("Z", ts("3 10:00:00"), 9L, 30.0)  // delivered twice in one batch
  ).toDF("event_type", "ts", "event_id", "value")

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("fold(state(a), b) == state(a ∪ b), including redelivery and value <= 0") {
    val got = DailyCloses.fold(DailyCloses.state(a), b)
    val want = DailyCloses.state(a.unionByName(b))
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
    assert(rows(DailyCloses.fold(got, b)) == rows(want), "replaying b is a no-op")
    val y = got.filter($"event_type" === "Y").select("event_id").as[Long].collect().toSeq
    assert(y == Seq(8L))
  }

  test("fold over a stored state and a tick frame: one exchange") {
    val p = Files.createTempDirectory("graft_closes_fold").toString + "/st"
    DailyCloses.state(a).write.parquet(p)
    val f = DailyCloses.fold(graft.core.Tables.parquet(spark, p), b)
    f.collect()
    val plan = f.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, plan.toString)
  }
}
