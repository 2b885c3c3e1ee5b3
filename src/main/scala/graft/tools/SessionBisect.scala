package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Harness-difference bisector (round-17): the SAME query measured
  * 1.4 s under graft.Bench's session and ~25 s under GraftSession's
  * (PlanStats/QBench) on the same host — this builds a session from a
  * comma-separated feature list and times one query, so the
  * discriminating config/harness feature can be found empirically.
  *
  *   runMain graft.tools.SessionBisect <query> <sfDir> <features>
  *   features: nanos,opencost1m,graceful  (any subset, or "none")
  */
object SessionBisect {
  def main(args: Array[String]): Unit = {
    val name = args(0); val dir = args(1)
    val feats = args.lift(2).map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    var b = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (feats("nanos")) b = b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (feats("opencost1m")) b = b.config("spark.sql.files.openCostInBytes", "1048576")
    if (feats("graceful")) b = b.config("spark.streaming.stopGracefullyOnShutdown", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null && sc.stageInfo.numTasks <= 4 && m.executorRunTime > 2000)
          println(f"[bisect]   hot small stage: tasks=${sc.stageInfo.numTasks} " +
            f"exec=${m.executorRunTime / 1e3}%.1f s")
      }
    })
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[bisect] $name feats=${feats.mkString("+")} run$i time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
