package graft.tools

import org.apache.spark.scheduler._

/** One-query job/stage trace: prints every job (with its group and
  * callsite) and every stage (with exec time and its parent job) for
  * a single run of a declared query — the attribution tool for "which
  * ACTION re-executed that subtree" questions PlanStats's flat stage
  * log cannot answer.
  *
  *   runMain graft.tools.JobTrace <query> <sfDir>
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val name = args(0); val dir = args(1)
    val spark = graft.core.GraftSession("jobtrace", 32)
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val cs = Option(js.properties).map(_.getProperty("callSite.short", "?")).getOrElse("?")
        val desc = Option(js.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
        jobInfo.put(js.jobId, s"callsite=$cs desc=${desc.take(60)}")
        // a stage reused by a later job (skipped stage) stays attributed
        // to the job that first ran it
        js.stageIds.foreach(s => stageToJob.putIfAbsent(s, js.jobId))
        println(s"[job] id=${js.jobId} stages=${js.stageIds.mkString(",")} $cs ${desc.take(60)}")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        val jid = Option(stageToJob.get(sc.stageInfo.stageId)).getOrElse(-1)
        println(f"[stage] id=${sc.stageInfo.stageId}%-4d job=$jid%-3d " +
          f"exec=${if (m != null) m.executorRunTime / 1e3 else -1.0}%7.2f s " +
          f"tasks=${sc.stageInfo.numTasks}%-3d ${sc.stageInfo.name.take(70)}")
        sc.stageInfo.rddInfos.sortBy(_.id).foreach(r =>
          println(s"    [rdd] ${r.id} ${r.name} ${r.scope.map(_.name).getOrElse("")}"))
      }
    })
    val fn = graft.SparkEntry.queries(name)
    // warmup
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    System.gc()
    println("=== measured run ===")
    spark.sparkContext.setJobDescription(s"$name BUILD")
    val df = fn(spark, dir)
    spark.sparkContext.setJobDescription(s"$name SAVE")
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val tSave1 = (System.nanoTime() - t1) / 1e9
    spark.sparkContext.setJobDescription(s"$name SAVE2")
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val tSave2 = (System.nanoTime() - t2) / 1e9
    println(f"[jobtrace] save1=$tSave1%.2f s save2=$tSave2%.2f s")
    Thread.sleep(500)
    spark.stop()
  }
}
