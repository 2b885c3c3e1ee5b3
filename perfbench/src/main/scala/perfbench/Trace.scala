package perfbench

import java.io.PrintWriter

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchHooks, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the program, with Spark's
  * own listener data attributed to them.
  *
  * A span is (name, start, end, parent, op id). Each span runs its
  * Spark jobs under its own job group, so the SparkListener can charge
  * jobs, stages, tasks, CPU, GC, shuffle, spill and output bytes to it;
  * a streaming query's jobs run under the query's run id, which
  * `bindGroup` maps to the span that started the query. Finished SQL
  * executions add Catalyst's phase times and the files their scans
  * read. Micro-batches come from the StreamingQueryListener as child
  * spans of their query's span, each split into its progress phases.
  *
  * With tracing off every method is a pass-through and no listener is
  * registered. Spans stay in memory and are written as JSONL at the
  * end, each with its self time: its duration minus the part of it
  * that its child spans cover.
  */
final class Trace(val on: Boolean) {
  import Trace._

  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  def epochMsToNs(ms: Long): Long = t0Ns + (ms - t0EpochMs) * 1000000L

  final class Span(val id: Int, val name: String, val parent: Int, val op: Long, val start: Long) {
    @volatile var end: Long = -1L
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    def ms: Double = (end - start) / 1e6
    def add(k: String, v: Double): Unit = attrs.synchronized { attrs(k) = attrs.getOrElse(k, 0d) + v }
  }

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0
  private var sc: SparkContext = _
  private val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Counters]()

  private def newSpan(name: String, parent: Int, op: Long, start: Long): Span = spans.synchronized {
    val s = new Span(nextId, name, parent, op, start)
    nextId += 1
    spans += s
    s
  }

  /** Run `body` inside a span named `name`; its Spark jobs are charged
    * to the span. Returns the body's value. */
  def span[A](name: String, op: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val s = newSpan(name, current, op, System.nanoTime())
      val prevGroup = Option(sc).flatMap(c => Option(c.getLocalProperty("spark.jobGroup.id")))
      val prevCurrent = current
      current = s.id
      Option(sc).foreach(_.setJobGroup(groupOf(s.id), name))
      try body
      finally {
        s.end = System.nanoTime()
        current = prevCurrent
        Option(sc).foreach { c =>
          prevGroup match {
            case Some(g) => c.setJobGroup(g, "")
            case None    => c.clearJobGroup()
          }
        }
      }
    }

  /** Id of the innermost open span (0 outside every span). */
  def currentSpan: Int = current

  /** Charge the jobs run under `group` (a streaming query's run id) to
    * span `spanId`. */
  def bindGroup(group: String, spanId: Int): Unit = if (on) groupSpan.put(group, spanId)

  /** Register the listeners on a new session. */
  def attach(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(new JobListener)
    spark.streams.addListener(new ProgressListener)
  }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = if (on && sc != null && !sc.isStopped) PerfbenchHooks.drainListenerBus(sc)

  /** Charge the per-group counters to their spans. Call once, after the
    * last Spark job of the run and a `drain()`. */
  def settle(): Unit = if (on) {
    counters.asScala.foreach { case (g, c) =>
      val id = Option(groupSpan.get(g)).map(_.intValue).getOrElse(
        if (g.startsWith("pb-")) g.stripPrefix("pb-").toInt else 0)
      byId.get(id).foreach(s => c.values.foreach { case (k, v) => s.add(k, v) })
    }
  }

  private def byId: Map[Int, Span] = spans.synchronized(spans.map(s => s.id -> s).toMap)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Spans in the subtree of `root` (inclusive). */
  def subtree(root: Int): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def walk(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: walk(s.id))
    byId.get(root).toSeq ++ walk(root)
  }

  /** Sum of attribute `k` over `ss`. */
  def sum(ss: Seq[Span], k: String): Double = ss.map(_.attrs.getOrElse(k, 0d)).sum

  /** Write every span and then `summary` lines as JSONL. */
  def write(path: String, summary: Seq[String]): Unit = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val w = new PrintWriter(path)
    try {
      ss.foreach { s =>
        val self = (s.end - s.start - covered(s, kids.getOrElse(s.id, Nil))) / 1e6
        val attrs = s.attrs.map { case (k, v) => s""","$k":${Json.num(v)}""" }.mkString
        w.println(s"""{"type":"span","id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
          s""""op":${s.op},"start_ms":${Json.num((s.start - t0Ns) / 1e6)},"end_ms":${Json.num((s.end - t0Ns) / 1e6)},""" +
          s""""dur_ms":${Json.num(s.ms)},"self_ms":${Json.num(self)}$attrs}""")
      }
      summary.foreach(w.println)
    } finally w.close()
  }

  /** Nanoseconds of `s` covered by the union of its children. */
  private def covered(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private def counterFor(group: String): Counters =
    counters.computeIfAbsent(Option(group).getOrElse(""), _ => new Counters)

  private final class JobListener extends SparkListener {
    private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    private val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobGroup.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(id => stageGroup.put(id, g))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
        .foreach(x => execGroup.putIfAbsent(x, g))
      counterFor(g).add("jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.get(e.jobId)).foreach { t0 =>
        counterFor(jobGroup.get(e.jobId)).add("job_ms", (e.time - t0).toDouble)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counterFor(stageGroup.get(e.stageInfo.stageId)).add("stages", 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counterFor(stageGroup.get(e.stageId))
      c.add("tasks", 1)
      c.add("task_ms", e.taskInfo.duration.toDouble)
      Option(e.taskMetrics).foreach { m =>
        c.add("cpu_ms", m.executorCpuTime / 1e6)
        c.add("gc_ms", m.jvmGCTime.toDouble)
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        c.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        c.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val c = counterFor(execGroup.getOrDefault(end.executionId, ""))
        PerfbenchHooks.queryExecution(end).foreach { qe =>
          val ph = qe.tracker.phases
          def phase(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0d)
          c.add("analyze_ms", phase("analysis"))
          c.add("optimize_ms", phase("optimization"))
          c.add("plan_ms", phase("planning"))
          val files = ScanFiles.collect(qe.executedPlan) {
            case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }.sum
          c.add("files_read", files.toDouble)
        }
      case _ =>
    }
  }

  private final class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val parent = Option(groupSpan.get(p.runId.toString)).map(_.intValue).getOrElse(0)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = epochMsToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val b = newSpan("stream.batch", parent, p.batchId, start)
      b.end = start + d.getOrElse("triggerExecution", 0L) * 1000000L
      b.add("input_rows", p.numInputRows.toDouble)
      d.foreach { case (k, ms) => b.add(s"${k}_ms", ms.toDouble) }
      p.stateOperators.foreach { so =>
        b.add("state_rows", so.numRowsTotal.toDouble)
        b.add("state_mem_bytes", so.memoryUsedBytes.toDouble)
        b.add("state_commit_ms", so.commitTimeMs.toDouble)
      }
      // progress phases in trigger order, laid end to end
      var t = start
      PhaseOrder.foreach { k =>
        d.get(k).filter(_ > 0).foreach { ms =>
          val s = newSpan(s"stream.$k", b.id, p.batchId, t)
          t += ms * 1000000L
          s.end = math.min(t, b.end)
        }
      }
    }
  }
}

object Trace {
  def groupOf(spanId: Int): String = s"pb-$spanId"

  /** Progress `durationMs` keys in the order a trigger runs them. */
  val PhaseOrder: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private object ScanFiles extends AdaptiveSparkPlanHelper

  final class Counters {
    val values: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
    def add(k: String, v: Double): Unit = synchronized { values(k) = values.getOrElse(k, 0d) + v }
  }
}
