package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point; `perfbench/run.py` builds the
  * program and launches it:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir> --cores <n> --bench <BENCHMARK.json>
  *                  --data <dir>
  *
  * One run: set the workload up `SetupReps` times (the first from JVM
  * start), warm it up once, read the host canary, measure for `--seconds`, read the
  * canary again, run the workload's correctness gates, and print every
  * metric by name with its unit. The last line of standard output is
  * the result object, with the metrics BENCHMARK.json lists, in its
  * order and with its units. A failed gate or operation makes the run
  * exit 1.
  */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, cores: Int, bench: String, data: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"), need("cores").toInt, need("bench"), need("data"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "tick_stream" => new TickStream
      case "eod_batch"   => new EodBatch
      case "query_mix"   => new QueryMix
      case other         => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spec = Spec.read(a.bench)
    val trace = new Trace(a.trace)
    val heap = new Heap
    val nproc = Runtime.getRuntime.availableProcessors()
    println(s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cores=${a.cores} nproc=$nproc")

    val setupS = ArrayBuffer.empty[Double]
    val sessionMs = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (rep <- 0 until SetupReps) {
      if (spark != null) { w.teardown(ctx); spark.stop() }
      val t0 = if (rep == 0) ManagementFactory.getRuntimeMXBean.getStartTime else System.currentTimeMillis()
      val ts = System.nanoTime()
      spark = trace.span("GraftSession", rep)(graft.core.GraftSession(s"perfbench-${a.workload}", a.cores))
      sessionMs += (System.nanoTime() - ts) / 1e6
      trace.attach(spark)
      ctx = Ctx(spark, a, trace, heap, new File(a.work, s"rep$rep").getPath)
      trace.span("setup", rep)(w.setup(ctx))
      setupS += (System.currentTimeMillis() - t0) / 1e3
      println(f"setup rep $rep ${setupS.last}%.3f s")
    }
    val w0 = System.nanoTime()
    trace.span("warmup")(w.warmup(ctx))
    val warmupS = (System.nanoTime() - w0) / 1e9
    println(f"warmup $warmupS%.3f s")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(name: String): Unit = println(f"phase $name done at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.3f s")
    phase("setup")
    val canaryPre = graft.HostCanary.measure(a.cores)
    phase("canary_pre")

    val result = trace.span("measure")(w.measure(ctx))
    phase("measure")
    heap.checkpoint()
    val canaryPost = graft.HostCanary.measure(a.cores)
    phase("canary_post")

    val gates = trace.span("gates")(w.check(ctx))
    phase("gates")
    gates.foreach { case (name, ok) => println(s"gate $name ${if (ok) "ok" else "FAILED"}") }
    val gateFails = gates.count(!_._2)
    val failed = result.failed + gateFails
    val attempted = result.attempted + gates.size

    val raw = Spec.fill(spec.endToEnd,
      result.e2e ++ Map("setup_s" -> (Stats.median(setupS.toSeq) + warmupS), "peak_heap_mb" -> heap.peakMb),
      required = true)
    val hostNsPerOp = (canaryPre._1 + canaryPost._1) / 2
    val e2e = raw.map(m => HostSpeed.normalize(m, hostNsPerOp))
    println(f"host cores=${a.cores} nproc=$nproc canary_pre_ns_per_op=${canaryPre._1}%.4f " +
      f"canary_pre_allcore_ratio=${canaryPre._2}%.3f canary_post_ns_per_op=${canaryPost._1}%.4f " +
      f"canary_post_allcore_ratio=${canaryPost._2}%.3f")
    println(s"setup_s reps=${setupS.map(Json.num).mkString(",")}")
    result.named.foreach(m => println(s"metric ${m.name} ${Json.num(m.value)} ${m.unit}"))
    raw.foreach(m => println(s"end_to_end_raw ${m.name} ${Json.num(m.value)} ${m.unit}"))
    e2e.foreach(m => println(s"end_to_end ${m.name} ${Json.num(m.value)} ${m.unit}"))

    new File(a.out).mkdirs()
    val hostJson = s""""cores":${a.cores},"nproc":$nproc,"canary_pre":[${Json.num(canaryPre._1)},${Json.num(canaryPre._2)}],""" +
      s""""canary_post":[${Json.num(canaryPost._1)},${Json.num(canaryPost._2)}]"""
    val metrics: Seq[Metric] =
      if (!a.trace) e2e
      else {
        trace.drain()
        trace.settle()
        val layers = Spec.fill(spec.perLayer,
          Layers.common(trace, a.cores, Stats.median(sessionMs.toSeq)) ++ w.layers(ctx), required = false)
        val untraced = new File(a.out, s"${a.workload}.untraced.json")
        val overhead =
          if (!untraced.exists) s"""{"type":"tracing_overhead","note":"no untraced run of ${a.workload} in this checkout yet"}"""
          else {
            val base = Json.flatNumbers(scala.io.Source.fromFile(untraced).mkString)
            val parts = e2e.flatMap(m => base.get(m.name).filter(_ != 0).map(b =>
              s""""${m.name}":{"traced":${Json.num(m.value)},"untraced":${Json.num(b)},"ratio":${Json.num(m.value / b)}}"""))
            s"""{"type":"tracing_overhead",${parts.mkString(",")}}"""
          }
        val path = new File(a.out, s"trace-${a.workload}-seed${a.seed}.jsonl").getPath
        trace.write(path, Seq(
          s"""{"type":"run","workload":"${a.workload}","seed":${a.seed},"seconds":${a.seconds},$hostJson}""",
          s"""{"type":"end_to_end_traced",${e2e.map(_.json).mkString(",")}}""",
          s"""{"type":"per_layer",${layers.map(_.json).mkString(",")}}""",
          overhead))
        println(s"trace $path")
        println(s"tracing_overhead $overhead")
        layers.foreach(m => println(s"per_layer ${m.name} ${Json.num(m.value)} ${m.unit}"))
        layers
      }
    if (!a.trace) {
      val pw = new java.io.PrintWriter(new File(a.out, s"${a.workload}.untraced.json"))
      try pw.println(s"""{${e2e.map(m => s""""${m.name}":${Json.num(m.value)}""").mkString(",")},$hostJson}""")
      finally pw.close()
    }
    spark.stop()
    phase("stop")
    val correct = failed == 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${metrics.map(_.json).mkString(",")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** What a workload hands the harness after its measured phase: its
  * end-to-end values by BENCHMARK.json name, and the same numbers under
  * the workload's own names for the log. */
final case class Measured(attempted: Long, failed: Long, e2e: Map[String, Double], named: Seq[Metric])

final case class Metric(name: String, value: Double, unit: String) {
  def json: String = s""""$name":{"value":${Json.num(value)},"unit":"$unit"}"""
}

final case class Ctx(spark: SparkSession, args: Main.Args, trace: Trace, heap: Heap, dir: String)

trait Workload {
  /** Make inputs from the seed, seed stores, warm up. Runs once per
    * setup repetition against a fresh session and directory. */
  def setup(ctx: Ctx): Unit
  /** Runs once, after the last setup, so that the measured operations
    * run warm code. Its time is part of `setup_s`. */
  def warmup(ctx: Ctx): Unit = ()
  def teardown(ctx: Ctx): Unit = Files.delete(new File(ctx.dir))
  def measure(ctx: Ctx): Measured
  /** Correctness gates, each (name, passed). */
  def check(ctx: Ctx): Seq[(String, Boolean)]
  /** Per-layer values by name from a traced run; names the workload
    * does not exercise may be left out. */
  def layers(ctx: Ctx): Map[String, Double]
}

/** The end-to-end numbers are scaled to one host speed. On a shared
  * host the speed can drift by a quarter within minutes, which moves
  * every wall-clock number of a run alike; the `HostCanary` spin (ns
  * per op, the mean of the readings before and after measuring) tracks
  * that drift. Times are multiplied by
  * `RefNsPerOp / canary`, rates by its inverse; memory is left as
  * measured. The raw numbers are printed too (`end_to_end_raw`). */
object HostSpeed {
  val RefNsPerOp = 2.5

  def normalize(m: Metric, hostNsPerOp: Double): Metric = m.unit match {
    case "ms" | "s" => m.copy(value = m.value * RefNsPerOp / hostNsPerOp)
    case "1/s"      => m.copy(value = m.value * hostNsPerOp / RefNsPerOp)
    case _          => m
  }
}

/** Highest live heap: the heap in use right after a full collection,
  * read at checkpoints between operations (never inside a timed one). */
final class Heap {
  private var peak = 0L
  def checkpoint(): Unit = {
    // the second collection frees what Spark's cleaner released after
    // the first (shuffle and broadcast blocks of finished jobs)
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

/** The metric names and units BENCHMARK.json lists, the one list of
  * them. */
final case class Spec(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

object Spec {
  def read(path: String): Spec = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
    def list(key: String) = root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    Spec(list("end_to_end"), list("per_layer"))
  }

  /** `values` as metrics in the order and units of `names`. An unknown
    * name is an error; so is a missing one when `required`, and
    * otherwise it reads 0 (a layer the workload does not exercise). */
  def fill(names: Seq[(String, String)], values: Map[String, Double], required: Boolean): Seq[Metric] = {
    val unknown = values.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"metrics not in BENCHMARK.json: ${unknown.mkString(", ")}")
    names.map { case (n, u) =>
      require(!required || values.contains(n), s"no value for metric $n")
      Metric(n, values.getOrElse(n, 0d), u)
    }
  }
}

object Files {
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** (files, bytes) under `root`; `pred` selects the files counted. */
  def count(root: File, pred: File => Boolean = _ => true): (Long, Long) =
    if (root.isFile) (if (pred(root)) (1L, root.length) else (0L, 0L))
    else Option(root.listFiles()).toSeq.flatten.map(count(_, pred))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  /** Top-level `"name":number` pairs of a flat JSON object. */
  def flatNumbers(s: String): Map[String, Double] =
    """"([^"]+)":(-?[0-9.eE+-]+)""".r.findAllMatchIn(s)
      .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _)).toMap
}
