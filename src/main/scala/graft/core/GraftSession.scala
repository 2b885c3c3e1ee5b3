package graft.core

import org.apache.spark.sql.SparkSession

/** The program's one session factory: tests, perfbench and every main
  * (`Bench`, `Verify`, `Demo`, `ScaleProbe`, `StreamBench`) build
  * through it, so they all run one config.
  *
  * Mirrors the settings the reference fixes at
  * `src/spark/jobs/spark_stream_processor.py:35-43` (graceful shutdown,
  * explicit shuffle parallelism) but scaled for the target: AQE on,
  * shuffle partitions sized to cores instead of the reference's
  * hard-coded 2, ANSI off for arithmetic parity with the reference's
  * Spark 3.4 defaults (division-by-zero -> null, lenient casts), and a
  * UTC session timezone so timestamp semantics match the DuckDB oracle.
  *
  * The two parquet confs are builder configs, so they land in the
  * `SparkConf` and every `spark.newSession()` inherits them; reading a
  * table ([[Tables]]) sets nothing on the session.
  */
object GraftSession {
  /** Round-16 optimization (guide §6 input split size): the split
    * planner floors split size at openCostInBytes (default 4 MB), so a
    * single multi-MB parquet file fans out to only a handful of scan
    * tasks however many cores are idle (q193's whole cost was ONE
    * 3-task stage on 32 cores). 1 MB reflects the actual open cost on
    * local/NVMe storage; the formula's bytes-per-core term
    * (totalBytes / defaultParallelism) still governs at any real scale,
    * where files are 100 MB+ and maxPartitionBytes is the binding cap —
    * so this floors small-file scans scale-adaptively instead of at a
    * constant 4 MB. */
  private val OpenCostBytes = 1L << 20

  /** `SPARK_GRAFT_CPUS` as a core count; a non-numeric value (`"*"`)
    * falls back to the host's cores. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(
      _.toIntOption.getOrElse(Runtime.getRuntime.availableProcessors))

  def apply(appName: String = "graft", cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.streaming.stopGracefullyOnShutdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.openCostInBytes", OpenCostBytes.toString)
      // events.ts may be stored as TIMESTAMP(NANOS), which Spark reads
      // only as long ns-since-epoch; Tables converts it to µs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Read isAdjustedToUTC=false parquet timestamps as TimestampType
      // DIRECTLY instead of TIMESTAMP_NTZ + cast: under the UTC session
      // the values are identical, but the cast-free schema lets every
      // shipdate/orderdate range predicate reach the parquet scan as a
      // PushedFilter — with the cast Project in between, NO date filter
      // in the battery pushed down (PlanAuditSpec q111 caught it).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
