package graft.core

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSessionConf, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the driver testdata (TESTDATA.md): one parquet per table
  * under `sfDir`. All timestamp columns are normalized to session-TZ
  * (UTC) `TimestampType` so that window/epoch functions behave
  * identically to the DuckDB oracle, which reads the same parquet as
  * naive timestamps. (Spark 4 infers parquet `isAdjustedToUTC=false`
  * as TIMESTAMP_NTZ by default; under a UTC session the cast is
  * instant-preserving.)
  *
  * [[parquet]] is the program's one parquet reader: tables, maintained
  * stores and serves all open through it.
  */
object Tables {
  /** Columns stored as parquet TIMESTAMP(NANOS) (unsupported by Spark's
    * vectorized reader): read as long ns-since-epoch and truncated to
    * microseconds with integral division (a double division would lose
    * precision above 2^53 ns). Needs `nanosAsLong`, which
    * [[GraftSession]] sets. The DuckDB oracle applies the matching
    * `::TIMESTAMP` (ns->us truncation) cast. */
  private val nanosCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  /** Opens one testdata table. Sets nothing on `spark`: under
    * [[GraftSession]]'s parquet confs a naive timestamp already reads
    * as TimestampType and a NANOS column as long; on any other session
    * the NTZ cast below still gives the same values, and a NANOS column
    * raises Spark's own error. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    val tsFixed = nanosCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      if (d.schema.fieldNames.contains(c) && d.schema(c).dataType == LongType)
        d.withColumn(c, expr(s"timestamp_micros($c DIV 1000)"))
      else d
    }
    tsFixed.schema.fields.foldLeft(tsFixed) { (d, f) =>
      f.dataType match {
        case TimestampNTZType => d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _                => d
      }
    }
  }

  /** `spark.read.parquet(paths: _*)` without its schema-inference job.
    * Spark infers a parquet schema by running a job that reads the
    * footer of one data file (`mergeSchemasInParallel`); this reads
    * that footer on the driver instead and converts it with Spark's own
    * `readSchemaFromFooter` + `ParquetToSparkSchemaConverter`, built
    * from this session's conf, so the schema is the one inference
    * gives (nanosAsLong, inferTimestampNTZ and the Spark schema stored
    * in the footer included). The footer is that of the first data file
    * found, taking `paths` in order and each directory in name order,
    * skipping the names Spark's file index hides (`_`/`.` prefixes:
    * `_SUCCESS`, `.crc` files, the `_graft_batch_<id>` commit marker)
    * below each root. Partition columns are not in a footer: Spark
    * still discovers and appends them (`bucket_day=` of the tick
    * store), without a job. When no path holds a data file, the plain
    * read raises Spark's own error (no such path, or unable to infer). */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.iterator.flatMap { p =>
      val path = new Path(p)
      firstDataFile(path.getFileSystem(conf), path)
    }.nextOption() match {
      case Some(file) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(GraftSessionConf(spark)))
        spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Spark's `HadoopFSUtils.shouldFilterOutPathName` for data files. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def firstDataFile(fs: FileSystem, root: Path): Option[FileStatus] = {
    def below(dir: Path): Iterator[FileStatus] =
      fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName)).sortBy(_.getPath.getName)
        .iterator.flatMap(s => if (s.isDirectory) below(s.getPath) else Iterator(s).filter(_.getLen > 0))
    try {
      val st = fs.getFileStatus(root)
      if (st.isDirectory) below(root).nextOption() else Some(st)
    } catch { case _: FileNotFoundException => None }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
