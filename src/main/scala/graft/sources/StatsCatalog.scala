package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** File-level min/max statistics catalog — the Delta/Iceberg-style
  * data-skipping layer: keep one tiny stats row per data file and
  * intersect range predicates with the per-file [min, max] interval to
  * decide which files a query must open AT PLANNING TIME, before any
  * scan task launches.
  *
  * Why this exists on top of parquet's own footer stats: the built-in
  * reader still lists and opens every footer (a 100 TB table is ~10^6
  * files — a million S3 HEAD+GET round-trips per query just to learn
  * nothing matched), while a catalog holds the same information in one
  * sketch-sized table that a driver reads in milliseconds. Combined
  * with `ZOrder.cluster` layouts, a predicate on EITHER clustered
  * dimension prunes most files (LayoutSpec quantifies the bounding
  * boxes; StatsCatalogSpec asserts the end-to-end file-count drop and
  * result equality).
  *
  * The catalog is built with ONE distributed scan grouped on
  * `input_file_name()` reading only the stat columns (column pruning
  * keeps it cheap); a production writer would fold this into the write
  * itself — same table, zero extra pass. The file list a query selects
  * is driver-side by design: that is exactly what Spark's own
  * `InMemoryFileIndex` holds, and the catalog's output is strictly
  * smaller (the matching subset).
  */
object StatsCatalog {

  /** One stats row per data file under `path`: file, n_rows, and
    * min_c/max_c per requested column (original types preserved —
    * min/max of timestamps stay timestamps). min/max ignore nulls, so
    * an all-null file carries null bounds; `pruneFiles` drops such
    * files, which is sound for range predicates (NULL never satisfies
    * a range). */
  def build(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val aggs = lit(1).as("_one") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    }
    Tables.parquet(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs.tail: _*)
  }

  /** Files whose [min, max] interval intersects the closed predicate
    * interval [lo, hi] on `column` — the candidate superset a scan of
    * `column BETWEEN lo AND hi` must open. Collects the FILE LIST
    * (not data) to the driver, like any file index. */
  def pruneFiles(stats: DataFrame, column: String, lo: Any, hi: Any): Seq[String] =
    stats
      .filter(col(s"max_$column") >= lit(lo) && col(s"min_$column") <= lit(hi))
      .select(col("file"))
      .collect()
      .map(_.getString(0))
      .toSeq

  /** Per-file BLOOM catalog for POINT predicates — the lookup min/max
    * cannot serve: on a hash-partitioned or unsorted layout every
    * file spans the full key range, so range stats prune nothing, but
    * a point probe `key = v` only needs files whose bloom has all of
    * v's bits (no false negatives; false positives cost one wasted
    * file open). Size `bits` at ~10x the expected distinct keys per
    * file (~1% fp); an undersized filter saturates and stops pruning.
    * One stats row per file: (file, bloom_bits) — the same shape
    * Delta's bloom index and parquet's own bloom filters persist. */
  def buildBloom(spark: SparkSession, path: String, column: String,
                 numHashes: Int = 3, bits: Long = 65536L): DataFrame = {
    import graft.functions.Sketches
    Tables.parquet(spark, path)
      .select(input_file_name().as("file"),
        explode(array((0 until numHashes).map(j =>
          Sketches.slot(col(column), j, bits)): _*)).as("bit"))
      .groupBy(col("file"))
      .agg(collect_set(col("bit")).as("bloom_bits"))
  }

  /** Files whose bloom contains every bit of `value` — the candidate
    * superset a `column = value` probe must open. */
  def pruneFilesPoint(bloom: DataFrame, value: Long,
                      numHashes: Int = 3, bits: Long = 65536L): Seq[String] = {
    import graft.functions.Sketches
    bloom.filter((0 until numHashes).map(j =>
        array_contains(col("bloom_bits"), Sketches.slot(lit(value), j, bits))).reduce(_ && _))
      .select(col("file")).collect().map(_.getString(0)).toSeq
  }

  /** Read only the files that can contain `column BETWEEN lo AND hi`,
    * with the predicate re-applied (pruning yields a superset; the
    * residual filter still reaches the parquet scan of the survivors
    * as a PushedFilter). Returns an empty frame with the full schema
    * when nothing survives. */
  def prunedRead(spark: SparkSession, path: String, stats: DataFrame,
                 column: String, lo: Any, hi: Any): DataFrame = {
    val keep = pruneFiles(stats, column, lo, hi)
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    if (keep.isEmpty) {
      val schema = Tables.parquet(spark, path).schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else Tables.parquet(spark, keep: _*).filter(pred)
  }

  /** [[prunedRead]] with the MILLION-FILE regime gate (the
    * BpeTrain/ConnectedComponents pattern): the driver-side survivor
    * collect is counted — distributed, over the file-count-sized
    * stats table — before it is paid.
    *
    *  - survivors <= `collectGate`: the selective regime — collect
    *    the survivor paths and scan exactly those files (today's
    *    [[prunedRead]]). This is the case pruning exists for, and the
    *    collect is bounded by the gate, not by the table's file count.
    *  - survivors > `collectGate`: the unselective regime — at a
    *    million-file table a predicate that keeps most files would
    *    collect ~10^6 path strings AND hand the DataSource a
    *    million-entry path list, both driver-bound, to save almost no
    *    I/O. One whole-path scan with the predicate pushed down is
    *    strictly better: the driver holds only the listing it would
    *    hold anyway, and parquet row-group stats still skip inside
    *    each file.
    *
    * Both regimes return identical rows (the predicate is always
    * re-applied; pruning only ever drops files that cannot match —
    * StatsCatalogSpec pins regime equality on the 16-file layout). */
  def prunedReadGated(spark: SparkSession, path: String, stats: DataFrame,
                      column: String, lo: Any, hi: Any,
                      collectGate: Long = 100000L): DataFrame = {
    val nSurvivors = stats
      .filter(col(s"max_$column") >= lit(lo) && col(s"min_$column") <= lit(hi))
      .count()
    if (nSurvivors <= collectGate) prunedRead(spark, path, stats, column, lo, hi)
    else Tables.parquet(spark, path)
      .filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }
}
