package graft.batch

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** The commit protocol of every maintained store: the idempotent sink
  * that, with a replayable source and the checkpoint's offset log,
  * makes a foreachBatch maintainer exactly-once (the reference gets
  * the same from its keyed Snowflake MERGE, load_to_snowflake.py:
  * 220-241). Four rules, stated once here:
  *
  *  1. Heal before any read. [[open]] runs [[AtomicSwap.heal]] on
  *     EVERY path the batch touches before any of them is probed or
  *     read. A crash between the swap's live→old and tmp→live renames
  *     otherwise reads as "no store": the batch merges alone and its
  *     swap discards the restored history. Appenders to a store that a
  *     rewrite also swaps heal the same way ([[heal]]), or their append
  *     recreates the live dir and the next swap drops `.old` as stale.
  *  2. Marker swapped in with the data. A commit writes the merged
  *     store (`coalesce(1)` overwrite) into `<path>.tmp`, creates
  *     `_graft_batch_<id>` there, and swaps the directory in, so the
  *     marker is live iff the batch's data is. A replay whose marker is
  *     already live skips that store ([[Batch.applied]]); parquet
  *     readers skip `_`-prefixed files.
  *  3. Only the latest marker is needed. The staging dir is rewritten
  *     on every commit, so a store carries one marker, and
  *     foreachBatch only ever replays the latest batch.
  *  4. Counts commit before carry. A maintainer with a count store and
  *     a carry store commits the counts first: a crash between the two
  *     replays against the OLD carry (identical input), so the counts
  *     skip on their marker and the carry is rebuilt.
  */
object StoreCommit {

  private def tmpOf(path: String): String = path + ".tmp"

  private def markerOf(path: String, batchId: Long): Path =
    new Path(s"$path/_graft_batch_$batchId")

  /** Write `df` as one file at `path`, replacing what is there: the
    * layout of every maintained store (they are small by design). */
  def writeOne(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Heal a torn swap at each of `paths` (rule 1). */
  def heal(spark: SparkSession, paths: String*): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.foreach(AtomicSwap.heal(conf, _))
  }

  /** Open batch `batchId`'s commit over the stores at `paths`, healing
    * every one of them before the caller reads any. */
  def open(spark: SparkSession, batchId: Long, paths: String*): Batch = {
    heal(spark, paths: _*)
    new Batch(spark, batchId)
  }

  /** A single-store maintainer's whole micro-batch: skip if applied,
    * else commit `merge(the live store, if any)`. */
  def fold(spark: SparkSession, path: String, batchId: Long)
          (merge: Option[DataFrame] => DataFrame): Unit = {
    val b = open(spark, batchId, path)
    if (!b.applied(path)) b.commit(path, merge(b.read(path)))
  }

  /** Replace a large store (no marker, no `coalesce(1)`): heal, let
    * `write` produce the new layout at the staging path it is given,
    * swap that in. */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    heal(spark, path)
    write(tmpOf(path))
    AtomicSwap.swapInto(spark.sparkContext.hadoopConfiguration, tmpOf(path), path)
  }

  /** One micro-batch's view of the stores it maintains. */
  final class Batch private[StoreCommit] (spark: SparkSession, batchId: Long) {
    private val conf = spark.sparkContext.hadoopConfiguration

    def exists(path: String): Boolean = {
      val p = new Path(path)
      p.getFileSystem(conf).exists(p)
    }

    /** The store at `path` already holds this batch (rule 2). */
    def applied(path: String): Boolean = exists(markerOf(path, batchId).toString)

    /** The live store, if it exists yet. */
    def read(path: String): Option[DataFrame] =
      if (exists(path)) Some(Tables.parquet(spark, path)) else None

    /** Write `merged` as the store's next layout into its staging dir. */
    def stage(path: String, merged: DataFrame): Unit = writeOne(merged, tmpOf(path))

    /** The staged layout, for a check that must pass before [[seal]]. */
    def staged(path: String): DataFrame = Tables.parquet(spark, tmpOf(path))

    /** Mark the staged layout with this batch and swap it in. */
    def seal(path: String): Unit = {
      val marker = markerOf(tmpOf(path), batchId)
      marker.getFileSystem(conf).create(marker, true).close()
      AtomicSwap.swapInto(conf, tmpOf(path), path)
    }

    def commit(path: String, merged: DataFrame): Unit = {
      stage(path, merged)
      seal(path)
    }
  }
}
