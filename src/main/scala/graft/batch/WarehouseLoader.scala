package graft.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, MergeUpsert}

/** The warehouse-loader jobs (load_to_snowflake.py /
  * realtime_load_to_snowflake.py) re-expressed engine-side: scan the
  * processed prefix (S12), recover the partition column (Spark does
  * this natively — the reference re-parses `symbol=` out of object
  * keys by hand at load_to_snowflake.py:123-131), filter null keys
  * (P6), dedup keep-last (A2), stamp last_updated (T9), and MERGE into
  * the target on the primary key (S13/J3).
  *
  * The reference's cadence is a full prefix re-scan per run; `load`
  * keeps that parity mode. Incrementally, the same merge runs
  * per-micro-batch from foreachBatch (StreamPipeline) — at 100 TB the
  * full-rescan mode is only for backfills.
  *
  * The target is a parquet snapshot directory; the merge rewrites it
  * atomically via write-to-temp + swap ([[StoreCommit.replace]]).
  * (With a Delta/Iceberg table the same call maps onto MERGE INTO; no
  * warehouse here.)
  */
object WarehouseLoader {

  /** One full-rescan load: returns the post-merge snapshot (pure —
    * callers persist via `writeSnapshot`). `orderCol` pins the
    * keep-last survivor (the reference's pandas file order is
    * nondeterministic — SURVEY.md §2 A2) and is dropped after dedup,
    * so `source` = target value columns + orderCol. */
  def load(target: DataFrame, source: DataFrame, keys: Seq[String],
           orderCol: String, loadTs: java.sql.Timestamp): DataFrame = {
    val cleaned = keys.foldLeft(source) { (d, k) =>
      d.filter(col(k).isNotNull && col(k).cast("string") =!= "")
    }
    val deduped = Dedup.keepLast(cleaned, keys, Seq(col(orderCol))).drop(orderCol)
    MergeUpsert.upsertStamped(target, deduped, keys, loadTs)
  }

  /** Atomic snapshot swap through [[StoreCommit.replace]]: heal a torn
    * earlier swap, write the new snapshot to `<path>.tmp`, swap it in.
    * Readers see either the old or the new snapshot, never a partial
    * write or a missing store. */
  def writeSnapshot(spark: SparkSession, df: DataFrame, path: String): Unit =
    StoreCommit.replace(spark, path)(tmp => df.write.mode("overwrite").parquet(tmp))

  /** Read the current snapshot, or an empty frame with `schema` when
    * the target does not exist yet (first run). Heals first: a swap
    * torn between live→.old and tmp→live otherwise reads as a first
    * run, and the next `writeSnapshot` would keep that one load only. */
  def readSnapshot(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    StoreCommit.heal(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Tables.parquet(spark, path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
