package graft.batch

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.Tables
import graft.operators.MergeUpsert

/** Manifest-based versioned table — the Delta/Iceberg commit protocol
  * in its minimal form, on top of immutable parquet files:
  *
  * ```
  * root/
  *   data/<commit-uuid>/part-*.parquet   immutable, never rewritten
  *   _manifests/v00000001.txt            one manifest per version
  * ```
  *
  * A manifest lists the COMPLETE file set of its version (header line
  * + one absolute file path per line). The commit point is a single
  * atomic file rename of the manifest into its versioned name: readers
  * resolve `max(vN)` once and then only ever open files that manifest
  * names, so a reader planned before a concurrent commit keeps its
  * consistent snapshot (snapshot isolation), time travel is "read an
  * older manifest", and a torn write is invisible (a `.tmp` manifest
  * is never resolved).
  *
  * Concurrent writers race on the rename: Hadoop's rename-to-existing
  * fails, the loser re-reads the new head and retries — optimistic
  * concurrency, no locks. (On S3 the rename must become a conditional
  * put — If-None-Match — same protocol, different primitive; see
  * AtomicSwap's object-store note.)
  *
  * Contrast `AtomicSwap`/`WarehouseLoader.writeSnapshot`: the swap
  * keeps exactly one live version and loses history; this keeps every
  * retained version readable at the cost of a `vacuum` pass to reclaim
  * unreferenced files. At 100 TB the manifest stays KB-sized per
  * commit while the data is never copied — append adds files, MERGE
  * rewrites only via a new complete file set.
  */
object VersionedTable {

  private def fs(conf: Configuration, root: String): FileSystem =
    new Path(root).getFileSystem(conf)

  private def manifestDir(root: String) = new Path(root, "_manifests")
  private def manifestPath(root: String, v: Long) =
    new Path(manifestDir(root), f"v$v%08d.txt")

  private val ManifestName = """v(\d{8})\.txt""".r

  /** All committed versions, ascending. */
  def versions(conf: Configuration, root: String): Seq[Long] = {
    val dir = manifestDir(root)
    val f = fs(conf, root)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case ManifestName(n) => Some(n.toLong)
      case _               => None
    }).sorted
  }

  def latestVersion(conf: Configuration, root: String): Option[Long] =
    versions(conf, root).lastOption

  /** The complete file set of `version` (header skipped). */
  private def readManifest(conf: Configuration, root: String, version: Long): Seq[String] = {
    val f = fs(conf, root)
    val in = f.open(manifestPath(root, version))
    try {
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      lines.drop(1).filter(_.nonEmpty)
    } finally in.close()
  }

  /** Header key=value pairs of `version`'s manifest (first line). */
  private def readHeader(conf: Configuration, root: String, version: Long): Map[String, String] = {
    val f = fs(conf, root)
    val in = f.open(manifestPath(root, version))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next()
      .split(' ').flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _           => None
      }).toMap
    finally in.close()
  }

  private[graft] def writeManifest(conf: Configuration, root: String, version: Long,
                            action: String, files: Seq[String],
                            extra: Map[String, String] = Map.empty): Boolean = {
    val f = fs(conf, root)
    f.mkdirs(manifestDir(root))
    val tmp = new Path(manifestDir(root), s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    val hdr = (Seq(s"version=$version", s"action=$action", s"nFiles=${files.size}") ++
      extra.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }).mkString(" ")
    try out.write((hdr + "\n" + files.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // THE commit point: FileContext.rename with Rename.NONE raises
    // FileAlreadyExistsException when the target version exists — a
    // concurrent writer won the race. FileSystem.rename's boolean is
    // NOT enough here: RawLocal/ChecksumFileSystem delegate to POSIX
    // rename(2), which silently REPLACES an existing destination, so
    // two committers could both "win" v(N) and one file set would be
    // lost. FileContext does the no-overwrite check itself (the same
    // primitive Delta's HDFSLogStore commits through); on HDFS the
    // check is atomic in the NameNode, on the local FS it is
    // check-then-rename — a vastly narrower window than an
    // unconditional replace, and the documented local-FS caveat of
    // every manifest-commit table format.
    val dst = manifestPath(root, version)
    val won =
      try { FileContext.getFileContext(dst.toUri, conf).rename(tmp, dst, Options.Rename.NONE); true }
      catch { case _: FileAlreadyExistsException => false }
    if (!won) f.delete(tmp, false)
    won
  }

  private def schemaKey = "schema"
  private def encodeSchema(s: StructType): String =
    java.util.Base64.getEncoder.encodeToString(s.json.getBytes("UTF-8"))
  private def decodeSchema(b64: String): StructType =
    DataType.fromJson(new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"))
      .asInstanceOf[StructType]

  /** Write `df`'s rows as a new immutable file set under data/ and
    * return their absolute paths. */
  private def writeData(spark: SparkSession, root: String, df: DataFrame): Seq[String] = {
    val dir = new Path(new Path(root, "data"), java.util.UUID.randomUUID().toString)
    df.write.parquet(dir.toString)
    val f = fs(spark.sparkContext.hadoopConfiguration, root)
    f.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.toString)
  }

  /** Commit `df` as the next version. `overwrite = false` appends to
    * the current file set; `true` replaces it. Returns the committed
    * version. Retries the optimistic race a bounded number of times —
    * each retry re-reads the NEW head, so an append composes with the
    * winner's files instead of clobbering them. */
  def commit(spark: SparkSession, root: String, df: DataFrame,
             overwrite: Boolean = false,
             extra: Map[String, String] = Map.empty,
             actionName: String = "",
             carryFiles: Seq[String] = Nil): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val newFiles = writeData(spark, root, df)
    val action = if (actionName.nonEmpty) actionName else if (overwrite) "overwrite" else "append"
    // The schema rides in every manifest header so a ZERO-file version
    // (an empty micro-batch, a merge that deleted every row) stays
    // readable — read() reconstructs an empty frame from it instead of
    // wedging the table (and every streaming replay) forever.
    val stamped = extra + (schemaKey -> encodeSchema(df.schema))
    var attempt = 0
    while (attempt < 10) {
      val head = latestVersion(conf, root)
      val base = if (overwrite) Nil else head.map(readManifest(conf, root, _)).getOrElse(Nil)
      val v = head.getOrElse(0L) + 1
      // carryFiles: paths adopted by reference (copy-on-write file
      // pruning — a delete that only rewrote the touched files names
      // the untouched ones here)
      if (writeManifest(conf, root, v, action, base ++ carryFiles ++ newFiles, stamped))
        return v
      attempt += 1
    }
    throw new java.io.IOException(s"lost the commit race 10 times at $root — giving up")
  }

  /** Commit a version whose file set is entirely carried by
    * reference — no data write at all (e.g. a delete that matched
    * nothing still records its version event). */
  private def commitManifestOnly(spark: SparkSession, root: String, files: Seq[String],
                                 action: String, schema: StructType): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stamped = Map(schemaKey -> encodeSchema(schema))
    var attempt = 0
    while (attempt < 10) {
      val v = latestVersion(conf, root).getOrElse(0L) + 1
      if (writeManifest(conf, root, v, action, files, stamped)) return v
      attempt += 1
    }
    throw new java.io.IOException(s"lost the commit race 10 times at $root — giving up")
  }

  /** Rewrite the CURRENT file set into `numFiles` files as a new
    * version — the small-file compaction an append-heavy table needs
    * (every streaming micro-batch adds files; a million 100 KB files
    * read 100x slower than ten thousand 10 MB ones). Pure layout
    * change: same rows, new version, history intact; the replaced
    * files stay readable for time travel until `vacuum`. */
  def compact(spark: SparkSession, root: String, numFiles: Int): Long =
    commit(spark, root, read(spark, root).repartition(numFiles),
      overwrite = true, actionName = "compact")

  /** Read the table at `version` (default: latest). The file list is
    * resolved HERE — the returned frame keeps this snapshot even if
    * later commits land before it is materialized. */
  def read(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = version.orElse(latestVersion(conf, root))
      .getOrElse(throw new java.io.IOException(s"no committed version at $root"))
    val files = readManifest(conf, root, v)
    if (files.isEmpty)
      readHeader(conf, root, v).get(schemaKey) match {
        case Some(b64) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], decodeSchema(b64))
        case None => // pre-schema-header manifest: nothing to reconstruct from
          throw new java.io.IOException(s"version $v of $root is empty and carries no schema header")
      }
    else Tables.parquet(spark, files: _*)
  }

  /** MERGE `source` into the table on `keys` (keep-source upsert,
    * `MergeUpsert` semantics) and commit the result as a new
    * overwrite version. First commit bootstraps from `source`.
    *
    * `batchId` makes the commit IDEMPOTENT for foreachBatch replay
    * (the exactly-once contract a crash-recovered streaming query
    * needs): the id is stamped into the manifest header, and a replay
    * whose id matches the head manifest returns the head version
    * untouched instead of double-merging the batch — the same
    * last-merged-batch stamp the streaming sketch stores use. */
  def mergeCommit(spark: SparkSession, root: String, source: DataFrame,
                  keys: Seq[String], loadTs: java.sql.Timestamp,
                  batchId: Option[Long] = None): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    latestVersion(conf, root).foreach { head =>
      if (batchId.exists(b => readHeader(conf, root, head).get("batchId").contains(b.toString)))
        return head
    }
    val target = latestVersion(conf, root) match {
      case Some(v) => read(spark, root, Some(v))
      case None    => // bootstrap: empty target in the stamped shape
        val stamped = org.apache.spark.sql.types.StructType(source.schema.fields :+
          org.apache.spark.sql.types.StructField("last_updated", org.apache.spark.sql.types.TimestampType))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stamped)
    }
    commit(spark, root, MergeUpsert.upsertStamped(target, source, keys, loadTs),
      overwrite = true, extra = batchId.map(b => "batchId" -> b.toString).toMap)
  }

  /** [[mergeCommit]] through [[MergeUpsert.upsertEvolve]]: the
    * schema-drift-tolerant MERGE a long-lived warehouse table needs —
    * an ADDED source column extends the table (old rows read NULL), a
    * DROPPED one keeps target values, a retype fails fast. Same
    * batch-stamp idempotence; the version header records the evolved
    * schema, so time travel serves each version in the schema it was
    * committed with. */
  def mergeCommitEvolve(spark: SparkSession, root: String, source: DataFrame,
                        keys: Seq[String], loadTs: java.sql.Timestamp,
                        batchId: Option[Long] = None): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    latestVersion(conf, root).foreach { head =>
      if (batchId.exists(b => readHeader(conf, root, head).get("batchId").contains(b.toString)))
        return head
    }
    val stampedSource = source.withColumn("last_updated",
      org.apache.spark.sql.functions.lit(loadTs))
    val target = latestVersion(conf, root) match {
      case Some(v) => read(spark, root, Some(v))
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          stampedSource.schema)
    }
    commit(spark, root, MergeUpsert.upsertEvolve(target, stampedSource, keys),
      overwrite = true, extra = batchId.map(b => "batchId" -> b.toString).toMap)
  }

  /** Delete every row matching `condition` as a NEW version (action
    * "delete") — the GDPR-shaped maintenance op: the head version no
    * longer serves the rows, every retained older version still does
    * (time travel intact — deletion is a version event, not a rewrite
    * of history), and the bytes leave disk only when `vacuum` drops
    * the last manifest referencing their files. Copy-on-write of the
    * survivors, like `mergeCommit` — at 100 TB you'd add file-level
    * pruning (only rewrite files whose stats overlap the predicate,
    * carry the rest forward by reference); the manifest format already
    * supports that since a commit may mix new and carried-over paths. */
  def deleteWhere(spark: SparkSession, root: String, condition: Column): Long =
    commit(spark, root, read(spark, root).filter(!condition),
      overwrite = true, actionName = "delete")

  /** Keyed delete: drop rows whose `keys` columns match any row of
    * `doomedKeys` (anti-join — the right-to-be-forgotten shape where
    * the request arrives as a key list, broadcast when small).
    *
    * COPY-ON-WRITE WITH FILE PRUNING: one column-pruned scan finds
    * which files actually CONTAIN a doomed key; only those files
    * rewrite (minus the doomed rows), every untouched file carries
    * into the new manifest BY REFERENCE — at a 100 TB table a delete
    * of a handful of keys rewrites a handful of files, not the
    * table. This is exactly what the manifest format is for: a
    * version's file set may freely mix carried-over and new paths.
    * Time travel still serves the old version (its manifest still
    * names the pre-delete files); vacuum reclaims them after
    * retention. */
  def deleteKeys(spark: SparkSession, root: String, keys: Seq[String],
                 doomedKeys: DataFrame): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name}
    val conf = spark.sparkContext.hadoopConfiguration
    val head = latestVersion(conf, root)
      .getOrElse(throw new java.io.IOException(s"no committed version at $root"))
    val files = readManifest(conf, root, head)
    val doomed = doomedKeys.select(keys.map(col): _*).distinct()
    if (files.isEmpty)
      return commit(spark, root, read(spark, root, Some(head)), overwrite = true,
        actionName = "delete")
    // one scan, pruned to the key columns: which files hold doomed rows?
    val hit = Tables.parquet(spark, files: _*)
      .select(input_file_name().as("__f") +: keys.map(col): _*)
      .join(broadcast(doomed), keys, "left_semi")
      .select(col("__f")).distinct().collect().map(_.getString(0)).toSet
    // input_file_name is URI-shaped; manifest paths may not be — match on either form
    val (touched, carried) = files.partition(f =>
      hit.contains(f) || hit.contains(new Path(f).toUri.toString) ||
        hit.exists(h => new Path(h).toUri.getPath == new Path(f).toUri.getPath))
    if (touched.isEmpty) // nothing to rewrite: the version IS the old file set
      return commitManifestOnly(spark, root, files, "delete",
        Tables.parquet(spark, files: _*).schema)
    val survivors = Tables.parquet(spark, touched: _*).join(doomed, keys, "left_anti")
    commit(spark, root, survivors, overwrite = true, actionName = "delete",
      carryFiles = carried)
  }

  /** Drop all but the newest `retainLast` versions and delete every
    * data file no retained manifest references. Returns the deleted
    * file paths. Safe relative to readers of RETAINED versions only —
    * that is the retention contract (same as any table format's). */
  def vacuum(spark: SparkSession, root: String, retainLast: Int): Seq[String] = {
    require(retainLast >= 1, "must retain at least the latest version")
    val conf = spark.sparkContext.hadoopConfiguration
    val f = fs(conf, root)
    val all = versions(conf, root)
    if (all.size <= retainLast) return Nil
    val (drop, keep) = all.splitAt(all.size - retainLast)
    val referenced = keep.flatMap(readManifest(conf, root, _)).toSet
    val doomed = drop.flatMap(readManifest(conf, root, _)).distinct
      .filterNot(referenced.contains)
    doomed.foreach(p => f.delete(new Path(p), false))
    drop.foreach(v => f.delete(manifestPath(root, v), false))
    // sweep data dirs a commit emptied entirely
    val dataRoot = new Path(root, "data")
    if (f.exists(dataRoot))
      f.listStatus(dataRoot).foreach { st =>
        if (st.isDirectory && f.listStatus(st.getPath).forall(!_.getPath.getName.endsWith(".parquet")))
          f.delete(st.getPath, true)
      }
    doomed
  }
}
