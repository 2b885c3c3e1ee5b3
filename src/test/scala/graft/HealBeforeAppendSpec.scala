package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.batch.BatchJobs
import graft.streaming.{Ingest, StreamPipeline}

/** The append-only stores that a rewrite also swaps: the tick bucket
  * store (appended by StreamPipeline.run, swapped by
  * BatchJobs.compactBuckets), the PQ code index (appended by
  * pqIndexMaintain, swapped by removeFromCodeIndex) and the MinHash
  * band index (appended by BandIndex.append/writePrepped, swapped by
  * BandIndex.compact/removeIds). A crash between a
  * swap's live→.old and tmp→live renames leaves no live directory. The
  * next append must heal first: appending into a fresh live directory
  * hides the history in `.old`, and the next swap deletes it as stale.
  * The warehouse snapshot has the same hazard on its read-merge-write
  * cycle: a torn `writeSnapshot` swap must not read as a first run.
  */
class HealBeforeAppendSpec extends SparkSpec {
  import spark.implicits._

  /** The on-disk state of a swap torn after its first rename. */
  private def tearSwap(live: String): Unit =
    Files.move(Paths.get(live), Paths.get(live + ".old"))

  test("bucket store: appends after a torn compaction swap keep every earlier bucket") {
    val dir = Files.createTempDirectory("graft_heal_buckets").toString
    val store = s"$dir/buckets"
    val base = 1704067200L // 2024-01-01T00:00:00Z
    val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    def tick(off: Long): RawTick = RawTick("A", 10.0, 0, "0%", "1", 10, 10,
      iso.format(java.time.Instant.ofEpochSecond(base + off)))
    val stream = MemoryStream[RawTick](spark)
    val q = StreamPipeline.run(Ingest.clean(stream.toDF()), store, s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    val before = try {
      stream.addData((0 until 10).map(i => tick(i * 30L)))
      q.processAllAvailable()
      // flush ticks push the watermark past bucket [0, 300)
      stream.addData(Seq(tick(7200)))
      q.processAllAvailable()
      stream.addData(Seq(tick(7500)))
      q.processAllAvailable()
      val held = StreamPipeline.readBuckets(spark, store).collect().toSet
      assert(held.nonEmpty, "bucket [0, 300) must be in the store before the crash")
      tearSwap(store)
      stream.addData(Seq(tick(14400)))
      q.processAllAvailable()
      stream.addData(Seq(tick(14700)))
      q.processAllAvailable()
      held
    } finally q.stop()
    val after = StreamPipeline.readBuckets(spark, store).collect().toSet
    assert(before.subsetOf(after), s"appends must heal first: lost ${before -- after}")
    assert(after.size > before.size, "the post-crash buckets must land too")
    BatchJobs.compactBuckets(spark, store)
    assert(StreamPipeline.readBuckets(spark, store).collect().toSet == after,
      "the next swap must not drop history as a stale .old")
    assert(!Files.exists(Paths.get(store + ".old")))
  }

  test("PQ code index: append and erasure after a torn swap keep every earlier code") {
    import graft.functions.ProductQuant
    val dir = Files.createTempDirectory("graft_heal_pq").toString
    val index = s"$dir/index"
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (codes, book) = ProductQuant.buildIndex(e, "vec_id", "embedding", 16, 64, 4, 1)
    codes.withColumn("batch_id", lit(-1L)).write.mode("overwrite").parquet(index)
    val before = StreamPipeline.readCodeIndex(spark, index).collect().toSet

    tearSwap(index) // as if removeFromCodeIndex crashed mid-swap
    val clone = e.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<float>")).head().getSeq[Float](0)
    val stream = MemoryStream[(Long, Seq[Float])](spark)
    val q = StreamPipeline.pqIndexMaintain(
      stream.toDF().toDF("vec_id", "embedding"), book, index, s"$dir/ckpt",
      "vec_id", "embedding", nSub = 16, dim = 64, trigger = Trigger.ProcessingTime(0))
    try {
      stream.addData((9001L, clone))
      q.processAllAvailable()
    } finally q.stop()
    val after = StreamPipeline.readCodeIndex(spark, index).collect().toSet
    assert(before.subsetOf(after), s"the append must heal first: lost ${(before -- after).size} codes")
    assert(after.size == before.size + 16, "the appended vector's 16 codes land")

    tearSwap(index) // a second torn swap, now ahead of an erasure
    StreamPipeline.removeFromCodeIndex(spark, index, Seq(7L).toDF("vec_id"))
    val erased = StreamPipeline.readCodeIndex(spark, index).collect().toSet
    assert(erased == after.filterNot(_.getAs[Long]("id") == 7L),
      "erasure must heal, then remove exactly the erased id's codes")
    assert(!Files.exists(Paths.get(index + ".old")))
  }

  test("band index: appends and rewrites after a torn swap keep every earlier row") {
    import graft.functions.{BandIndex, MicroDedup, TextAnalysis}
    val dir = Files.createTempDirectory("graft_heal_band").toString
    val index = s"$dir/index"
    val toks = TextAnalysis.wordTokens(col("text"))
    def docs(ids: Range) = ids.map(i => (i.toLong, (0 until 20).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    def tearBoth(): Unit = Seq("toks", "bands").foreach(t => tearSwap(s"$index/$t"))
    def held() = Seq("toks", "bands").map(t => spark.read.parquet(s"$index/$t").collect().toSet)
    BandIndex.build(docs(0 until 10), "doc_id", toks, index)
    val held0 = held()

    tearBoth() // as if compact crashed mid-swap on both tables
    BandIndex.append(docs(10 until 15), "doc_id", toks, index)
    val held1 = held()
    held0.zip(held1).foreach { case (a, b) => assert(a.subsetOf(b), "the append must heal first") }

    tearBoth()
    val prepped = (15L until 17L).map { id =>
      val t = (0L until 20L).map(_ + id * 100).toArray
      MicroDedup.Survivor(id, t, MicroDedup.bandKeysOf(t, BandIndex.DefaultNumHashes, BandIndex.DefaultBands))
    }.toArray
    BandIndex.writePrepped(spark, prepped, index, "append")
    val held2 = held()
    held1.zip(held2).foreach { case (a, b) => assert(a.subsetOf(b), "the prepped append must heal first") }
    assert(held2.head.size == held1.head.size + 2, "the prepped docs land")

    tearBoth()
    assert(BandIndex.exists(spark, index), "a torn swap reads as the index it was")
    tearBoth()
    BandIndex.compact(spark, index)
    assert(held() == held2, "compaction must heal first and keep every row")
    tearBoth()
    BandIndex.removeIds(spark, index, Seq(3L))
    assert(held() == held2.map(_.filterNot(_.getAs[Long]("id") == 3L)),
      "erasure must heal first, then remove exactly the erased id's rows")
    Seq("toks", "bands").foreach(t => assert(!Files.exists(Paths.get(s"$index/$t.old"))))
  }

  test("warehouse snapshot: a load after a torn writeSnapshot swap keeps every earlier row") {
    import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
    import graft.batch.WarehouseLoader
    val snap = s"${Files.createTempDirectory("graft_heal_snapshot")}/snapshot"
    val keys = Seq("symbol", "window_start")
    def source(rows: (String, Long, Double)*) = rows.toDF("symbol", "window_start", "close")
      .withColumn("__seq", lit(1L))
    val schema = StructType(source().drop("__seq").schema.fields :+
      StructField("last_updated", TimestampType))
    def loadInto(at: Long, rows: (String, Long, Double)*): Unit =
      WarehouseLoader.writeSnapshot(spark, WarehouseLoader.load(
        WarehouseLoader.readSnapshot(spark, snap, schema), source(rows: _*), keys, "__seq",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(at))), snap)
    loadInto(1704067200L, ("A", 0L, 1.0), ("B", 0L, 2.0))
    loadInto(1704153600L, ("A", 300L, 1.5))
    val before = spark.read.parquet(snap).collect().toSet
    assert(before.size == 3)

    tearSwap(snap) // as if the last writeSnapshot crashed mid-swap
    loadInto(1704240000L, ("C", 0L, 3.0))
    val after = spark.read.parquet(snap).collect().toSet
    assert(before.subsetOf(after), s"the load must heal first: lost ${before -- after}")
    assert(after.size == before.size + 1, "the new load lands")
    assert(!Files.exists(Paths.get(snap + ".old")))
  }
}
