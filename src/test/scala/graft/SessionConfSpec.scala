package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.core.Tables

/** One session config: `GraftSession` fixes the parquet confs at build
  * time, so every session of the context (`newSession()` included)
  * reads a file with one schema, and opening a table changes nothing
  * on the session that opened it. */
class SessionConfSpec extends SparkSpec {
  private val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")
  private val nanos = "spark.sql.legacy.parquet.nanosAsLong"
  private val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
  private val eventsNs = Paths.get("src/test/resources/events_ns").toString

  test("Tables.apply leaves spark.conf as it found it, in the shared and in a fresh session") {
    for (s <- Seq(spark, spark.newSession())) {
      val before = s.conf.getAll
      tables.foreach(t => Tables(s, sf(), t).schema)
      assert(s.conf.getAll == before)
    }
  }

  test("a fresh session holds the factory's parquet confs") {
    val fresh = spark.newSession()
    assert(fresh.conf.get(nanos) == "true")
    assert(fresh.conf.get(ntz) == "false")
  }

  test("a fresh session reads a file with the shared session's schema, before and after opening a table") {
    val lineitem = s"${sf()}/lineitem.parquet"
    def schemas(s: SparkSession) =
      (Tables.parquet(s, lineitem).schema, Tables.parquet(s, eventsNs).schema)
    val shared = schemas(spark)
    assert(shared._1("l_shipdate").dataType == TimestampType)
    assert(shared._2("ts").dataType == LongType)
    val fresh = spark.newSession()
    assert(schemas(fresh) == shared)
    Tables(fresh, sf(), "lineitem")
    Tables.events(fresh, eventsNs)
    assert(schemas(fresh) == shared)
  }

  test("one factory: SparkSession.builder only in GraftSession, no conf.set in Tables") {
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter((p: Path) => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString).toSeq
    assert(builders == Seq("graft/core/GraftSession.scala"))
    assert(!Files.readString(root.resolve("graft/core/Tables.scala")).contains("conf.set"))
  }
}
