package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.batch.StoreCommit
import graft.core.LocalFs
import graft.streaming.StreamPipeline

/** `file:` goes through [[LocalFs]] in every session: the same modes,
  * link statuses and rename semantics as Hadoop's stock local file
  * system, without forking `chmod` or `readlink`. */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration
  private val Local = URI.create("file:///")

  /** The programs `body` starts in this JVM, from a JFR recording of
    * `jdk.ProcessStart`. */
  private def forks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("forks", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command").split(" ").head.split("/").last)
    } finally { rec.close(); Files.delete(out) }
  }
  private def fileOpForks(cmds: Seq[String]): Seq[String] =
    cmds.filter(c => c == "chmod" || c == "readlink")

  /** A mkdir, a FileSystem create and rename, and a FileContext
    * create-then-rename (the checkpoint manager's commit) under `conf`. */
  private def hadoopOps(conf: Configuration, dir: String): Unit = {
    val fs = FileSystem.newInstance(Local, conf)
    try {
      fs.mkdirs(new Path(s"$dir/d"))
      fs.create(new Path(s"$dir/d/a.tmp")).close()
      assert(fs.rename(new Path(s"$dir/d/a.tmp"), new Path(s"$dir/d/a")))
    } finally fs.close()
    val fc = FileContext.getFileContext(conf)
    fc.create(new Path(s"file:$dir/b.tmp"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(new Path(s"file:$dir/b.tmp"), new Path(s"file:$dir/b"), Options.Rename.NONE)
  }

  test("the shared session resolves file: to LocalFs through FileSystem and FileContext") {
    assert(FileSystem.get(Local, hconf).getClass == classOf[LocalFs.FileSystem])
    assert(FileContext.getFileContext(hconf).getDefaultFileSystem.getClass == classOf[LocalFs.Fs])
  }

  test("a micro-batch and a store fold fork no chmod or readlink; the stock classes fork both") {
    val dir = Files.createTempDirectory("localfs").toString
    val ticks = MemoryStream[(String, java.sql.Timestamp, Double, Double, Long)](spark)
    val q = StreamPipeline.run(ticks.toDF().toDF("symbol", "timestamp", "price", "change", "volume"),
      s"$dir/buckets", s"$dir/ckpt", trigger = Trigger.ProcessingTime(0))
    def at(sec: Long) = new java.sql.Timestamp((1704067200L + sec) * 1000L)
    val ours = try forks {
      ticks.addData((0 until 20).map(i => ("A", at(i * 30L), 10.0 + i, 0.0, 1L)))
      q.processAllAvailable()
      for (sec <- Seq(7200L, 14400L)) { // the watermark passes, then the closed buckets append
        ticks.addData(Seq(("A", at(sec), 10.0, 0.0, 1L)))
        q.processAllAvailable()
      }
      StoreCommit.fold(spark, s"$dir/store", 0L)(_ => Seq(1, 2).toDF("x"))
      hadoopOps(hconf, s"$dir/ours")
    } finally q.stop()
    assert(StreamPipeline.readBuckets(spark, s"$dir/buckets").count() > 0)
    assert(new java.io.File(s"$dir/ckpt/commits/2").exists)
    assert(new java.io.File(s"$dir/store/_graft_batch_0").exists)
    assert(fileOpForks(ours).isEmpty, ours)

    val stock = new Configuration(hconf)
    stock.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    stock.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    val theirs = fileOpForks(forks(hadoopOps(stock, s"$dir/stock")))
    assert(theirs.contains("chmod") && theirs.contains("readlink"), theirs)
  }

  test("LocalFs.Raw matches the stock RawLocalFileSystem: create/mkdirs modes and setPermission") {
    def mode(p: String): Int = Files.getAttribute(new java.io.File(p).toPath, "unix:mode").asInstanceOf[Int] & 0x0fff
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration(hconf)
      conf.set("fs.permissions.umask-mode", umask)
      val dir = Files.createTempDirectory("localfs-mode").toString
      val modes = Seq(new LocalFs.Raw, new RawLocalFileSystem).zipWithIndex.map { case (fs, i) =>
        fs.initialize(Local, conf)
        val (file, sub) = (s"$dir/$i/f", s"$dir/$i/d/e")
        fs.create(new Path(file)).close()
        fs.mkdirs(new Path(sub))
        val created = Seq(mode(file), mode(sub), mode(s"$dir/$i"))
        val set = Seq(0x180, 0x1ed).flatMap { m => // 0600, 0755
          fs.setPermission(new Path(file), new FsPermission(m.toShort))
          fs.setPermission(new Path(sub), new FsPermission(m.toShort))
          Seq(mode(file), mode(sub))
        }
        fs.setPermission(new Path(sub), new FsPermission(0x3ff.toShort)) // sticky 1777
        created ++ set :+ mode(sub)
      }
      assert(modes(0) == modes(1), s"umask $umask")
      assert(modes(0).take(2) == (if (umask == "022") Seq(0x1a4, 0x1ed) else Seq(0x180, 0x1c0)))
      assert(modes(0).drop(3) == Seq(0x180, 0x180, 0x1ed, 0x1ed, 0x3ff))
    }
  }

  test("LocalFs.Raw matches the stock getFileLinkStatus on files, dirs, symlinks and missing paths") {
    val dir = Files.createTempDirectory("localfs-link")
    val file = Files.writeString(dir.resolve("file"), "x")
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file.getFileName)
    val absLink = Files.createSymbolicLink(dir.resolve("abs-link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    val paths = Seq(file, sub, link, absLink, dangling, missing)
      .flatMap((p: NioPath) => Seq(new Path(p.toString), new Path(p.toUri)))
    val Seq(ours, stock) = Seq(new LocalFs.Raw, new RawLocalFileSystem).map { fs =>
      fs.initialize(Local, new Configuration(hconf))
      paths.map(p => Try(fs.getFileLinkStatus(p)).map(s =>
        (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None,
          s.getLen, s.getModificationTime)).toEither.left.map(_.getClass))
    }
    assert(ours == stock)
    val plain = paths.indices.filter(_ % 2 == 0).map(ours)
    assert(plain(2).exists(s => s._4 && s._5.contains(new Path(file.toUri))), "relative target, qualified")
    assert(plain(4).exists(_._4), "a dangling symlink is a symlink")
    assert(plain(5) == Left(classOf[java.io.FileNotFoundException]))
  }

  test("FileContext rename onto an existing file: NONE raises, OVERWRITE replaces it and moves the .crc") {
    val fc = FileContext.getFileContext(hconf)
    val dir = Files.createTempDirectory("localfs-mv")
    val (src, dst) = (new Path(dir.resolve("src").toUri), new Path(dir.resolve("dst").toUri))
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.writeUTF(s) finally out.close()
    }
    def read(p: Path): String = { val in = fc.open(p); try in.readUTF() finally in.close() }
    write(src, "new")
    write(dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(dst) == "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new") // checked against the moved .crc
    assert(!fc.util.exists(src))
    assert(Files.exists(dir.resolve(".dst.crc")) && !Files.exists(dir.resolve(".src.crc")))
  }

  test("a stock file: FileSystem cached before the session is named in a WARN") {
    val stock = new org.apache.hadoop.fs.LocalFileSystem
    assert(LocalFs.staleCacheWarning(stock).exists(_.contains(stock.getClass.getName)))
    assert(LocalFs.staleCacheWarning(FileSystem.getLocal(hconf)).isEmpty)
  }
}
