package graft.core

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every session [[GraftSession]] builds:
  * Hadoop's local file system minus its process forks.
  *
  * Without libhadoop, the stock `RawLocalFileSystem` forks `chmod` on
  * every file create and mkdir (`setPermission`), and `readlink` on
  * every `getFileLinkStatus`, which a FileContext rename calls about
  * four times. A Structured Streaming micro-batch commits its offset
  * log, state-store delta and commit log each as a create-then-rename
  * through FileContext, so on a 4-core host the forks (~2.4 ms each)
  * were most of the micro-batch floor: 3,983 in one tick_stream
  * perfbench run, 10 with this class.
  *
  * [[Raw]] does both in-process with java.nio and keeps every other
  * behaviour of the stock class. It is wrapped twice, as Hadoop wraps
  * its own: [[FileSystem]] for the FileSystem API (parquet writers,
  * output committers, `AtomicSwap`, `StoreCommit`) and [[Fs]] for the
  * FileContext API (Spark's checkpoint file manager). Other schemes
  * are untouched.
  */
object LocalFs {

  /** `RawLocalFileSystem` with in-process `setPermission` and
    * `getFileLinkStatus`. */
  class Raw extends RawLocalFileSystem {

    /** `chmod` through java.nio, which follows a symlink as `chmod`
      * does. The sticky bit has no java.nio form, so a mode with it
      * takes the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))

    /** The stock test, without the fork: the stock code runs
      * `readlink` on `new File(f.toString)` and takes the plain file
      * status when it prints nothing. `Files.isSymbolicLink` on that
      * same path gives the same answer, including on a qualified
      * `file:/…` path, which neither resolves (it reads as a relative
      * path), so FileContext rename keeps its semantics. A real
      * symlink still takes the stock path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The FileSystem API's `file:` (`fs.file.impl`): the stock
    * checksummed `LocalFileSystem` over [[Raw]]. */
  class FileSystem extends org.apache.hadoop.fs.LocalFileSystem(new Raw)

  /** The FileContext API's `file:` (`fs.AbstractFileSystem.file.impl`):
    * the stock `org.apache.hadoop.fs.local.LocalFs` over [[Raw]].
    * Hadoop calls this (URI, Configuration) constructor; like the stock
    * class it serves `file:///` whatever the URI. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** `org.apache.hadoop.fs.local.RawLocalFs`, whose constructor is
    * package-private, over [[Raw]]. */
  private class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The builder configs that route `file:` here, for both APIs. */
  val sparkConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName)

  /** A WARN naming `fs` unless it is [[FileSystem]]. Hadoop caches a
    * FileSystem per scheme, authority and user, not per conf, so a
    * `file:` FileSystem built in this JVM before the session keeps the
    * stock class for every FileSystem caller. FileContext is not
    * cached, so it needs no check. */
  def staleCacheWarning(fs: org.apache.hadoop.fs.FileSystem): Option[String] =
    if (fs.isInstanceOf[FileSystem]) None
    else Some(s"file: resolves to the cached ${fs.getClass.getName}, built in this JVM " +
      s"before the session, not to ${classOf[FileSystem].getName}: FileSystem callers " +
      "fork chmod on every file create and mkdir")

  private val Posix = PosixFilePermission.values // OWNER_READ (0400) … OTHERS_EXECUTE (0001)

  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Posix.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) set.add(Posix(i)))
    set
  }
}
