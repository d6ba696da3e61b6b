package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** A local file system that starts no operating-system process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a new process (`Shell.execCommand`) for every file
  * and directory a write creates, and `getFileLinkStatus` runs
  * `readlink` in one for every `FileContext` rename. Each fork costs
  * milliseconds; the same chmod through `java.nio` costs microseconds
  * (NOTES.md, "Fork-free local writes").
  * These classes do both in-process and are otherwise Hadoop's own
  * local file systems, so the on-disk layout (`.crc` sidecars
  * included) and the permission bits are unchanged.
  *
  * A write opts in through [[LocalFs.Overlay]], a Hadoop-conf overlay
  * that rebinds only the `file` scheme: HDFS, GCS and every other
  * scheme resolve as before. The overlay turns off Hadoop's
  * `FileSystem` cache for the scheme, because that cache is keyed
  * without the conf: with `fs.file.impl` alone, a conf that asks for
  * these classes is silently handed the cached default instance.
  */
object LocalFs {

  val Overlay: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** The session's Hadoop conf (`spark.hadoop.*` settings included)
    * with [[Overlay]] on top. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConfWithOptions(Overlay)
}

/** `RawLocalFileSystem` with an in-process `setPermission` and
  * `getFileLinkStatus`. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The same nine bits `chmod` would set; a sticky bit, or a store
    * with no POSIX attribute view, goes to Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** A path that is no symbolic link is its own link status, which
    * Hadoop learns by running `readlink`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (checksummed, `.crc` sidecars) over
  * [[ForkFreeRawLocalFileSystem]]: the `fs.file.impl` of the overlay. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[ForkFreeRawLocalFileSystem]], for
  * `FileContext`. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("FsServerDefaults depend on the path", "hadoop 2.8")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksummed) over [[ForkFreeRawLocalFs]]: the
  * `fs.AbstractFileSystem.file.impl` of the overlay. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
