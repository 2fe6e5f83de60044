package graft.tables

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without its process launches.
  *
  * Without `libhadoop` (`NativeIO.isAvailable()` false), Hadoop's
  * `RawLocalFileSystem` starts a `chmod` process in `setPermission`,
  * which every `create` and `mkdirs` with a permission calls, and a
  * `readlink` process in `getFileLinkStatus`, which every `FileContext`
  * rename calls twice. One ingest trigger writes dozens of files (the
  * Parquet legs, their `.crc` twins, the streaming offset, commit and
  * state-store logs), so at ~1.6 ms a launch (2 GB JVM, 4-vCPU VM) the
  * forks outweighed the data. These classes answer both calls through `java.nio` and keep
  * every other behaviour Hadoop's: checksums, staged commits and the
  * rest of the file API are the inherited code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits Hadoop's `chmod %04o` would set. Hadoop's callers
    * have already applied the umask; a sticky bit (which NIO cannot
    * set) goes to Hadoop's own path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(nio(p),
      PosixFilePermissions.fromString(permission.toString))

  /** Hadoop's answer for a real symlink; for anything else it is
    * `getFileStatus` (what Hadoop returns once `readlink` finds no
    * link), without the `readlink` launch.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(nio(f))) super.getFileLinkStatus(f)
    else getFileStatus(f)

  private def nio(p: Path): NioPath = pathToFile(p).toPath
}

/** The checksummed `file:` filesystem (`fs.file.impl`) over
  * [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext`'s raw `file:` filesystem over
  * [[ForkFreeRawLocalFileSystem]]: Hadoop's `local.RawLocalFs`, whose
  * constructor is package-private, with the same overrides.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`, what Spark's streaming
  * checkpoint and state store reach through `FileContext`).
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object LocalFs {

  private val implKey = "fs.file.impl"
  private val impl = classOf[ForkFreeLocalFileSystem].getName
  // `fs.file.impl` goes in last, so a reader that sees it set sees the
  // other two as well
  private val keys = Seq(
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
    implKey -> impl)

  /** Route `spark`'s `file:` filesystems through the fork-free classes:
    * sets their keys on `sparkContext.hadoopConfiguration`, which
    * every later `sessionState.newHadoopConf()` copies. Idempotent and
    * cheap after the first call, so every library call that starts
    * writes on a session it did not build calls it.
    *
    * Hadoop's `FileSystem` cache keys on scheme and user, not on the
    * impl class, so the stock `file:` instance Spark cached at session
    * start would keep being served; the cache is bypassed for `file:`
    * instead (a local instance is cheap to build; being uncached, it is
    * never closed, so a `deleteOnExit` on it would not run, and nothing
    * here registers one). `FileContext` builds
    * a fresh `AbstractFileSystem` per context and needs no such step.
    * Other schemes are untouched.
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (conf.get(implKey) != impl) keys.foreach { case (k, v) => conf.set(k, v) }
  }
}
