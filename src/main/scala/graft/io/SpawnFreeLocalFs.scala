package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without the process spawns of its checkpoint
  * path.
  *
  * Without native libhadoop, `RawLocalFileSystem` forks `chmod` for every
  * file and directory it creates, and `readlink` on every
  * `getFileLinkStatus`, which `FileContext.rename` asks of both ends.
  * Spark's checkpoint file manager writes the offsets and commits logs,
  * the state store files and their `.crc` siblings through that path and
  * renames each into place, so a micro-batch commit paid a fork per file.
  * Two overrides do the same work in-process:
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions`. A sticky bit, or a setuid/setgid
  *    bit already on the file (which `chmod` keeps on a directory), takes
  *    Hadoop's own path.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop returns when `readlink` prints
  *    nothing. Symlinks take Hadoop's own path.
  * Checksums, rename semantics and file modes stay Hadoop's.
  */
class SpawnFreeLocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val special = Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00 // 07000
    if (permission.getStickyBit || special != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object SpawnFreeLocalFs {

  /** Hadoop's `org.apache.hadoop.fs.local.LocalFs` (checksummed) over
    * [[SpawnFreeLocalFs]]: the `FileContext` implementation of `file:`.
    */
  final class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawLocalFs(uri, conf))

  /** Hadoop's `org.apache.hadoop.fs.local.RawLocalFs` over [[SpawnFreeLocalFs]]. */
  private final class RawLocalFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new SpawnFreeLocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  val ConfKey = "fs.AbstractFileSystem.file.impl"

  /** Makes [[LocalFs]] the session's `FileContext` for `file:` paths: every
    * Hadoop conf the session builds from then on (streaming checkpoints,
    * state stores) carries it.
    */
  def register(spark: SparkSession): Unit =
    spark.conf.set(ConfKey, classOf[LocalFs].getName)
}
