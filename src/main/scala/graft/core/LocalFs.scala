package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem ([[Raw]]) without the process forks it falls back to
  * when the native hadoop library is absent. There, `RawLocalFileSystem`
  * runs `chmod` (through `Shell`) in `setPermission`, under every
  * `create`/`mkdirs` with a permission, and `readlink` (through
  * `FileUtil.readLink`) in `getFileLinkStatus`, under every `FileContext`
  * rename: a few milliseconds each, on every offset/commit log entry,
  * state-store delta and lake publish a streaming query writes.
  *
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions`; any other bit (sticky, say) keeps
  *    Hadoop's path.
  *  - `getFileLinkStatus` answers `getFileStatus` unless the path is a
  *    symbolic link, which keeps Hadoop's path. That is the answer Hadoop
  *    gives: for the `file:`-qualified paths Spark passes, it hands
  *    `readlink` a `file:` string, which fails and reads as "no link".
  *
  * [[FileSystemImpl]] (`fs.file.impl`) wraps it in a `LocalFileSystem`
  * and [[ContextImpl]] (`fs.AbstractFileSystem.file.impl`) in a
  * `ChecksumFs`, as Hadoop wraps its own, so `.crc` checksums are still
  * written and verified. [[SparkConf]] installs both.
  */
object LocalFs {

  class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort & 0xffff
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission is declared owner r/w/x, group r/w/x, others
        // r/w/x: ordinal i is mode bit 8 - i
        PosixFilePermission.values.foreach { pp =>
          if ((bits & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        ()
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: checksummed over [[Raw]], as Hadoop's `LocalFileSystem`. */
  class FileSystemImpl extends LocalFileSystem(new Raw)

  /** The `FileContext` form of [[Raw]]: Hadoop's `RawLocalFs` with the raw
    * filesystem swapped, its four overrides kept.
    */
  class RawContextImpl(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in Hadoop's RawLocalFs", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: checksummed, as Hadoop's `LocalFs`
    * (which, like it, ignores `uri` for the fixed local one).
    */
  class ContextImpl(uri: URI, conf: Configuration) extends ChecksumFs(new RawContextImpl(conf))

  /** The two Hadoop keys that install it, under Spark's `spark.hadoop.`
    * prefix. They take effect where a SparkContext is created, and the
    * `file:` FileSystem is cached JVM-wide, so a session built on an
    * existing context keeps whatever that context installed.
    */
  val SparkConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[FileSystemImpl].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ContextImpl].getName)
}
