package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two per-call child processes
  * done in-process. Without libhadoop (Spark's distribution ships none)
  * `RawLocalFileSystem` runs `chmod` for every `setPermission` (each
  * checkpoint temp file, lake parquet file, `.crc` and new directory) and
  * `readlink` for every `getFileLinkStatus` (several per `FileContext`
  * rename, so per metadata-log and state-store commit), and each start
  * blocks the calling thread for about a millisecond. Everything else,
  * symlinks and the sticky bit included, is Hadoop's own code.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO, from `toShort`'s bits (owner rwx down to others
    * rwx, the order of `PosixFilePermission.values`); NIO cannot set the
    * sticky bit, so such a permission goes to Hadoop.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** Hadoop returns `getFileStatus(f)` when `readlink` prints nothing,
    * that is, when `f` is not a symlink (a missing path still throws
    * `FileNotFoundException`); only a real symlink goes to Hadoop.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[InProcessRawLocalFileSystem]].
  */
class InProcessLocalFileSystem
    extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` filesystem that
  * streaming checkpoints commit through: Hadoop's `LocalFs` (a `ChecksumFs`)
  * over [[InProcessRawLocalFs]]. The `(URI, Configuration)` constructor is
  * the one `AbstractFileSystem.get` looks up.
  */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[InProcessRawLocalFileSystem]]: the same
  * three overrides, which `RawLocalFs` cannot take because it builds its
  * own `RawLocalFileSystem`.
  */
class InProcessRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new InProcessRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
