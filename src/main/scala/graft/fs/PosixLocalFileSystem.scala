package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, with `setPermission` done in-process.
  *
  * Stock `RawLocalFileSystem.setPermission` calls libhadoop's `chmod`, and
  * without libhadoop it forks a `chmod` process — for every file and
  * directory a write creates (44 forks per `archive_jdbc` run on a host
  * without libhadoop). Here the nine `rwx` bits go through
  * `Files.setPosixFilePermissions`; a sticky bit, or a store without POSIX
  * attributes, falls back to the stock path. The bits set are the ones the
  * stock path sets: Hadoop has applied its umask before it calls this. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)): Unit // "rwxr-x---"
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

/** The checksummed `file://` FileSystem (`.crc` files as stock) over
  * [[PosixRawLocalFileSystem]]; `GraftSession` sets it as `fs.file.impl`. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** The same file system for Hadoop's FileContext API, which streaming
  * checkpoints and state stores write through: a `ChecksumFs` over
  * [[PosixRawLocalFs]], as stock `LocalFs` is over `RawLocalFs`.
  * `GraftSession` sets it as `fs.AbstractFileSystem.file.impl`. */
class PosixLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new PosixRawLocalFs(uri, conf))

/** Stock `RawLocalFs` with [[PosixRawLocalFileSystem]] as its delegate. */
class PosixRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new PosixRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
