package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, with `setPermission` and symlink lookups
  * done in-process.
  *
  * Stock `RawLocalFileSystem.setPermission` calls libhadoop's `chmod`, and
  * without libhadoop it forks a `chmod` process — for every file and
  * directory a write creates (44 forks per `archive_jdbc` run on a host
  * without libhadoop). Here the nine `rwx` bits go through
  * `Files.setPosixFilePermissions`; a sticky bit, or a store without POSIX
  * attributes, falls back to the stock path. The bits set are the ones the
  * stock path sets: Hadoop has applied its umask before it calls this.
  *
  * Stock `getFileLinkStatus` and `getLinkTarget` fork `readlink` — twice
  * per `FileContext.rename`, so twice per streaming checkpoint commit —
  * and pass it the `file:`-qualified path, which never resolves, so stock
  * never reports a symlink. Here `java.nio.file.Files` answers: a regular
  * file or directory gets `getFileStatus`, as stock; a symlink reports
  * `isSymlink` with its target. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)): Unit // "rwxr-x---"
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      // stock's shape for a link: the fields of what it points to, or
      // zeros when it dangles, with the qualified target
      val target = FSLinkResolver.qualifySymlinkTarget(getUri, f, getLinkTarget(f))
      try {
        val t = getFileStatus(f)
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize,
          t.getModificationTime, t.getAccessTime, t.getPermission, t.getOwner,
          t.getGroup, target, f)
      } catch { case _: FileNotFoundException =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }

  /** The unqualified target; `NotLinkException` (an IOException) when `f`
    * is not a symlink, as stock raises an IOException. */
  override def getLinkTarget(f: Path): Path =
    new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)
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
