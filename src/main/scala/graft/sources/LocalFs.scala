package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Local-filesystem storage shared by every layer: the `file:` Hadoop
  * filesystem that Spark's parquet writers, file-stream sources, state
  * stores and checkpoint logs all go through, and the one recursive delete
  * the staged publish/swap paths use.
  *
  * Without libhadoop's native code, Hadoop's `RawLocalFileSystem` starts a
  * `chmod` process for every file and directory it creates and a `readlink`
  * process for every `getFileLinkStatus` (each `FileContext` rename asks for
  * it). [[GraftRawLocalFileSystem]] answers both in-process; everything else
  * — checksum sidecars, umask, symlinks, rename semantics — is stock.
  * `GraftSession` registers it for `file:` as `fs.file.impl`
  * ([[GraftLocalFileSystem]]) and `fs.AbstractFileSystem.file.impl`
  * ([[GraftLocalFs]]).
  */
object LocalFs {

  /** Delete `root` and everything under it, if present. Never follows a
    * symlink: a link inside the tree (or `root` itself, if it is one) is
    * removed as a link, its target is left alone. Deepest entries go first.
    */
  def rmTree(root: File): Unit =
    if (Files.exists(root.toPath, LinkOption.NOFOLLOW_LINKS)) {
      val paths = Files.walk(root.toPath)
      try paths.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally paths.close()
    }
}

/** `RawLocalFileSystem` that sets permissions and reads link status without
  * starting a process. Modes come out exactly as stock: the permission
  * handed to `setPermission` is already umask-masked by the caller.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** `Files.setPosixFilePermissions` (follows symlinks, as `chmod` does);
    * stock for a sticky bit, which the POSIX view cannot express, and on a
    * file store without a POSIX view.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // without a sticky bit, `toString` is the `rwxr-x---` form
      val perms = PosixFilePermissions.fromString(permission.toString)
      try { Files.setPosixFilePermissions(pathToFile(p).toPath, perms); () }
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** For anything but a symlink the link status is the file status (stock
    * reads it after a `readlink` that prints nothing); symlinks, dangling
    * ones included, go to stock.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: stock checksummed `LocalFileSystem` over the graft raw one. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over the
  * graft raw filesystem: the same URI, default port, server defaults and
  * name check.
  */
class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` path Spark's
  * checkpoint file manager writes through: Hadoop's `LocalFs` (checksummed,
  * the URI argument ignored as stock does) over [[GraftRawLocalFs]].
  */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))
