package graft.sources

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, LinkOption, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Local-filesystem storage shared by every layer: the `file:` Hadoop
  * filesystem that Spark's parquet writers, file-stream sources, state
  * stores and checkpoint logs all go through, and the one staged-commit
  * protocol the stores publish with (WarehouseJob's batch sinks, DimStore's
  * bucket swap and CorpusJob's compaction).
  *
  * Without libhadoop's native code, Hadoop's `RawLocalFileSystem` starts a
  * `chmod` process for every file and directory it creates and a `readlink`
  * process for every `getFileLinkStatus` (each `FileContext` rename asks for
  * it). [[GraftRawLocalFileSystem]] answers both in-process; everything else
  * — checksum sidecars, umask, symlinks, rename semantics — is stock.
  * `GraftSession` registers it for `file:` as `fs.file.impl`
  * ([[GraftLocalFileSystem]]) and `fs.AbstractFileSystem.file.impl`
  * ([[GraftLocalFs]]).
  *
  * == The staged-commit protocol ==
  *
  * A store rewrites a set of directories by:
  *  1. writing the new directories into a `_`-prefixed staging dir (Spark
  *     jobs; readers ignore `_`-prefixed names);
  *  2. [[seal]]ing the staging: the `_graft_staged_ok` sentinel, written
  *     driver-side once the write returned, marks it complete and
  *     AUTHORITATIVE — from here on it is the only copy known to be whole;
  *  3. [[swapIn]]: each staged directory [[replace]]s its live counterpart
  *     (delete the live one, then one atomic rename);
  *  4. removing the staging.
  *
  * Recovery, run before anything else touches the store ([[recover]]): a
  * sealed staging is finished (steps 3-4 again: already-moved directories
  * have no staged source left, so the swap is idempotent), an unsealed one
  * is dropped (the crash came before any live directory was deleted). The
  * seal must precede the first delete: between a `replace`'s delete and its
  * rename the staged copy is the directory's ONLY copy.
  *
  * Small sidecar files (markers, counters, the bloom filter) are written by
  * [[writeAtomic]]: a hidden `.<name>.tmp` sibling renamed over the target,
  * so a crash leaves the old content or the new, never a truncated file
  * (an in-place write truncates first) — and the `.` prefix keeps the
  * temporary out of parquet listings.
  *
  * The steps are `rmTree` (one per tree), the rename of `replace` and the
  * rename of `writeAtomic`. Each calls [[beforeStep]] with the path it is
  * about to change, so a test can enumerate — and crash before — each one.
  */
object LocalFs {

  /** Test seam: called before every mutating step with the path about to
    * change. A no-op outside tests.
    */
  @volatile private[graft] var beforeStep: File => Unit = _ => ()

  private val Sentinel = "_graft_staged_ok"

  /** Delete `root` and everything under it, if present (one step). Never
    * follows a symlink: a link inside the tree (or `root` itself, if it is
    * one) is removed as a link, its target is left alone. Deepest entries go
    * first.
    */
  def rmTree(root: File): Unit =
    if (Files.exists(root.toPath, LinkOption.NOFOLLOW_LINKS)) {
      beforeStep(root)
      val paths = Files.walk(root.toPath)
      try paths.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally paths.close()
    }

  /** Put directory (or file) `src` at `dst`: `rmTree(dst)`, then one atomic
    * rename (same filesystem). `dst`'s parent is created if missing.
    */
  def replace(src: File, dst: File): Unit = {
    rmTree(dst)
    dst.getParentFile.mkdirs()
    beforeStep(dst)
    Files.move(src.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Write `bytes` to `path` through a hidden `.<name>.tmp` sibling renamed
    * over it; the parent is created if missing. One step, the rename: a
    * crash before it leaves at most a stray temporary, which the next write
    * of `path` overwrites.
    */
  def writeAtomic(path: File, bytes: Array[Byte]): Unit = {
    val tmp = new File(path.getParentFile, s".${path.getName}.tmp")
    path.getParentFile.mkdirs()
    Files.write(tmp.toPath, bytes)
    beforeStep(path)
    Files.move(tmp.toPath, path.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Mark a completely written staging as authoritative; `manifest` lines
    * are stored in the sentinel for the finishing step to read back.
    */
  def seal(staging: File, manifest: Seq[String] = Nil): Unit =
    writeAtomic(new File(staging, Sentinel),
      manifest.mkString("\n").getBytes(StandardCharsets.UTF_8))

  def isSealed(staging: File): Boolean = new File(staging, Sentinel).exists

  /** The lines [[seal]] stored in a sealed staging. */
  def manifest(staging: File): Seq[String] =
    new String(Files.readAllBytes(new File(staging, Sentinel).toPath),
      StandardCharsets.UTF_8).linesIterator.toSeq

  /** [[replace]] every `prefix*` directory of `staging` into `root`. */
  def swapIn(staging: File, root: File, prefix: String): Unit =
    listDirs(staging, prefix).foreach(src => replace(src, new File(root, src.getName)))

  /** Settle a staging left by this or a crashed earlier attempt: if it is
    * `complete`, run `finish` (which must be idempotent); then remove it
    * either way. Nothing happens when `staging` does not exist.
    */
  def recover(staging: File, complete: Boolean)(finish: => Unit): Unit =
    if (staging.exists) {
      if (complete) finish
      rmTree(staging)
    }

  /** Sub-directories of `dir` whose name starts with `prefix`. */
  def listDirs(dir: File, prefix: String): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith(prefix)).toSeq
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
