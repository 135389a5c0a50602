package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell

/** The `file:` filesystem graft registers in [[graft.GraftSession]]:
  * Hadoop's local filesystem, minus its process forks.
  *
  * Without `libhadoop` (Spark's jar directory does not ship it), stock
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process
  * and `getFileLinkStatus` runs `readlink`. Every file, `.crc` sidecar
  * and directory a write creates is chmod-ed: a small initialize,
  * decide, apply and streamed file started 264 processes. This class sets
  * the same permission bits through `java.nio` and answers the link
  * status of a path that is not a symbolic link with its file status,
  * which is what the stock code returns after `readlink` prints
  * nothing. Whatever `java.nio` cannot express the same way goes to
  * the stock code: a real symlink, the sticky bit, a directory holding
  * setuid/setgid bits (`chmod` keeps them on directories, `chmod(2)`
  * clears them), a store without POSIX attributes, Windows, and hosts
  * where `libhadoop` is loaded (already in-process there).
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!LocalFs.chmod(pathToFile(p).toPath, permission)) super.setPermission(p, permission)

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` (`fs.file.impl`): `.crc` sidecars are
  * written and verified exactly as by `LocalFileSystem`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The unchecksummed `FileContext` binding, as Hadoop's `RawLocalFs`. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  // local filesystems each validate names their own way; leave it to the OS
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` binding
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs` — what
  * Spark's streaming checkpoint manager reads and writes through. The
  * URI is ignored like the stock class does: there is one local root.
  *
  * `open(f)` goes through the checked `open(f, bufferSize)`: that is
  * the only `open` `ChecksumFs` overrides, and the `FilterFs.open(f)`
  * it inherits returns the wrapped filesystem's raw stream, so a
  * `FileContext.open` would read a flipped byte without a
  * `ChecksumException` (the stock `LocalFs` does). */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf)) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}

object LocalFs {
  private val forkFree = !NativeIO.isAvailable && !Shell.WINDOWS

  private val S_IFMT = 0xF000   // 0170000
  private val S_IFDIR = 0x4000  // 0040000
  private val SUID_SGID = 0xC00 // 06000

  // PosixFilePermission's declaration order is rwx for owner, group,
  // others: ordinal i is bit 0400 >> i
  private val perms = PosixFilePermission.values.toSeq

  /** The 9 permission bits of `mode` as `java.nio` permissions. */
  private def toPosix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    perms.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) s.add(b))
    s
  }

  /** Sets `permission` on `p` (following links, like `chmod`) and
    * returns true, or returns false without touching `p` when only the
    * stock code gives the same result. */
  private[sources] def chmod(p: java.nio.file.Path, permission: FsPermission): Boolean =
    forkFree && !permission.getStickyBit && {
      val mode = try Some(Files.getAttribute(p, "unix:mode").asInstanceOf[Int])
        catch { case _: UnsupportedOperationException | _: IllegalArgumentException => None }
      mode.exists(m => !((m & S_IFMT) == S_IFDIR && (m & SUID_SGID) != 0)) &&
        (try { Files.setPosixFilePermissions(p, toPosix(permission.toShort)); true }
         catch { case _: UnsupportedOperationException => false })
    }
}
