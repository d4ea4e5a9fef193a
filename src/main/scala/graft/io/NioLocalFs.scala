package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with two shell calls replaced by
  * syscalls. Without the native Hadoop library (Spark's distribution
  * ships none), `RawLocalFileSystem.setPermission` runs `chmod` in a
  * child process for every file and directory it creates, and
  * `getFileLinkStatus` runs `readlink` in one, twice per FileContext
  * rename. A streaming checkpoint or state-store commit does both.
  *
  * `setPermission` writes the same mode through the `unix:mode`
  * attribute: the 9 permission bits and the sticky bit, and, like
  * `chmod 0755`, it keeps a directory's setuid/setgid bits (which
  * `Files.setPosixFilePermissions` would clear). A missing path throws
  * `FileNotFoundException` (Hadoop's throws the shell's exit-code
  * exception); a filesystem without the unix view falls back to Hadoop.
  * `getFileLinkStatus` of a path that is not a symlink is its
  * `getFileStatus`, which is what Hadoop returns for it after its
  * `readlink` comes back empty; symlinks still take Hadoop's path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    try {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val isDir = (mode & 0xf000) == 0x4000 // S_IFMT, S_IFDIR
      val kept = if (isDir) mode & 0xc00 else 0 // S_ISUID | S_ISGID
      Files.setAttribute(file, "unix:mode", Integer.valueOf(kept | (permission.toShort & 0x3ff)))
    } catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `LocalFileSystem` (checksummed) over [[NioRawLocalFileSystem]]:
  * `fs.file.impl` in [[graft.GraftSession.local]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's local filesystem over [[NioRawLocalFileSystem]]: a
  * `ChecksumFs` over a delegate configured like Hadoop's `RawLocalFs`.
  * `fs.AbstractFileSystem.file.impl` in [[graft.GraftSession.local]];
  * Structured Streaming's checkpoint manager and the `graft-wrapped`
  * pointer swap take this path. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
