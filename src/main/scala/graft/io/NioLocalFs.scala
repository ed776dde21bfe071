package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` with its two process-forking calls done in
  * `java.nio`. Without `libhadoop.so`, stock `setPermission` runs `chmod`
  * and `getFileLinkStatus` runs `readlink`, one process per file and per
  * `.crc` companion; see `GraftSession` for the measured cost. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** Plain rwx bits go through `java.nio`; a sticky bit, or a file system
    * without POSIX attributes, takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0 || !Posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, rwx(mode))
  }

  /** A path that is not a symlink has its own status; a symlink (dangling
    * too) takes the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
  // declared order: OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 8 down to 0
  private val Bits = PosixFilePermission.values

  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- 0 until 9 if (mode & (0x100 >> i)) != 0) s.add(Bits(i))
    s
  }
}

/** `file:` for the FileSystem API (`fs.file.impl`): checksummed, like
  * Hadoop's `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Raw `file:` for the FileContext API, as Hadoop's `RawLocalFs`. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file:` for the FileContext API (`fs.AbstractFileSystem.file.impl`):
  * checksummed, like Hadoop's `LocalFs`, and like it ignores the URI that
  * FileContext passes. Spark's default checkpoint manager writes through
  * this one. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
