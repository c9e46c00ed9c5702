package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem minus its child processes.
  *
  * Without the native `libhadoop`, the stock [[RawLocalFileSystem]]
  * forks `chmod` to set the mode of every file and directory it
  * creates, and `readlink` to answer every `getFileLinkStatus` (which
  * `FileContext.rename` asks for both ends of a rename). This class
  * sets the same mode bits through `java.nio` and answers a non-link's
  * link status with its plain status. Everything else — the bytes, the
  * checksum files around them, symlinks — is the stock code. Mode bits
  * outside 0777 (the sticky bit) and a store with no POSIX view take
  * the stock path. See [[Engine]] for where it is installed. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !NioRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.permissions(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // declared owner-read first, others-execute last: bit 8 down to bit 0
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, bit) => if ((mode & bit) != 0) out.add(p) }
    out
  }
}

/** `fs.file.impl`: the stock checksummed local filesystem over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side that
  * Structured Streaming's offset, commit and source logs write
  * through: the stock `LocalFs` (checksums over a delegating raw
  * filesystem) with [[NioRawLocalFileSystem]] as the delegate. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** The stock `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private[graft] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
