package graft.conf

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its per-file process starts.
  *
  * Without `libhadoop.so` Hadoop sets every permission by running
  * `chmod NNNN <path>` (once per file, `.crc` file and directory it
  * creates) and answers every link-status query by running `readlink`
  * (four per `FileContext.rename`, on a `file:/…` string `readlink`
  * cannot resolve, so it always answers "" and the status is the plain
  * file status). This subclass makes the same two answers in-process:
  *
  *  - `setPermission` sets the 9 mode bits with one `chmod(2)` through
  *    `Files.setPosixFilePermissions`. A sticky bit in the request, or
  *    a directory carrying setuid/setgid (which `chmod NNNN` keeps on
  *    a directory), takes Hadoop's own path, so the bits that land are
  *    always the ones `chmod` would leave.
  *  - `getFileLinkStatus` is `getFileStatus` unless the path really is
  *    a symbolic link, which takes Hadoop's own path.
  *
  * Nothing else changes: same files, same `.crc` files, same bits. The
  * three wrappers below give the `FileSystem` API (checksummed, like
  * `LocalFileSystem`) and the `FileContext` API (like `local.LocalFs`,
  * which streaming checkpoints and the state store write through) over
  * this class. [[Sessions.LocalFsConfs]] registers them for `file:`. */
private[graft] class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0 || isSetIdDirectory(path)) // above 0777
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** The permissions of the low 9 bits of `mode`
    * (`PosixFilePermission` lists them from owner-read, bit 8, down). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode >> (8 - p.ordinal) & 1) == 1) s.add(p) }
    s
  }

  private def isSetIdDirectory(path: NioPath): Boolean = {
    val st = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    (st & 0xf000) == 0x4000 && (st & 0xc00) != 0 // S_IFDIR, S_ISUID|S_ISGID
  }
}

/** `LocalFileSystem` (CRC-checksummed `file:`) over
  * [[ForkFreeRawLocalFileSystem]]: the `fs.file.impl` class. */
private[graft] class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `local.RawLocalFs` (whose constructors are package-private) over
  * [[ForkFreeRawLocalFileSystem]]: the same scheme, port and server
  * defaults. */
private[graft] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `local.LocalFs` over [[ForkFreeRawLocalFs]]: the
  * `fs.AbstractFileSystem.file.impl` class. */
private[graft] class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
