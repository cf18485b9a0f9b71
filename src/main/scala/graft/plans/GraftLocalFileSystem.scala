package graft.plans

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's raw `file:` file system: Hadoop's [[RawLocalFileSystem]]
  * with the two calls that fork a process when the native Hadoop library
  * is absent done in the JVM instead.
  *  - `setPermission` (every created file and directory, through the
  *    parquet commit protocol and the checkpoint) runs `chmod` there; here
  *    it is `Files.setPosixFilePermissions`. A sticky bit, which that call
  *    cannot set, and a file system without POSIX attributes keep the
  *    stock path.
  *  - `getFileLinkStatus` (every FileContext rename, so every checkpoint
  *    commit) runs `readlink` there even on a regular file; here only a
  *    path `Files.isSymbolicLink` reports as a link takes the stock path,
  *    and any other path gets the `getFileStatus` the stock call returns
  *    for it. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists owner rwx, group rwx, others rwx: mode bits 8..0
      PosixFilePermission.values.foreach { pp =>
        if ((bits & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local file system over
  * [[GraftRawLocalFileSystem]], as Hadoop's [[LocalFileSystem]] is over
  * the stock raw one (`.crc` side files unchanged). */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext side that Structured
  * Streaming's checkpoint writes through: Hadoop's `LocalFs` (a checksum
  * layer over `RawLocalFs`) with [[GraftRawLocalFileSystem]] under it.
  * Hadoop builds it by reflection from (URI, Configuration). */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[GraftRawLocalFileSystem]]. */
private class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
