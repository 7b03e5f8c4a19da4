package graft.io

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its two process spawns. Without
  * libhadoop, `setPermission` runs a `chmod` per create and mkdir, and
  * `getFileLinkStatus` runs a `readlink` per call. That `readlink` gets
  * the `file:/…` URI string, so it never resolves a link and stock
  * answers with `getFileStatus`. `setPermission` becomes a `chmod(2)` of
  * the same mode: like GNU `chmod` under a 4-digit numeric mode, it
  * keeps a directory's setuid and setgid bits. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val kept = if (Files.isDirectory(f)) Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0x0c00 else 0 // S_ISUID | S_ISGID
    Files.setAttribute(f, "unix:mode", kept | permission.toShort)
  }

  override def getFileLinkStatus(f: Path): FileStatus = getFileStatus(f)
}

/** `NioRawLocalFileSystem` as a FileContext filesystem, as Hadoop's
  * `RawLocalFs` wraps `RawLocalFileSystem`. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed local FileContext filesystem (`.crc` sidecars), as
  * Hadoop's `LocalFs` wraps `RawLocalFs`; registered for `file:` as
  * `fs.AbstractFileSystem.file.impl` by `GraftSession.tune`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
