package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system without shell subprocesses.
  *
  * Without the native Hadoop library, the stock `RawLocalFileSystem` forks
  * `chmod` for every file and directory it creates and `readlink` for every
  * link-status probe (four per checkpoint-file rename). Each fork costs
  * milliseconds; the streaming offset/commit logs and every parquet write
  * task pay it. This subclass overrides only those two methods, in the JVM,
  * with the stock semantics:
  *  - `setPermission` writes the nine rwx bits with
  *    `Files.setPosixFilePermissions` (which, like `chmod`, follows a
  *    link); any other bit, such as sticky, still goes to the stock path;
  *  - `getFileLinkStatus` is the stock (deprecated-status) code with the
  *    `readlink` process replaced by `Files.readSymbolicLink` on the same
  *    `new File(f.toString)`. A qualified `file:/…` string names no file on
  *    disk, so, exactly as the stock `readlink` fails on it, such a path
  *    reports "not a link".
  *
  * `GraftSession.builder` installs it for both Hadoop APIs Spark reaches
  * `file:` through: [[GraftLocalFileSystem]] for `FileSystem` (parquet
  * writes, committers, manifests) and [[GraftLocalFs]] for `FileContext`
  * (the streaming checkpoint). The `.crc` checksum layer is unchanged.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, GraftRawLocalFileSystem.posix(bits))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = GraftRawLocalFileSystem.readLink(new File(f.toString))
    val status =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        // a dangling link: File.exists is false for it
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
      }
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
    status
  }
}

object GraftRawLocalFileSystem {
  /** The rwx bits as NIO permissions: `PosixFilePermission` declares
    * OWNER_READ … OTHERS_EXECUTE in bit order, 0400 down to 0001. */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) => if ((bits & (0x100 >> i)) != 0) s.add(p) }
    s
  }

  /** `FileUtil.readLink` without the process: the link's target, or "" when
    * `f` is not a link or cannot be read. */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString else ""
    } catch { case _: java.io.IOException | _: java.nio.file.InvalidPathException => "" }
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the stock `LocalFs`
  * (`ChecksumFs` over `RawLocalFs`) over [[GraftRawLocalFileSystem]]. Like
  * `LocalFs`, it binds `file:///` whatever URI it is created for. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))

/** `org.apache.hadoop.fs.local.RawLocalFs` with the graft raw file system. */
private class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in RawLocalFs", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
