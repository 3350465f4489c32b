package graft.fs

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without subprocesses.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` forks `chmod` for
  * every permission change (one per create, one per mkdir) and `readlink`
  * for every link-status check (two per `FileContext` rename). Those forks
  * are most of a local streaming commit: offset log, commit log and one
  * state-store delta per partition per trigger. Both are done in-process
  * here through java.nio, with the same mode bits and the same statuses.
  * A sticky bit, a store without POSIX attributes and a real symlink still
  * take Hadoop's own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posixPermissions(permission.toShort))

  /** A non-link's link status is its status, as Hadoop's own fallback
    * returns after an empty `readlink`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The rwx bits of a mode; `PosixFilePermission`'s order is owner read
    * (0400) down to others execute (0001). */
  private def posixPermissions(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) set.add(p))
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed local filesystem over the raw one above. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `AbstractFileSystem` face of [[NioRawLocalFileSystem]], with the
  * overrides of Hadoop's `local.RawLocalFs` (whose constructors are not
  * public, so it cannot be given another delegate). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, the filesystem of Spark's checkpoint
  * file managers: checksummed, as Hadoop's `local.LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
