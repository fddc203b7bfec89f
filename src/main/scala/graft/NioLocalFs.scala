package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its per-file process forks taken
  * out (`fs.file.impl` in [[Scratch.localFsConfs]]).
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` runs `chmod`
  * in a child process, once per file it creates and once per directory
  * it makes. Here a plain `rwx` mode is set through java.nio instead. A
  * mode with setuid, setgid or sticky bits, or a filesystem without a
  * POSIX attribute view, still goes to Hadoop's implementation.
  *
  * `getFileLinkStatus` forks `readlink` before it stats. For a path that
  * is not a symlink that yields "" and the result is `getFileStatus`, so
  * this returns `getFileStatus` directly and leaves symlinks to Hadoop.
  */
class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !NioLocalFileSystem.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioLocalFileSystem.perms(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The permission set of the low nine bits of `mode`. */
  private def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // values are declared owner r/w/x, group r/w/x, others r/w/x: bit 8 down to 0
    PosixFilePermission.values.foreach(p => if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p))
    s
  }
}

/** The `AbstractFileSystem` (FileContext) side of [[NioLocalFileSystem]]
  * (`AbstractFileSystem.file.impl`). It mirrors Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs` over the graft class.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(
      uri, new NioLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
