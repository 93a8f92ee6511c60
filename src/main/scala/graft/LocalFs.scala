package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's raw `file:` filesystem without its process spawns.
 *
 * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every file
 * and dir it creates with a permission, and `readlink` for every
 * `getFileLinkStatus`, which `FileContext.rename` calls twice. A
 * streaming checkpoint creates and renames a few files per state store
 * per micro-batch, so those forks were most of the per-store commit
 * time. Here both go through `java.nio.file`; what Hadoop would do
 * with them is kept:
 *  - the same permission bits, after the same umask (the callers apply
 *    it); a sticky bit, which `PosixFilePermission` cannot express,
 *    still goes to Hadoop's `chmod`;
 *  - a real symlink still goes to Hadoop's link resolution.
 *
 * `Tables.configure` registers it under both Hadoop APIs, keeping the
 * checksum layers (`.crc` files) of each.
 */
class RawLocalFsNoFork extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileSystem` API (`fs.file.impl`): Hadoop's checksummed
 * `LocalFileSystem` over [[RawLocalFsNoFork]]. (Without it the `file:`
 * scheme resolves to hive-exec's `ProxyLocalFileSystem`, a filter over
 * the same `LocalFileSystem`.) */
class LocalFileSystemNoFork extends LocalFileSystem(new RawLocalFsNoFork)

/** `FileContext` API (`fs.AbstractFileSystem.file.impl`): Hadoop's
 * `local.LocalFs` — a `ChecksumFs` over a delegate to the raw
 * filesystem — over [[RawLocalFsNoFork]]. */
class LocalFsNoFork(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawDelegate(uri, conf))

private[graft] object LocalFs {

  private val bits = Seq(
    0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
    0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
    0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)

  def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (bit, p) => if ((mode & bit) != 0) s.add(p) }
    s
  }

  /** Hadoop's `local.RawLocalFs`, whose constructor is package-private,
   * over [[RawLocalFsNoFork]]. */
  class RawDelegate(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawLocalFsNoFork, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    @deprecated("as in Hadoop's RawLocalFs", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
