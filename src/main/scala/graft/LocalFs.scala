package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a process per file.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` forks a shell
  * for two calls on graft's hot paths: `setPermission` runs `chmod`
  * (`ChecksumFileSystem.create` calls it for every file and again for its
  * `.crc`), and `getFileLinkStatus` runs `readlink` (`FileContext.rename`
  * with OVERWRITE calls it on both paths of every streaming checkpoint
  * commit). This raw filesystem answers both through `java.nio`:
  *  - `setPermission` sets the same nine permission bits `chmod` would;
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop returns once `readlink` prints
  *    nothing.
  *
  * It defers to Hadoop's own code only where `java.nio` cannot say the
  * same thing: for a sticky bit and for a real symlink. The same path runs
  * whether or not the native library loads; with it, Hadoop's own
  * `getFileLinkStatus` would still fork `readlink` (native code replaces
  * only `chmod`). [[Graft.builder]] sets both local filesystem keys to the
  * classes below. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileSystem` API (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over [[NioRawLocalFileSystem]]. A subclass, so
  * `FileSystem.getLocal` still casts. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` API (`fs.AbstractFileSystem.file.impl`), which the
  * streaming checkpoint manager and state store use: Hadoop's `LocalFs`
  * over [[NioRawLocalFileSystem]]. The three overrides are those of
  * `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors are
  * package-private; like `LocalFs`, it always binds `file:///`. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
