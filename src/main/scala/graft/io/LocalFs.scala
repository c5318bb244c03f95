package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without its shell forks. With no native
  * Hadoop library, stock `RawLocalFileSystem` runs `chmod` for every
  * file and directory it creates, and `getFileLinkStatus` runs
  * `readlink` on the `file:`-qualified path (which never names a file,
  * so it always returns ""); `FileContext.rename` calls that twice per
  * rename. Here a permission is set through `java.nio` (a sticky bit
  * still goes to the stock code) and a path that is not a symbolic link
  * gets its plain `getFileStatus`; real links go to the stock code. */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` for `fs.file.impl`, as `LocalFileSystem`. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** The raw `FileContext` side, as Hadoop's `RawLocalFs`. */
class ForklessRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new ForklessRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` side for `fs.AbstractFileSystem.file.impl`,
  * as Hadoop's `LocalFs`. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
