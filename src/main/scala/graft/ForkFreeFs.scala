package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without its two child processes.
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod`
  * for every file it creates with a permission and every directory it
  * makes, and `readlink` for every `FileContext` rename
  * (`getFileLinkStatus`). Here the bits are set through `java.nio`, and a
  * path that is not a symlink is answered by `getFileStatus`, which is
  * what the stock code returns once `readlink` prints nothing. A sticky
  * bit, a store without POSIX attributes and a real symlink still take
  * the stock path. */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits  = permission.toShort
      val perms = new java.util.HashSet[PosixFilePermission]
      // PosixFilePermission lists owner rwx, group rwx, others rwx: bit 8 down to 0.
      PosixFilePermission.values.zipWithIndex.foreach { case (v, i) =>
        if ((bits >> (8 - i) & 1) == 1) perms.add(v)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file:` filesystem of the `FileSystem` API: Hadoop's checksummed
  * `LocalFileSystem` over the fork-free raw one, so `.crc` files are still written and verified. */
final class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `file:` filesystem of the `FileContext` API, the twin of
  * [[ForkFreeLocalFileSystem]]: a `ChecksumFs` like Hadoop's `LocalFs`.
  * Like `LocalFs`, it serves `file:///` whatever URI it is built with. */
final class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (package-private constructors) over
  * [[ForkFreeRawLocalFileSystem]], with the same four overrides. */
private final class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
