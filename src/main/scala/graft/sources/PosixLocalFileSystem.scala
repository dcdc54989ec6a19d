package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's local file system without forked processes. Without
 * `libhadoop`, `RawLocalFileSystem.setPermission` forks `chmod` — once per
 * `create` and per `mkdirs`, so a demux write forks a process for every
 * parquet file, `.crc` sidecar and directory it makes — and
 * `getFileLinkStatus`, which every `FileContext.rename` calls, forks
 * `readlink`. This one makes syscalls instead; the file system is
 * otherwise Hadoop's own, `.crc` sidecars included, so a write leaves the
 * same files with the same permission bits.
 *
 * `src/main/resources/core-site.xml` binds the `file` scheme to it for
 * every `Configuration` in the process, for `FileSystem` and, through
 * [[PosixLocalFs]], for `FileContext`. A `core-site.xml` earlier on the
 * classpath gets Hadoop's default back.
 */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** The raw layer of [[PosixLocalFileSystem]]. A sticky bit, which
  * `PosixFilePermission` cannot express, a file store without POSIX
  * attributes and a real symbolic link take the inherited path. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    // without a sticky bit, FsPermission prints as `rwxr-x---`
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  // the inherited path forks `readlink` on `f.toString()`, a `file:/…`
  // string for a qualified path, and then returns getFileStatus(f)
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[PosixLocalFileSystem]] for `FileContext`: Hadoop's `LocalFs`, whose
  * raw layer hard-codes `new RawLocalFileSystem()`, over
  * [[PosixRawLocalFileSystem]]. `AbstractFileSystem.get` calls the
  * `(URI, Configuration)` constructor. */
class PosixLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new PosixRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[PosixRawLocalFileSystem]], with its four
  * overrides. */
class PosixRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new PosixRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
