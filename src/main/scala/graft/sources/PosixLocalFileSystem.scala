package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's local file system with permissions set by a syscall. Without
 * `libhadoop`, `RawLocalFileSystem.setPermission` forks `chmod` — once per
 * `create` and per `mkdirs`, so a demux write forks a process for every
 * parquet file, `.crc` sidecar and directory it makes. This one calls
 * `Files.setPosixFilePermissions` instead; the file system is otherwise
 * Hadoop's own, `.crc` sidecars included, so a write leaves the same files
 * with the same permission bits.
 *
 * Writers opt in per write with [[PosixLocalFileSystem.writeOptions]];
 * reads stay on the default file system.
 */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** The raw layer of [[PosixLocalFileSystem]]. A sticky bit, which
  * `PosixFilePermission` cannot express, and a file store without POSIX
  * attributes take the inherited path. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    // without a sticky bit, FsPermission prints as `rwxr-x---`
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

object PosixLocalFileSystem {

  /** Writer options that route a write's `file:` paths, on the driver and
    * the executors, through [[PosixLocalFileSystem]]. Spark copies writer
    * options into the write job's Hadoop conf. The cache must be off for
    * the `file` scheme, because Hadoop caches file systems by scheme,
    * authority and user, not by conf, and would return the default one
    * already made for reads. Other schemes are untouched. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[PosixLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
