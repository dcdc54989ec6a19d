package graft

import graft.sources.{PosixLocalFileSystem, PosixRawLocalFileSystem}
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[PosixLocalFileSystem]] sets the permission bits Hadoop's own local
  * file system sets, and the writer options select it for `file:` only. */
class PosixLocalFileSystemSpec extends AnyFunSuite {

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private lazy val posix = initialized(new PosixRawLocalFileSystem)
  private lazy val hadoop = initialized(new RawLocalFileSystem)

  /** The full mode, sticky bit included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def check(mk: JPath => JPath): Unit = {
    val dir = Files.createTempDirectory("graft-posix-fs")
    for (m <- Seq("0600", "0640", "0644", "0700", "0750", "0755", "0777", "1777")) {
      val ours = mk(dir.resolve(s"posix-$m"))
      val theirs = mk(dir.resolve(s"hadoop-$m"))
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      posix.setPermission(new Path(ours.toUri), perm)
      hadoop.setPermission(new Path(theirs.toUri), perm)
      assert(Files.getPosixFilePermissions(ours) == Files.getPosixFilePermissions(theirs), m)
      // the sticky bit survives only through the inherited chmod path
      assert(mode(ours) == mode(theirs), f"$m: ${mode(ours)}%o vs ${mode(theirs)}%o")
    }
  }

  test("setPermission on a file gives the bits RawLocalFileSystem gives, 01777 included") {
    check(Files.createFile(_))
  }

  test("setPermission on a directory gives the bits RawLocalFileSystem gives, 01777 included") {
    check(Files.createDirectory(_))
  }

  test("the writer options select it for file: paths, past the file-system cache") {
    val dir = new Path(Files.createTempDirectory("graft-posix-fs-conf").toUri)
    val plain = new Configuration()
    val opted = new Configuration()
    PosixLocalFileSystem.writeOptions.foreach { case (k, v) => opted.set(k, v) }
    assert(!dir.getFileSystem(plain).isInstanceOf[PosixLocalFileSystem])
    val fs = dir.getFileSystem(opted)
    assert(fs.isInstanceOf[PosixLocalFileSystem] &&
      fs.asInstanceOf[PosixLocalFileSystem].getRaw.isInstanceOf[PosixRawLocalFileSystem])
    // a .crc sidecar, exactly as the default local file system writes one
    val out = fs.create(new Path(dir, "f"))
    try out.write(1) finally out.close()
    assert(Files.exists(java.nio.file.Paths.get(dir.toUri).resolve(".f.crc")))
  }
}
