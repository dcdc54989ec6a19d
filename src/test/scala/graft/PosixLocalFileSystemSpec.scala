package graft

import graft.sources.{PosixLocalFileSystem, PosixLocalFs, PosixRawLocalFileSystem}
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[PosixLocalFileSystem]] sets the permission bits and reports the link
  * status Hadoop's own local file system does, and `core-site.xml` binds
  * `file:` to it and to [[PosixLocalFs]]. */
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

  test("a plain Configuration binds file: to it, for FileSystem and FileContext") {
    val conf = new Configuration()
    val fs = FileSystem.get(java.net.URI.create("file:///"), conf)
    assert(fs.isInstanceOf[PosixLocalFileSystem] &&
      fs.asInstanceOf[PosixLocalFileSystem].getRaw.isInstanceOf[PosixRawLocalFileSystem])
    assert(AbstractFileSystem.get(java.net.URI.create("file:///"), conf).isInstanceOf[PosixLocalFs])
  }

  /** Every path under `root`, relative, with its permission bits and
    * contents. */
  private def tree(root: JPath): Set[(String, String, Seq[Byte])] = {
    val all = Files.walk(root)
    try all.toArray.map(_.asInstanceOf[JPath]).filter(_ != root).map(p =>
      (root.relativize(p).toString,
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)),
        if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)).toSet
    finally all.close()
  }

  test("FileContext.rename(OVERWRITE) leaves the files and .crc sidecars Hadoop's LocalFs leaves") {
    val hadoopConf = new Configuration()
    hadoopConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    def renames(conf: Configuration): JPath = {
      val dir = Files.createTempDirectory("graft-posix-fc")
      val fc = FileContext.getFileContext(dir.toUri, conf)
      for (round <- 1 to 2; i <- 0 until 3) {
        val (tmp, dst) = (new Path(dir.toUri.toString, s"f$i.tmp"), new Path(dir.toUri.toString, s"f$i"))
        val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(s"round $round, file $i".getBytes("UTF-8")) finally out.close()
        fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      }
      dir
    }
    val (ours, theirs) = (tree(renames(new Configuration())), tree(renames(hadoopConf)))
    assert(ours == theirs, s"only ours: ${ours -- theirs}; only Hadoop's: ${theirs -- ours}")
    assert(ours.map(_._1) == (0 until 3).flatMap(i => Seq(s"f$i", s".f$i.crc")).toSet)
  }

  test("getFileLinkStatus equals Hadoop's for a file, symlinks and a missing path") {
    val dir = Files.createTempDirectory("graft-posix-link")
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    // the status's fields, or the class of what it threw
    def status(fs: RawLocalFileSystem, p: Path) = scala.util.Try {
      val st = fs.getFileLinkStatus(p)
      (st.getPath, st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
        st.isDirectory, st.getLen, st.getModificationTime, st.getPermission, st.getOwner)
    }.toEither.left.map(_.getClass)
    // a qualified `file:` path and a bare one: Hadoop resolves links by name
    for (p <- Seq(file, link, dangling, dir.resolve("missing"));
         path <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(status(posix, path) == status(hadoop, path), path)
    assert(status(posix, new Path(link.toString)).exists(_._2), "a bare symlink path is a link")
  }
}
