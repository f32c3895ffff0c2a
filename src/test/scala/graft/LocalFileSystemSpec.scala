package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.engine.{GraftLocalFileSystem, GraftLocalFs}

/** graft's fork-free `file:` filesystem: the session binds it for both
  * FileSystem and FileContext, and it leaves what stock Hadoop leaves —
  * the same permission bits on what it creates, the sticky bit through
  * Hadoop's own path, and stock link statuses. */
class LocalFileSystemSpec extends SparkSuite {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def graftFs: FileSystem = FileSystem.get(new URI("file:///"), conf)

  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session binds graft's classes for file: in both FileSystem and FileContext") {
    assert(graftFs.getClass == classOf[GraftLocalFileSystem], graftFs.getClass)
    val sqlConf = spark.sessionState.newHadoopConf()
    assert(new Path("file:///tmp").getFileSystem(sqlConf).getClass == classOf[GraftLocalFileSystem])
    val fc = FileContext.getFileContext(new URI("file:///"), sqlConf)
    assert(fc.getDefaultFileSystem.getClass == classOf[GraftLocalFs],
      fc.getDefaultFileSystem.getClass)
  }

  test("create and mkdirs leave the permission bits stock LocalFileSystem leaves under the session umask") {
    val dir = Files.createTempDirectory("graft_lfs_perm")
    val modes = Seq(graftFs -> "graft", stockFs -> "stock").map { case (fs, tag) =>
      val file = new Path(dir.resolve(s"$tag.bin").toString)
      val out = fs.create(file, true)
      try out.write(1) finally out.close()
      val sub = new Path(dir.resolve(s"$tag/a/b").toString)
      assert(fs.mkdirs(sub))
      val umasked = new Path(dir.resolve(s"${tag}_0750").toString)
      assert(fs.mkdirs(umasked, new FsPermission("750")))
      Seq(file, sub, sub.getParent, umasked).map(p => mode(Paths.get(p.toUri.getPath)))
    }
    assert(modes.head == modes(1), f"graft ${modes.head.map(m => f"$m%o")} vs stock ${modes(1).map(m => f"$m%o")}")
    val umask = FsPermission.getUMask(conf).toShort.toInt
    assert(modes.head.head == (0x1b6 & ~umask), f"file mode ${modes.head.head}%o")
    // the checksum sidecar is written too
    assert(Files.exists(dir.resolve(".graft.bin.crc")))
  }

  test("a 01777 setPermission takes Hadoop's own path and keeps the sticky bit") {
    val dir = Files.createTempDirectory("graft_lfs_sticky")
    graftFs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1777", 8), f"mode ${mode(dir)}%o")
    graftFs.setPermission(new Path(dir.toString), new FsPermission("700"))
    assert(mode(dir) == Integer.parseInt("700", 8), f"mode ${mode(dir)}%o")
  }

  test("getFileLinkStatus: a symlink with its target, a plain file's getFileStatus, FileNotFoundException for a missing path") {
    val dir = Files.createTempDirectory("graft_lfs_link")
    val target = Files.write(dir.resolve("target.txt"), "x".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("link.txt"), target)
    val fs = graftFs
    val ls = fs.getFileLinkStatus(new Path(link.toString))
    assert(ls.isSymlink, ls)
    assert(Path.getPathWithoutSchemeAndAuthority(ls.getSymlink).toString == target.toString,
      ls.getSymlink)
    val plain = new Path(target.toString)
    def shape(st: org.apache.hadoop.fs.FileStatus) =
      (st.getPath, st.getLen, st.isDirectory, st.isSymlink, st.getModificationTime)
    assert(shape(fs.getFileLinkStatus(plain)) == shape(fs.getFileStatus(plain)))
    assert(!fs.getFileLinkStatus(plain).isSymlink)
    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
    // FileContext resolves and renames through the same filesystem
    val fc = FileContext.getFileContext(new URI("file:///"), conf)
    val moved = new Path(dir.resolve("moved.txt").toString)
    fc.rename(plain, moved)
    assert(Files.readAllLines(Paths.get(moved.toUri.getPath)).asScala == Seq("x"))
  }
}
