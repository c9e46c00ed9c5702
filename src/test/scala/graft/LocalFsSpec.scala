package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's local filesystem is graft's fork-free one, and what
  * it leaves on disk — mode bits, checksum files, link status — is
  * what Hadoop's stock local filesystem leaves. */
class LocalFsSpec extends SparkSpec {

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  private lazy val graftFs: FileSystem = FileSystem.get(new URI("file:///"), conf)

  private lazy val stockFs: FileSystem = {
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  /** The FileContext a fresh Hadoop configuration gets: the stock
    * `LocalFs`. */
  private lazy val stockFc = FileContext.getLocalFSFileContext(new Configuration())

  private lazy val graftFc = FileContext.getFileContext(conf)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every file and dir under `root`, relative, with its mode bits. */
  private def tree(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  /** Run `write` against a fresh dir once through graft's filesystem
    * and once through the stock one; the trees must match. */
  private def sameTree(write: (FileSystem, FileContext, Path) => Unit): Map[String, Int] = {
    val Seq(g, s) = Seq("graft", "stock").map(n => Files.createTempDirectory(s"graft-localfs-$n"))
    write(graftFs, graftFc, new Path(g.toUri))
    write(stockFs, stockFc, new Path(s.toUri))
    assert(tree(g) == tree(s))
    tree(g)
  }

  test("the session's FileSystem and FileContext for file:/// are graft's") {
    assert(graftFs.isInstanceOf[NioLocalFileSystem], graftFs.getClass)
    assert(graftFs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(graftFc.getDefaultFileSystem.isInstanceOf[NioLocalFs],
      graftFc.getDefaultFileSystem.getClass)
    assert(stockFc.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
  }

  test("created files and dirs carry the stock mode bits, default and explicit") {
    val written = sameTree { (fs, fc, root) =>
      def put(out: org.apache.hadoop.fs.FSDataOutputStream): Unit = {
        out.write(Array[Byte](1, 2, 3)); out.close()
      }
      put(fs.create(new Path(root, "default.bin")))
      put(fs.create(new Path(root, "nested/deeper/file.bin")))
      put(fs.create(new Path(root, "explicit.bin"), new FsPermission("600"),
        true, 4096, 1.toShort, 1 << 20, null))
      put(fs.create(new Path(root, "wide.bin"), new FsPermission("777"),
        true, 4096, 1.toShort, 1 << 20, null))
      fs.mkdirs(new Path(root, "dir-default/a"))
      fs.mkdirs(new Path(root, "dir-explicit/b"), new FsPermission("750"))
      fs.mkdirs(new Path(root, "dir-wide"), new FsPermission("777"))
      put(fc.create(new Path(root, "fc.bin"), EnumSet.of(CreateFlag.CREATE)))
      fc.mkdir(new Path(root, "fc-dir/c"), new FsPermission("700"), true)
      fs.setPermission(new Path(root, "default.bin"), new FsPermission("640"))
    }
    // checksum files ride along, as with the stock filesystem
    assert(written.contains(".default.bin.crc") && written.contains(".fc.bin.crc"))
    assert(written("explicit.bin") == Integer.parseInt("600", 8))
    assert(written("default.bin") == Integer.parseInt("640", 8))
  }

  test("getFileLinkStatus matches the stock answer for links and non-links") {
    val dir = Files.createTempDirectory("graft-localfs-links")
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("link"), file)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val graftRaw = graftFs.asInstanceOf[LocalFileSystem].getRaw
    val stockRaw = stockFs.asInstanceOf[LocalFileSystem].getRaw
    def shape(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory,
      st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
      st.getLen, st.getModificationTime, st.getPermission)
    def status(get: Path => FileStatus, p: Path) =
      try Right(shape(get(p)))
      catch { case e: FileNotFoundException => Left(e.getClass) }
    // both the qualified (file:/...) and the bare form of each path
    val paths = Seq(file, sub, dir.resolve("link"), dir.resolve("dangling"),
      dir.resolve("missing")).flatMap(p => Seq(new Path(p.toUri), new Path(p.toString)))
    paths.foreach { p =>
      assert(status(graftRaw.getFileLinkStatus, p) == status(stockRaw.getFileLinkStatus, p), p)
      assert(status(graftFc.getFileLinkStatus, p) == status(stockFc.getFileLinkStatus, p), p)
    }
    assert(status(graftRaw.getFileLinkStatus, new Path(dir.resolve("link").toString))
      .exists(_._4), "a symlink must still read as a link")
  }

  test("mode bits outside 0777 take the stock path") {
    val written = sameTree { (fs, _, root) =>
      fs.mkdirs(new Path(root, "sticky"))
      fs.setPermission(new Path(root, "sticky"), new FsPermission("1777"))
    }
    assert(written("sticky") == Integer.parseInt("1777", 8))
  }
}
