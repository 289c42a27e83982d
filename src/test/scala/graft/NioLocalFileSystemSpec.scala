package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] must leave the same files behind as Hadoop's
  * stock local filesystem: mode bits, checksum files and link status. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def fs(impl: Class[_ <: FileSystem]): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", impl.getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    FileSystem.get(new URI("file:///"), conf)
  }
  private lazy val nio = fs(classOf[NioLocalFileSystem])
  private lazy val stock = fs(classOf[LocalFileSystem])
  private def modeOf(p: Path) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))
  /** A fresh local directory as a `file://` URI prefix, no trailing slash. */
  private def tmpDir(): String =
    "file://" + Files.createTempDirectory("niofs").toString

  test("the filesystem for file: is the NIO one, over a checksummed raw one") {
    assert(nio.isInstanceOf[NioLocalFileSystem])
    assert(nio.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
  }

  test("created files, directories and checksums get the stock mode bits") {
    val root = tmpDir()
    Seq(nio -> "nio", stock -> "stock").foreach { case (f, d) =>
      val out = f.create(new Path(s"$root/$d/sub/part-0.parquet"))
      out.write(Array[Byte](1, 2, 3))
      out.close()
      assert(f.mkdirs(new Path(s"$root/$d/private"), new FsPermission("700")))
      f.setPermission(new Path(s"$root/$d/sub/part-0.parquet"),
        new FsPermission("640"))
    }
    Seq("sub", "sub/part-0.parquet", "sub/.part-0.parquet.crc", "private")
      .foreach { rel =>
        assert(modeOf(new Path(s"$root/nio/$rel")) ==
          modeOf(new Path(s"$root/stock/$rel")), rel)
      }
    assert(modeOf(new Path(s"$root/nio/private")) == "rwx------")
    assert(modeOf(new Path(s"$root/nio/sub/part-0.parquet")) == "rw-r-----")
  }

  test("a sticky-bit mode still applies through Hadoop's own chmod") {
    val dir = new Path(tmpDir(), "t")
    assert(nio.mkdirs(dir))
    nio.setPermission(dir, new FsPermission("1777"))
    assert(nio.getFileStatus(dir).getPermission.getStickyBit)
  }

  test("link status matches the stock one: file, symlink, missing path") {
    val root = Files.createTempDirectory("niofs")
    val file = Files.write(root.resolve("a.txt"), Array[Byte](1, 2))
    val link = Files.createSymbolicLink(root.resolve("b.txt"), file)
    val fileSt = nio.getFileLinkStatus(new Path(file.toUri))
    assert(!fileSt.isSymlink && fileSt.isFile && fileSt.getLen == 2)
    assert(fileSt.getPath == stock.getFileLinkStatus(new Path(file.toUri)).getPath)
    // Hadoop reads the link only through a scheme-less path
    Seq(new Path(link.toString), new Path(link.toUri)).foreach { p =>
      val (n, s) = (nio.getFileLinkStatus(p), stock.getFileLinkStatus(p))
      assert(n.isSymlink == s.isSymlink, p)
      if (s.isSymlink) assert(n.getSymlink == s.getSymlink, p)
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    intercept[FileNotFoundException](
      nio.getFileLinkStatus(new Path(root.resolve("none").toUri)))
  }
}
