package graft.core

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio local filesystem must leave exactly the permission bits the
  * stock checksummed local filesystem leaves, for every way a write sets
  * them: created directories and files (with their checksum files) under
  * the configured umask, explicit modes, and a mode that only the stock
  * filesystem can express.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def fs(stock: Boolean, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val fs = if (stock) new LocalFileSystem() else new NioLocalFileSystem()
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Permission string of every entry under `root`, by relative path. */
  private def modes(root: JPath): Map[String, String] = {
    val s = Files.walk(root)
    try
      s.iterator().asScala.map { p =>
        root.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    finally s.close()
  }

  private def writeAll(fs: FileSystem, root: JPath): Unit = {
    val r = new Path(root.toUri)
    fs.mkdirs(new Path(r, "a/b/c"))
    val out = fs.create(new Path(r, "a/b/c/part-0.parquet"))
    out.write("payload".getBytes("UTF-8"))
    out.close()
    fs.mkdirs(new Path(r, "m"), new FsPermission(Integer.parseInt("750", 8).toShort))
    fs.create(new Path(r, "m/f"), new FsPermission(Integer.parseInt("640", 8).toShort), true, 4096, 1.toShort, 1L << 20, null)
      .close()
    fs.create(new Path(r, "x")).close()
    fs.setPermission(new Path(r, "x"), new FsPermission(Integer.parseInt("604", 8).toShort))
    fs.mkdirs(new Path(r, "t"))
    fs.setPermission(new Path(r, "t"), new FsPermission(Integer.parseInt("1777", 8).toShort))
  }

  for (umask <- Seq("022", "077", "002")) test(s"writes leave the stock filesystem's permission bits (umask $umask)") {
    val stockRoot = Files.createTempDirectory("fs_stock")
    val nioRoot = Files.createTempDirectory("fs_nio")
    writeAll(fs(stock = true, umask), stockRoot)
    writeAll(fs(stock = false, umask), nioRoot)
    val (stock, nio) = (modes(stockRoot), modes(nioRoot))
    assert(stock.keySet.exists(_.endsWith(".crc")), "the stock filesystem writes checksum files")
    assert(nio === stock)
    // the sticky bit has no java.nio form: it still goes through chmod
    val sticky = new Path(nioRoot.resolve("t").toUri)
    assert(fs(stock = false, umask).getFileStatus(sticky).getPermission.getStickyBit)
  }
}
