package graft.core

import java.nio.file.{Files, FileSystems}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The checksummed local filesystem (`file:`), setting permission bits
  * through `java.nio` instead of a forked `chmod` process. Without Hadoop's
  * native library, the stock raw local filesystem starts one `chmod` per
  * directory and file it creates — hundreds of process starts per
  * maintenance tick. Same bits, same checksum files; `Sessions.local`
  * installs it as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // rwxrwxrwx, owner read first: bit 8 - i of the mode is PosixFilePermission(i)
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) => (1 << (8 - i)) -> p }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      // sticky and set-id bits have no java.nio form
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = new java.util.HashSet[PosixFilePermission]()
        bits.foreach { case (b, perm) => if ((mode & b) != 0) perms.add(perm) }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        ()
      }
    }
  }
}
