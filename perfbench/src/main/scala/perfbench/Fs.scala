package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.jdk.CollectionConverters._

/** File-tree helpers for the benchmark's own set-up and resets. */
object Fs {

  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Mirror `src` into `dst`, hard-linking files: for inputs the program only
    * reads or deletes, never rewrites.
    */
  def link(src: Path, dst: Path): Unit = mirror(src, dst)((s, d) => Files.createLink(d, s))

  /** Mirror `src` into `dst` by copying: for state the program may rewrite
    * in place.
    */
  def copy(src: Path, dst: Path): Unit = mirror(src, dst)((s, d) => Files.copy(s, d))

  private def mirror(src: Path, dst: Path)(put: (Path, Path) => Any): Unit = {
    Files.createDirectories(dst)
    for (f <- files(src)) {
      val target = dst.resolve(src.relativize(f).toString)
      Files.createDirectories(target.getParent)
      put(f, target)
    }
  }

  def bytes(root: Path): Long = files(root).map(Files.size).sum

  /** Bytes of files under `root` modified at or after `sinceMs`. */
  def bytesSince(root: Path, sinceMs: Long): Long =
    files(root).filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs).map(Files.size).sum

  def count(root: Path, suffix: String): Int = files(root).count(_.getFileName.toString.endsWith(suffix))
}
