package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Crash-safe versions of a parquet table directory on a local filesystem,
  * shared by the warehouse sink (`etl.ParquetWarehouse`) and the streaming
  * state tables (`streaming.StateStore`).
  *
  * A new version is written in full to `<dir>.staging`, then swapped in by
  * two renames: `<dir>` → `<dir>.old`, `<dir>.staging` → `<dir>`. Readers
  * look at `<dir>`, or at `<dir>.old` when a crash struck between the two
  * renames ([[current]]), so every crash prefix leaves a complete version
  * where readers look, and the next [[promote]] heals the crash state
  * before it deletes anything. On HDFS/S3 the same shape becomes a
  * rename/commit protocol.
  *
  * The staging write may read the version it replaces: the directories are
  * distinct and the swap happens only after the write finished.
  */
object StagedTable {

  private def staging(dir: String): Path = Paths.get(dir + ".staging")
  private def old(dir: String): Path = Paths.get(dir + ".old")

  /** The directory holding the table's current version: `<dir>`, or the
    * retired `<dir>.old` inside a crashed swap; None before the first commit.
    */
  def current(dir: String): Option[String] =
    if (Files.isDirectory(Paths.get(dir))) Some(dir)
    else if (Files.isDirectory(old(dir))) Some(old(dir).toString)
    else None

  /** Writes `df` as the next version's staging directory. */
  def stage(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(staging(dir).toString)

  /** Drops a staged version that is not to be committed. */
  def discard(dir: String): Unit = delete(staging(dir))

  /** Stage then promote: the two-rename commit. */
  def commit(df: DataFrame, dir: String): Unit = {
    stage(df, dir)
    promote(dir)
  }

  /** Swap a fully-written `<dir>.staging` into `<dir>` with no loss window.
    * Heals a prior crash first: if a crash struck between the retire and
    * promote renames (target missing, `.old` holding the complete previous
    * version), the replayed commit restores `.old` to the canonical slot
    * BEFORE any delete. So `.old` is only ever deleted while the target
    * holds a complete version, and EVERY crash prefix leaves a complete copy
    * where [[current]] looks — without the heal, the replay's first delete
    * removed the only copy and a second crash before the promote left none.
    *
    * `failAfterStep` is a test-only crash injection: throws after that many
    * filesystem steps completed, so a spec can assert the invariant on
    * every prefix.
    */
  def promote(dir: String, failAfterStep: Int = Int.MaxValue): Unit = {
    val target = Paths.get(dir)
    var done = 0
    def step(): Unit = {
      if (done >= failAfterStep) throw new IllegalStateException(s"injected crash after $done steps")
      done += 1
    }
    if (!Files.exists(target) && Files.exists(old(dir))) {
      step(); Files.move(old(dir), target, StandardCopyOption.ATOMIC_MOVE)
    }
    step(); delete(old(dir))
    if (Files.exists(target)) { step(); Files.move(target, old(dir), StandardCopyOption.ATOMIC_MOVE) }
    step(); Files.move(staging(dir), target, StandardCopyOption.ATOMIC_MOVE)
    step(); delete(old(dir))
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
}
