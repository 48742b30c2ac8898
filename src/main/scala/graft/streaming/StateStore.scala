package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.{StagedTable, Tables}

/** Parquet state tables for incremental maintainers (SCD2 history, corpus
  * build state, span stats), committed with [[StagedTable.commit]] (never
  * zero copies on disk, the retired `.old` read during a crashed swap). The
  * watermark that says which delta a table covers lives beside it in the
  * tick protocol's JSON sidecar ([[SliceMaintainer.Sidecar]]), written
  * AFTER the table swap: a crash between the two leaves an older watermark
  * and a newer table, and maintainers are built so re-applying the covered
  * delta is a no-op.
  */
private[streaming] object StateStore {

  /** The table's current version ([[StagedTable.current]]) with the schema
    * its files carry; `schema` types only the empty table returned before
    * the first commit.
    */
  def readTable(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    StagedTable
      .current(dir)
      .map(Tables.parquet(spark, _))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
}

/** A slice-accumulating state family: ticks append `<dir>/delta_<lo>/`
  * parquet slices (lo = the slice's first ingest id, strictly ascending
  * across ticks), and periodic compaction folds the accumulated slices into
  * one `<dir>/base/` table so per-tick reads stop paying O(total slices) in
  * file listings and scan setup.
  *
  * Compaction is crash-safe without ever double-reading a row: the base
  * carries a `_covered` sidecar INSIDE its directory (so the promote rename
  * moves data + coverage watermark atomically, and parquet readers skip the
  * `_`-prefixed file), and [[read]] only includes slices with `lo >
  * covered`. A crash after the base promote but before slice GC therefore
  * leaves folded slices on disk but EXCLUDED from every read; the next
  * compaction sweep deletes them. Slice ids make this sound: a slice's rows
  * all have ingest ids in [lo, that tick's hi], ticks never overlap ranges,
  * and a fold always covers a PREFIX of slices — so `lo > covered` is
  * exactly "not yet folded".
  *
  * At 100 TB the same structure holds with the base stored bucketed on the
  * probe key (`sources/Layouts`) and slice GC done by a manifest swap; the
  * read/compact contract here is unchanged.
  */
private[streaming] object SliceStore {
  import java.nio.file.Path

  import scala.jdk.CollectionConverters._

  /** Slices folded per compaction trigger — compaction runs once the live
    * slice count reaches this (overridable via `graft.stream.compactSlices`).
    */
  val DefaultCompactSlices = 16

  private def coveredOf(base: Path): Long = {
    val m = base.resolve("_covered")
    if (Files.exists(m)) new String(Files.readAllBytes(m), "UTF-8").trim.toLong else Long.MinValue
  }

  /** (picked base if any, its covered watermark, live slices sorted by lo,
    * dead slices already folded into the base).
    */
  private def layout(dir: String): (Option[Path], Long, Seq[(Long, Path)], Seq[Path]) = {
    val d = Paths.get(dir)
    // base, or the retired base.old during a crashed promote
    val pick = StagedTable.current(d.resolve("base").toString).map(Paths.get(_))
    val covered = pick.map(coveredOf).getOrElse(Long.MinValue)
    val slices =
      if (!Files.isDirectory(d)) Seq.empty
      else {
        val s = Files.list(d)
        try
          s.iterator().asScala.toSeq.collect {
            case p if p.getFileName.toString.startsWith("delta_") =>
              p.getFileName.toString.stripPrefix("delta_").toLong -> p
          }
        finally s.close()
      }
    val (live, dead) = slices.partition(_._1 > covered)
    (pick, covered, live.sortBy(_._1), dead.map(_._2))
  }

  /** The family's full current contents: compacted base + unfolded slices. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val (pick, _, live, _) = layout(dir)
    val paths = pick.map(_.toString).toSeq ++ live.map(_._2.toString)
    Tables.parquet(spark, paths: _*)
  }

  /** Contents EXCLUDING the slice keyed `loExclusive` and above — "state as
    * of the previous watermark". The anti-join guard for append-only
    * accumulator families (corpus test-shingles, fp→canon): a tick derives
    * its append as `delta MINUS readBelow(lo)`, so a crashed tick's replay
    * never anti-joins against its own stale slice and overwrites it empty.
    * Falls back to an empty frame of `schema` before the first slice lands.
    */
  def readBelow(spark: SparkSession, dir: String, loExclusive: Long, schema: StructType): DataFrame = {
    val (pick, _, live, _) = layout(dir)
    val paths = pick.map(_.toString).toSeq ++ live.collect { case (lo, p) if lo < loExclusive => p.toString }
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else Tables.parquet(spark, paths: _*)
  }

  /** Fold live slices into the base once their count reaches the threshold;
    * `coveredHi` is the tick's ingest watermark (every live slice's ids are
    * <= it). Always GCs slices a crashed prior fold left behind. Returns
    * true when a fold ran.
    */
  def maybeCompact(spark: SparkSession, dir: String, coveredHi: Long): Boolean = {
    val (pick, _, live, dead) = layout(dir)
    dead.foreach(StagedTable.delete)
    val threshold = spark.conf
      .getOption("graft.stream.compactSlices")
      .map(_.toInt)
      .getOrElse(DefaultCompactSlices)
    if (live.size < threshold) return false

    val srcPaths = pick.map(_.toString).toSeq ++ live.map(_._2.toString)
    val merged = Tables.parquet(spark, srcPaths: _*)
    val staging = dir + "/base.staging"
    merged.write.mode("overwrite").parquet(staging)
    Files.write(Paths.get(staging, "_covered"), coveredHi.toString.getBytes("UTF-8"))
    StagedTable.promote(dir + "/base")
    // GC the folded slices — a crash anywhere in this loop is safe, the
    // promoted _covered watermark already excludes them from every read
    live.foreach { case (_, p) => StagedTable.delete(p) }
    true
  }
}
