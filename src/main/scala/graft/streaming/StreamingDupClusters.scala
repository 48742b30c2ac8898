package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.StagedTable
import graft.operators.Dedup

/** Live dup-cluster maintenance: keeps a persisted (doc_id, cluster,
  * cluster_size) label table current as document files LAND in `dataDir`,
  * by running the q108 incremental path (`Dedup.clustersApply`) once per
  * tick — O(delta) per tick, never a corpus re-mine.
  *
  * Each tick recomputes the actual delta from table state (docs with
  * `doc_id` above the persisted watermark — monotone ingest ids, the
  * [[SliceMaintainer]] contract), so a re-run tick can never double-process
  * a document: its ids are already at-or-below the watermark and the delta
  * is empty.
  *
  * Persisted state under `stateDir`:
  *   - `toks/delta_<lo>/`    token sets + minhash sigs per ingest slice
  *   - `buckets/delta_<lo>/` (doc_id, sz, band, key) LSH bucket rows (sz
  *     rides so the delta probe can size-ratio-prune before its distinct)
  *   - `labels/current/`     the label table, rewritten per tick through
  *                           [[StagedTable.commit]] (`labels/current.old/`
  *                           serves reads inside a crashed swap)
  *   - `state.json`          watermark sidecar {max_doc_id, format}
  *                           ([[SliceMaintainer.Sidecar]])
  *
  * The toks/buckets slices are APPEND-ONLY under names keyed by the
  * delta's first doc id (stable across a crashed tick's replay even when
  * more documents land in between), so a rerun overwrites its own files
  * (idempotent) instead of duplicating rows; SliceStore.maybeCompact folds
  * accumulated slices into a `base/` table so per-tick listing and scan
  * setup never grow with tick count. Candidates come from the
  * delta's band keys equi-joined against the persisted bucket table;
  * verification joins the persisted token sets of candidate docs only. At
  * 100 TB the bucket table would be stored BUCKETED on `key`
  * (`sources/Layouts` — zero-shuffle probe) and the label rewrite becomes
  * a manifest-pointer swap; the per-tick algorithm is unchanged.
  *
  * The maintained table is spec-pinned EQUAL to the batch q101 rebuild
  * after every tick — the same incremental == rebuild contract as
  * `scd2Apply` and `StreamingCorpus`, which holds exactly (not
  * approximately) because banding and the jaccard verify are per-pair
  * deterministic.
  */
object StreamingDupClusters {

  /** Persisted state-format version, recorded in state.json. Bumped when a
    * slice schema changes incompatibly (format 2 added `sz` to buckets/
    * slices — parquet would fill a missing column with null and the delta
    * probe's size-ratio conjuncts would silently drop candidate pairs for
    * old-slice docs). A state dir written by a different format REFUSES to
    * tick instead of silently missing duplicate edges; rebuild the state
    * dir (or backfill sz from the toks slices) to migrate.
    */
  private[streaming] val StateFormat = 2

  /** One maintenance tick against current table state; returns the number
    * of delta docs processed (0 = no-op tick).
    */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long =
    SliceMaintainer.run(
      spark,
      graft.core.Tables.documents(spark, dataDir),
      SliceMaintainer.Sidecar(s"$stateDir/", "doc_id", StateFormat),
      dataDir,
      Seq(s"$stateDir/toks", s"$stateDir/buckets")
    )(_ => 0L) { d =>
      // first, so an older build's label layout fails before any write
      val oldLabels = readLabels(spark, stateDir)
      val tDelta = Dedup
        .tokenSetsFrom(spark, d.rows)
        .filter(size(col("toks")) > 0)
        .withColumn("sig", expr("minhash_sigs16(toks)"))
        .localCheckpoint() // one tokenize+sign pass feeds toks, buckets, AND the probe

      // append this slice's state under a name keyed by the delta's LOW id
      // only: lo = watermark + first landed id is stable across a crashed
      // tick's replay even if MORE documents land before the rerun (hi
      // grows), so the rerun overwrites the stale partial slice instead of
      // leaving an overlapping doc range behind to be double-read forever
      val sliceName = s"delta_${d.lo}"
      tDelta.write.mode("overwrite").parquet(s"$stateDir/toks/$sliceName")
      Dedup
        .bandBuckets(tDelta.select(col("doc_id"), col("sig"), col("sz")))
        .write
        .mode("overwrite")
        .parquet(s"$stateDir/buckets/$sliceName")

      // candidates: delta band keys probe the FULL persisted bucket table
      // (which now includes this slice) — new-new and new-old pairs only.
      // SliceStore.read lists the compacted base + live slices explicitly,
      // so tick cost stays O(delta + matching state) instead of growing
      // with every historical slice's file count
      val allBuckets = SliceStore.read(spark, s"$stateDir/buckets")
      val deltaBuckets = graft.core.Tables.parquet(spark, s"$stateDir/buckets/$sliceName")
      // verification reads candidate docs' token sets from persisted state
      val allToks = SliceStore.read(spark, s"$stateDir/toks")
      val updated = Dedup.clustersApply(allToks, deltaBuckets, allBuckets, oldLabels).localCheckpoint()
      StagedTable.commit(updated, labelsDir(stateDir))
      d.n
    }

  private def labelsDir(stateDir: String): String = s"$stateDir/labels/current"

  /** Current label table — empty with the right schema before the first
    * tick; the retired `.old` copy if a crash struck inside
    * [[StagedTable.commit]]'s swap. A `labels/prev/` directory is the
    * crash-window copy of an older build's swap: it fails loudly, since
    * `labels/current/` may then be missing or stale.
    */
  def readLabels(spark: SparkSession, stateDir: String): DataFrame = {
    val prev = Paths.get(stateDir, "labels", "prev")
    if (Files.exists(prev))
      throw new IllegalStateException(
        s"$prev is the crash-window copy of an older build's label swap; this build cannot tell whether " +
          "it or labels/current holds the complete table. Rebuild the state dir from the corpus before ticking."
      )
    StagedTable.current(labelsDir(stateDir)) match {
      case Some(p) => graft.core.Tables.parquet(spark, p).select(col("doc_id"), col("cluster"))
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("doc_id", "cluster")
    }
  }
}
