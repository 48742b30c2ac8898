package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Live winnowing-fingerprint index: keeps q144/q152's MOSS fingerprint
  * table current as document files land, at O(delta) per tick — so the
  * verbatim-span contamination screen (q152) runs against a maintained
  * index on every ingest drop instead of re-winnowing the corpus.
  *
  * Why this maintainer is trivially exact (the [[StreamingDriftWatch]]
  * argument, one step simpler): winnowing is per-document LOCAL — a doc's
  * fingerprints depend on nothing outside the doc — so the state algebra is
  * plain set union. Each tick winnows only the delta with the SAME
  * [[Dedup.winnowFingerprintsOf]] the batch query runs and appends the
  * (doc_id, fp) rows as a slice; the union of slices IS the batch
  * fingerprint table by construction. The corpus-dependent parts (the MOSS
  * df cap, the pair join, the split screen) are recomputed AT SERVE TIME
  * from the maintained table through the same shared code as the batch
  * queries — a fingerprint that turns common retroactively is capped at the
  * next read with no repair machinery (contrast StreamingSpanDedup's
  * retroactive flips, which this design makes unnecessary here).
  *
  * The tick/watermark/crash protocol is [[SliceMaintainer]]'s, shared with
  * the drift and sketch maintainers. State is ~2/(W+1) of the gram table —
  * the winnowing economics that make an every-tick screen affordable at
  * 100 TB.
  */
object StreamingWinnow {

  /** One maintenance tick; returns the number of delta docs processed
    * (0 = no-op tick). Callable directly (cron cadence) — `start` wires it
    * to a file stream.
    */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long =
    SliceMaintainer.tick(
      spark,
      dataDir,
      stateDir,
      "fp",
      // r13: slices carry the selected gram's POSITION too (free — it
      // decodes from the winnow enc suffix), so the verbatim-run profile
      // (q162) serves from the same maintained state; the fp-set views
      // project it away
      delta =>
        Dedup.winnowFingerprintPositions(
          delta.select(org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.col("text"))
        )
    )

  /** The maintained POSITION-carrying fingerprint table — equal to the
    * batch [[Dedup.winnowFingerprintPositions]] over every document the
    * ticks have covered (per-doc locality makes the union exact).
    */
  def fpPositions(spark: SparkSession, stateDir: String): DataFrame =
    SliceStore.read(spark, s"$stateDir/fp")

  /** The fingerprint SET view — equal to the batch
    * [[Dedup.winnowFingerprints]] (spec-pinned).
    */
  def fpTable(spark: SparkSession, stateDir: String): DataFrame =
    fpPositions(spark, stateDir)
      .select(org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.col("fp"))
      .distinct()

  /** q144's pair report served from the maintained index. */
  def pairReport(spark: SparkSession, stateDir: String): DataFrame =
    Dedup.winnowPairsFrom(fpTable(spark, stateDir).localCheckpoint())

  /** q152's contamination screen served from the maintained index. */
  def contamination(spark: SparkSession, stateDir: String): DataFrame =
    Dedup.winnowContaminationFrom(fpTable(spark, stateDir).localCheckpoint())

  /** q162's verbatim-run profile served from the maintained index —
    * positions ride the slices, so runs need no re-winnow; the per-source
    * rollup reads sources from the covered landing dir.
    */
  def runProfile(spark: SparkSession, dataDir: String, stateDir: String): DataFrame =
    Dedup.verbatimRunProfileFrom(
      Dedup.verbatimRunPairsFromFps(fpPositions(spark, stateDir).localCheckpoint()),
      graft.core.Tables
        .documents(spark, dataDir)
        .select(org.apache.spark.sql.functions.col("doc_id"), org.apache.spark.sql.functions.col("source"))
    )

  /** Wire the tick to a file stream over the documents landing path. */
  def start(
      spark: SparkSession,
      dataDir: String,
      stateDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      onTick: Long => Unit = _ => ()
  ): StreamingQuery =
    SliceMaintainer.onFileDrop(spark, s"$dataDir/documents.parquet", s"$stateDir/_winnow_checkpoint", trigger)(
      onTick(tick(spark, dataDir, stateDir))
    )
}
