package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup

/** Live winnowing-fingerprint index: keeps q144/q152's MOSS fingerprint
  * table current as document files land, at O(delta) per tick — so the
  * decontamination serve ([[StreamingDecontam]]'s verbatim-run depth leg)
  * reads a maintained index on every ingest drop instead of re-winnowing
  * the corpus.
  *
  * Why this maintainer is trivially exact (the [[StreamingDriftWatch]]
  * argument, one step simpler): winnowing is per-document LOCAL — a doc's
  * fingerprints depend on nothing outside the doc — so the state algebra is
  * plain set union. Each tick winnows only the delta with the SAME
  * [[Dedup.winnowFingerprintPositions]] the batch queries run and appends
  * the (doc_id, fp, fpos) rows as a slice; the union of slices IS the batch
  * fingerprint table by construction. The corpus-dependent parts (the MOSS
  * df cap, the pair join) are recomputed AT SERVE TIME from the maintained
  * table through the same shared code as the batch queries — a fingerprint
  * that turns common retroactively is capped at the next read with no
  * repair machinery (contrast StreamingSpanDedup's retroactive flips, which
  * this design makes unnecessary here).
  *
  * The tick/watermark/crash protocol is [[SliceMaintainer]]'s, shared with
  * the drift and sketch maintainers. State is ~2/(W+1) of the gram table —
  * the winnowing economics that make an every-tick screen affordable at
  * 100 TB.
  */
object StreamingWinnow {

  /** One maintenance tick; returns the number of delta docs processed
    * (0 = no-op tick).
    */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long =
    SliceMaintainer.tick(
      spark,
      dataDir,
      stateDir,
      "fp",
      // slices carry the selected gram's POSITION too (free — it decodes
      // from the winnow enc suffix), so the verbatim-run walk serves from
      // the same maintained state; the fp-set view projects it away
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
}
