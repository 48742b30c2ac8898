package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Live source-similarity sketching: keeps the q134 MinHash signatures (and
  * hence the pairwise source-Jaccard estimates) current as document files
  * land, at O(delta) per tick — so "did this drop make src_a a mirror of
  * src_b?" is answerable as the drop lands, without re-shingling the
  * corpus.
  *
  * Exactness comes free from the semilattice: a MinHash component is a MIN
  * over the source's shingle set, and min(A ∪ B) = min(min(A), min(B)) —
  * no interaction terms, no retroactive repair (the same argument as
  * [[StreamingDriftWatch]]'s additive counts, with min in place of sum).
  * Each tick shingles only the delta, appends its |sources| × H signature
  * slice, and the served pair table recomputed from the per-(source, h)
  * min over slices equals batch q134 over the full corpus BY CONSTRUCTION
  * (the serve path routes through the SAME
  * [[Curation.sketchPairsFromSignatures]] tail; spec-pinned anyway).
  * Min is additionally IDEMPOTENT, so even an overlapping replayed slice
  * could only repeat the same mins.
  *
  * The tick/watermark/crash protocol is [[SliceMaintainer]]'s — shared
  * with the drift watch so a protocol fix lands in one place. At 100 TB
  * the state stays |sources| × H rows per slice — like the drift watch, a
  * maintainer whose whole state is broadcast-sized forever.
  */
object StreamingSourceSketch {

  /** One maintenance tick; returns the number of delta docs processed
    * (0 = no-op tick).
    */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long =
    SliceMaintainer.tick(
      spark,
      dataDir,
      stateDir,
      "sig",
      delta => Curation.sourceSketchSignatures(delta.select(col("source"), col("text")))
    )

  /** The maintained signature table — per-(source, h) min over every slice
    * the ticks have appended (min-mergeability is the whole design).
    */
  def signatures(spark: SparkSession, stateDir: String): DataFrame =
    SliceStore
      .read(spark, s"$stateDir/sig")
      .groupBy(col("source"), col("h"))
      .agg(min(col("comp")).as("comp"))

  /** The maintained pair table — q134's exact output over every document
    * the ticks have covered, served through the same pair-compare tail as
    * the batch query.
    */
  def sketchTable(spark: SparkSession, stateDir: String): DataFrame =
    Curation.sketchPairsFromSignatures(signatures(spark, stateDir))
}
