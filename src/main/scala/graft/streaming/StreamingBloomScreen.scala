package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Curation

/** Live bloom decontamination screen: keeps q166's staged shingle-digest
  * table current as document files land, at O(delta) per tick — so the
  * bloom-vs-exact calibration report (and the bitset itself, the artifact
  * the 100 TB serving path actually ships) is always current without a
  * corpus re-scan. This is the ingest-time form of the Dolma/"bff" bloom:
  * at full scale the screen runs on every drop, so the screen's index must
  * tick, not rebuild.
  *
  * Why the tick is trivially exact (the winnow maintainer's argument): a
  * document's 8-gram digests depend on nothing outside the document, so
  * the staged table is per-doc LOCAL and union-of-slices over the
  * id-partitioned ingest EQUALS the batch [[Curation.stagedShingles]] table.
  * Both split sides ride the same slice (the bucket column), so a tick
  * that lands new TEST docs automatically changes earlier train docs'
  * screen results at serve time — the retroactive flip comes free because
  * the bitset and the screens are recomputed from folded state through the
  * SAME [[Curation.bloomScreenFrom]] as the batch query, never maintained
  * as materialized results.
  *
  * The tick/watermark/crash protocol is [[SliceMaintainer]]'s, shared with
  * the drift watch and source sketch.
  */
object StreamingBloomScreen {

  /** One maintenance tick; returns the number of delta docs processed
    * (0 = no-op tick).
    */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long =
    SliceMaintainer.tick(spark, dataDir, stateDir, "shingles", Curation.stagedShingles)

  /** The maintained screen — q166's exact output over every document the
    * ticks have covered: fold the slices (already distinct — per-doc
    * locality means no digest row repeats across slices) and run the SAME
    * serve arithmetic as the batch query.
    */
  def screenTable(spark: SparkSession, stateDir: String): DataFrame =
    Curation.bloomScreenFrom(
      spark,
      SliceStore.read(spark, s"$stateDir/shingles").localCheckpoint()
    )
}
