package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Live media fingerprint index: keeps the raw fingerprint/band tables of
  * all three media miners (q114 image aHash bands, q115 video frame fps,
  * q175 audio energy shingles) current as document files land, at O(delta)
  * per tick — so the decontamination serve's image leg
  * ([[StreamingDecontam]]) reads a maintained index on every ingest drop
  * instead of re-decoding the corpus. The 17th maintainer family, and the
  * first over the multimodal pillar.
  *
  * Why the tick is exact (the [[StreamingWinnow]] argument verbatim):
  * fingerprinting is per-ITEM LOCAL — a video's frame hashes and an
  * audio's energy shingles depend on nothing outside the item — so the
  * state algebra is plain set union. Each tick fingerprints only the delta
  * with the SAME [[Multimodal.videoFpsRawOf]]/[[Multimodal.audioFpsRawOf]]
  * the batch stages run, and appends (kind, media_id, fp) rows as one
  * slice; the union of slices IS the batch raw table by construction. The
  * corpus-dependent parts — the MOSS df cap ([[Multimodal.MEDIA_FP_MAXDF]])
  * and the containment pair join — are recomputed AT SERVE TIME from the
  * maintained table through the same shared code as the batch queries, so
  * a fingerprint that turns boilerplate retroactively (the millionth
  * silence shingle) is capped at the next read with no repair machinery.
  *
  * The tick/watermark/crash protocol is [[SliceMaintainer]]'s. Slice size
  * is the delta's fingerprint mass only — decode (the expensive stage at
  * real payload sizes) runs once per item ever.
  */
object StreamingMediaFps {

  /** One maintenance tick; returns the number of delta docs processed
    * (0 = no-op tick). One slice carries all three kinds — image aHash
    * bands are hex-encoded into the fp column (8 bands x 2 hex chars,
    * reversible) so the family keeps a single schema and a single
    * watermark.
    */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long =
    SliceMaintainer.tick(
      spark,
      dataDir,
      stateDir,
      "media_fp",
      delta =>
        Multimodal
          .videoFpsRawOf(delta)
          .withColumn("kind", lit("video"))
          .unionByName(Multimodal.audioFpsRawOf(delta).withColumn("kind", lit("audio")))
          .unionByName(
            Multimodal
              .imageBandsOf(delta)
              .select(
                col("media_id"),
                expr("lower(array_join(transform(bands, b -> lpad(hex(b), 2, '0')), ''))").as("fp")
              )
              .withColumn("kind", lit("image"))
          )
    )

  /** The maintained raw fingerprint table for one kind — equal to the
    * batch [[Multimodal.videoFpsRawOf]]/[[Multimodal.audioFpsRawOf]] over
    * every document the ticks have covered (per-item locality makes the
    * union exact; spec-pinned).
    */
  def fpTable(spark: SparkSession, stateDir: String, kind: String): DataFrame =
    SliceStore
      .read(spark, s"$stateDir/media_fp")
      .filter(col("kind") === lit(kind))
      .select(col("media_id"), col("fp"))

  /** The maintained image band table — the hex encode inverted back to
    * q114's 8-band array.
    */
  def bandTable(spark: SparkSession, stateDir: String): DataFrame =
    SliceStore
      .read(spark, s"$stateDir/media_fp")
      .filter(col("kind") === lit("image"))
      .select(
        col("media_id"),
        expr("transform(sequence(0, 7), i -> CAST(conv(substring(fp, i*2 + 1, 2), 16, 10) AS INT))").as("bands")
      )
}
