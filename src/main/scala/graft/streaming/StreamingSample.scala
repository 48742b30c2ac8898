package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** Live quality-weighted reservoir: keeps q145's A-Res sample current as
  * document files land — the "maintained sample" a labeling/eval pipeline
  * draws from continuously, without re-keying the corpus per draw.
  *
  * Why this maintainer is exact AND bounded: A-Res keys are per-doc
  * deterministic projections (no cross-doc state), and per-lang top-K is
  * MAX-MERGEABLE — topK(A ∪ B) = topK(topK(A) ∪ topK(B)) — so each tick
  * keys only the delta, PRUNES it to the per-lang top-K with the same
  * shared selection code as batch, and appends that bounded slice. The
  * served sample re-selects top-K over the folded slices and equals batch
  * q145 over every covered doc by the merge identity (spec-pinned). State
  * stays ≤ K·|langs| rows per slice forever — a reservoir in the literal
  * Efraimidis–Spirakis sense, maintained distributively.
  *
  * Tick/watermark/crash protocol is [[SliceMaintainer]]'s, shared with the
  * drift/sketch/winnow maintainers.
  */
object StreamingSample {

  /** One maintenance tick; returns delta doc count (0 = no-op). */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long =
    SliceMaintainer.tick(
      spark,
      dataDir,
      stateDir,
      "res",
      delta => Sampling.aresTopK(Sampling.aresKeyed(delta)).drop("rank")
    )

  /** The maintained sample — equal to batch q145 over every covered doc. */
  def sampleTable(spark: SparkSession, stateDir: String): DataFrame =
    Sampling
      .aresTopK(SliceStore.read(spark, s"$stateDir/res"))
      .select(
        col("lang"),
        col("rank"),
        col("doc_id"),
        col("weight"),
        (col("key_micro") / lit(1e6)).as("sample_key")
      )
      .orderBy(col("lang"), col("rank"))
}
