package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Curation

/** Live pack manifest: keeps q170's per-document placement table current
  * as document files land, at O(delta) per tick — so the training loader's
  * placement artifact extends in place instead of re-packing the corpus.
  *
  * Why the tick is exact: packing offsets are PREFIX SUMS in doc_id order,
  * and ingest ids are monotone — a delta is a per-(lang, shard) stream
  * SUFFIX, so its placements are the batch placements shifted by the
  * covered streams' token totals. The tick therefore packs only the delta
  * against the per-stream BASE offsets derived from the already-committed
  * slices (via `readBelow`, so a crashed tick's replay never reads its own
  * stale slice), through the SAME [[Curation.manifestFrom]] the batch
  * query runs — union-of-slices equals batch q170 row for row. Earlier
  * documents' placements never change (append-only state, no retroactive
  * repair by construction).
  *
  * The maintainer packs at q170's shape (`Curation.SHARDS`/`CTX`), so the
  * maintained manifest and the batch q170 cannot diverge. The
  * tick/watermark/crash protocol is
  * [[SliceMaintainer.tickWithLo]]'s — the variant that exposes the
  * delta's first id so this slice can read its prior-state base at the
  * correct crash-replay boundary.
  */
object StreamingPack {

  private val manifestSchema = StructType(
    Seq(
      StructField("lang", StringType),
      StructField("shard", IntegerType),
      StructField("doc_id", LongType),
      StructField("start_offset", LongType),
      StructField("n_tokens", LongType),
      StructField("bin", IntegerType),
      StructField("offset_in_bin", LongType),
      StructField("end_bin", IntegerType),
      StructField("crosses", IntegerType)
    )
  )

  /** One maintenance tick; returns the number of delta docs packed
    * (0 = no-op tick). Rides [[SliceMaintainer.tickWithLo]] — the slice
    * closure derives the per-stream base offsets from the committed slices
    * BELOW its own delta key, so a crashed tick's replay never reads its
    * own stale slice.
    */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long =
    SliceMaintainer.tickWithLo(
      spark,
      dataDir,
      stateDir,
      "manifest",
      (delta, lo) => {
        val base = SliceStore
          .readBelow(spark, s"$stateDir/manifest", lo, manifestSchema)
          .groupBy(col("lang"), col("shard"))
          .agg(sum(col("n_tokens")).as("base"))
        Curation.manifestFrom(delta, base, Curation.SHARDS, Curation.CTX)
      }
    )

  /** The maintained manifest — q170's exact output over every document
    * the ticks have covered.
    */
  def manifestTable(spark: SparkSession, stateDir: String): DataFrame =
    SliceStore
      .read(spark, s"$stateDir/manifest")
      .orderBy(col("lang"), col("shard"), col("doc_id"))
}
