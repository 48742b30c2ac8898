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
  * The maintainer packs at the DEFAULT knobs (shards/ctx): state written
  * across ticks must not depend on a session conf that could differ
  * between ticks — and a tick under a session whose confs differ warns
  * loudly (the batch q66/q170 oracle-pinning warning, mirrored here so a
  * maintained manifest diverging from its session's batch q170 is visible,
  * not silent). The tick/watermark/crash protocol is
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
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long = {
    // the batch q66/q170 warn when session knobs diverge from the defaults
    // their registered oracle assumes; the maintainer must be just as loud —
    // it ALWAYS packs at the defaults (state written across ticks cannot
    // depend on a conf that could differ between ticks), so a session with
    // non-default knobs gets a manifest that silently diverges from its own
    // batch q170 unless told
    val shards = spark.conf.getOption(Curation.ShardsConf).map(_.toInt).getOrElse(Curation.SHARDS)
    val ctx = spark.conf.getOption(Curation.CtxConf).map(_.toInt).getOrElse(Curation.CTX)
    if (shards != Curation.SHARDS || ctx != Curation.CTX)
      org.slf4j.LoggerFactory
        .getLogger(getClass)
        .warn(
          s"StreamingPack ticking at the DEFAULT knobs (shards=${Curation.SHARDS}, ctx=${Curation.CTX}) " +
            s"while this session sets shards=$shards, ctx=$ctx — the maintained manifest will diverge " +
            "from this session's batch q170_pack_manifest; clear the confs or re-pack in batch"
        )
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
  }

  /** The maintained manifest — q170's exact output over every document
    * the ticks have covered.
    */
  def manifestTable(spark: SparkSession, stateDir: String): DataFrame =
    SliceStore
      .read(spark, s"$stateDir/manifest")
      .orderBy(col("lang"), col("shard"), col("doc_id"))
}
