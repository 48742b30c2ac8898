package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

import graft.core.StagedTable
import graft.operators.Curation

/** Live exact-substring monitoring: keeps the q110 per-doc span-dedup stats
  * table current as documents land — the RECOMPUTE set is O(delta +
  * affected) per tick; the tokenize/hash work is never redone for old docs
  * (their instances persist in the grams store). The per-tick state-scan
  * cost is a separate axis: the key-probe joins below read the grams store
  * (key-pruned, so only matching rows shuffle, but the scan I/O is
  * O(state) on a flat layout — the 100 TB deployment buckets the store on
  * `key`/`doc_id` so these probes prune to buckets). The interesting
  * correctness property is RETROACTIVITY, the same
  * shape as StreamingCorpus's contamination flips: a landing document whose
  * k-grams were until now globally unique pushes those keys' corpus counts
  * across the >=2 threshold, which changes the dup flags — and therefore
  * the span stats — of OLD documents. A tick recomputes exactly (a) the
  * delta docs and (b) every existing doc holding a key whose count crossed
  * 1 -> >=2 this tick; counts only ever grow under monotone ingest (no
  * deletes), so a >=2 key never flips back and every other doc's stats are
  * provably unchanged.
  *
  * There is deliberately NO maintained counts table: every count the tick
  * needs is derived on demand from the append-only grams store, SCOPED to
  * the keys that can matter — the delta's keys (for the flip set) and the
  * target docs' keys (for the dup flags) — via semi-join-pruned
  * aggregations that touch O(matching rows), not the corpus. That keeps
  * the tick a pure function of (grams store, watermark): a crashed tick's
  * replay overwrites its own slice (names keyed by the delta's first doc
  * id, the StreamingDupClusters rule) and re-derives identical flip sets
  * and stats, so there is no merge step whose replay could double-count —
  * the failure mode an incrementally-merged counts table would have had.
  *
  * Same contract as StreamingDupClusters: each tick re-derives the delta
  * from the persisted watermark (docs with `doc_id` above it — monotone
  * ingest ids), so a re-run tick can never double-process.
  *
  * Persisted state under `stateDir`:
  *   - `grams/delta_<lo>/` k-gram instance slices (doc_id, n_toks, key, pos),
  *                         periodically folded into `grams/base/` by
  *                         SliceStore.maybeCompact so the per-tick listing
  *                         and scan setup never grow with tick count
  *   - `stats/`            the maintained q110 output table (StagedTable
  *                         two-rename commit, `.old` fallback on crash)
  *   - `state.json`        watermark sidecar ([[SliceMaintainer.Sidecar]])
  *
  * At 100 TB the grams store would be BUCKETED on `key` (`sources/Layouts`
  * — the three key-probes become zero-shuffle bucket probes instead of
  * full-store scans); the per-tick algorithm is unchanged. The maintained stats
  * table is spec-pinned EQUAL to the batch q110 after every tick — exact,
  * not approximate, because instance derivation and the island merge are
  * shared code (`spanGramInstances` / `spanStatsFrom`) and deterministic.
  */
object StreamingSpanDedup {

  private val statsSchema = new StructType()
    .add("doc_id", LongType)
    .add("n_tokens", LongType)
    .add("n_dup_spans", LongType)
    .add("dup_tokens", LongType)
    .add("longest_span", LongType)
    .add("dup_frac", DoubleType)

  /** One maintenance tick; returns (delta docs, retroactively recomputed
    * old docs) — (0, 0) = no-op tick.
    */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): (Long, Long) =
    SliceMaintainer.run(
      spark,
      graft.core.Tables.documents(spark, dataDir),
      SliceMaintainer.Sidecar(s"$stateDir/", "doc_id", SliceMaintainer.BaseFormat),
      dataDir,
      Seq(s"$stateDir/grams")
    )(_ => (0L, 0L)) { case SliceMaintainer.Delta(delta, wm, lo, _, n) =>
      // slice name keyed by the delta's LOW id: stable across a crashed
      // tick's replay even if more documents land before the rerun
      val slicePath = s"$stateDir/grams/delta_$lo"
      Curation.spanGramInstances(delta).write.mode("overwrite").parquet(slicePath)
      val deltaInst = graft.core.Tables.parquet(spark, slicePath)
      // compacted base + live slices, listed explicitly (see SliceStore)
      val allInst = SliceStore.read(spark, s"$stateDir/grams")

      // flip set: among the DELTA's keys, those whose corpus count reaches
      // >=2 only once the delta is included — global counts scoped to delta
      // keys by the bucket-friendly semi-join, O(matching rows)
      val deltaCounts = deltaInst.groupBy(col("key")).agg(count(lit(1)).as("n_delta"))
      val flipped = allInst
        .join(deltaCounts, "key")
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n_total"), first(col("n_delta")).as("n_delta"))
        .filter(col("n_total") >= 2 && col("n_total") - col("n_delta") < 2)
        .select(col("key"))

      val affectedOld = allInst
        .join(flipped, "key")
        .filter(col("doc_id") <= wm)
        .select(col("doc_id"))
        .distinct()
        .localCheckpoint() // reused three times below (targets, anti-join, count)
      val nAffected = affectedOld.count()

      // recompute stats for exactly delta ∪ affected: their FULL instance
      // rows, dup-flagged against global counts scoped to the keys those
      // docs actually hold
      val targets = affectedOld.unionByName(deltaInst.select(col("doc_id")).distinct())
      val targetInst = allInst.join(targets, "doc_id").localCheckpoint()
      val dupKeys = allInst
        .join(targetInst.select(col("key")).distinct(), "key")
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= 2)
        .select(col("key"))
      val recomputed = Curation.spanStatsFrom(targetInst, dupKeys)

      val newStats = readStats(spark, stateDir)
        .join(targets, Seq("doc_id"), "left_anti")
        .unionByName(recomputed)
        .localCheckpoint()

      StagedTable.commit(newStats, s"$stateDir/stats")
      (n, nAffected)
    }

  /** The maintained stats table — empty with the right schema before the
    * first tick; falls back to the `.old` copy if a crash struck between
    * StagedTable.commit's two renames.
    */
  def readStats(spark: SparkSession, stateDir: String): DataFrame =
    StateStore.readTable(spark, s"$stateDir/stats", statsSchema)
}
