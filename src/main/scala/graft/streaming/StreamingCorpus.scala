package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{StagedTable, Tables}
import graft.operators.Curation

/** Incremental corpus build: maintains the q77 curation-build state as
  * document files LAND, so each tick costs O(delta) instead of a full
  * corpus rebuild — at 100 TB the difference between "minutes per drop" and
  * "re-reading the world per drop".
  *
  * What is incrementally STABLE under the monotone-ingest-id landing
  * contract (new doc_ids are always larger):
  *   - rules / hold-out: per-doc, decided once.
  *   - exact dedup: the canonical owner is the MIN doc_id per fingerprint —
  *     a new duplicate can only lose to an existing canon, never displace
  *     it, so old decisions never flip.
  *   - contamination, forward: a new candidate screens against the
  *     accumulated test-shingle set.
  *   - contamination, RETROACTIVE: a new TEST-split doc adds shingles that
  *     can contaminate PREVIOUSLY-eligible docs — the one legal backward
  *     edit. The maintainer keeps the eligible docs' shingle keys and flips
  *     exactly the hit docs (`retro` in the outcome), touching no others.
  * Mixture sampling is NOT incremental by nature (rates derive from global
  * eligible counts), so it stays a recomputed view over the maintained
  * stage table ([[Curation.mixtureFinal]]) — cheap: per-source counts + a
  * per-row coin compare.
  *
  * The tick protocol is [[SliceMaintainer.run]]'s: ticks are change
  * signals, the delta re-derives from the watermark sidecar (redelivery
  * no-op), commits are stage-then-swap with the watermark written last — a
  * crash between swap and sidecar re-applies a delta whose docs are already
  * staged; dedup then classifies them against THEMSELVES (fp already
  * canonical with the same id ⇒ same stage), so re-application converges.
  */
object StreamingCorpus {

  final case class TickOutcome(
      mode: String, // incremental | noop
      nDelta: Long, // docs staged this tick
      retro: Long, // previously-eligible docs flipped to contaminated
      watermark: Long
  )

  val stageSchema: StructType = StructType(
    Seq(
      StructField("doc_id", LongType),
      StructField("source", StringType),
      StructField("n_tokens", LongType),
      StructField("n_chars", LongType),
      StructField("u", DoubleType),
      StructField("stage", StringType)
    )
  )
  private val fpSchema = StructType(Seq(StructField("fp", StringType), StructField("canon_id", LongType)))
  private val testShSchema = StructType(Seq(StructField("sh_key", StringType)))
  private val eligShSchema = StructType(Seq(StructField("sh_key", StringType), StructField("doc_id", LongType)))

  private def dirs(stateDir: String) =
    (s"$stateDir/stages", s"$stateDir/fpcanon", s"$stateDir/testsh", s"$stateDir/eligsh")

  def readStages(spark: SparkSession, stateDir: String): DataFrame =
    StateStore.readTable(spark, dirs(stateDir)._1, stageSchema)

  /** The q77 view over the maintained state: pre-mixture stages + the
    * recomputed mixture final stage — same schema and semantics as the
    * batch `corpusBuildStages`.
    */
  def finalStages(spark: SparkSession, stateDir: String): DataFrame =
    Curation.mixtureFinal(readStages(spark, stateDir))

  /** One maintenance tick over the accumulated documents directory. */
  def tick(spark: SparkSession, docsDir: String, stateDir: String): TickOutcome = {
    val (stagesDir, fpDir, testShDir, eligShDir) = dirs(stateDir)
    val all = Tables.parquet(spark, docsDir)
    // state-schema migration (r16: the stage table grew `n_chars` so the
    // q179 surface can serve char mass without re-reading documents): a
    // stage table written under the old schema self-heals on the FIRST
    // post-upgrade tick — backfilled by a keyed join against the landing
    // directory the state was built from, on no-op ticks too, so one tick
    // suffices even when no new documents arrived. Docs since removed from
    // the landing dir backfill as NULL (their char mass is genuinely
    // unknown); everything else is exact.
    def backfillNChars(): Unit = {
      val preStages = StateStore.readTable(spark, stagesDir, stageSchema)
      if (!preStages.columns.contains("n_chars"))
        StagedTable.commit(
          preStages
            .join(all.select(col("doc_id"), col("n_chars")), Seq("doc_id"), "left")
            .select(stageSchema.fieldNames.map(col): _*),
          stagesDir
        )
    }
    // docsDir is the documents table path; its parent data dir is what
    // (session, dataDir)-keyed caches are keyed on
    val dataDir = Option(Paths.get(docsDir).getParent).map(_.toString).getOrElse(docsDir)
    SliceMaintainer.run(
      spark,
      all,
      SliceMaintainer.Sidecar(s"$stateDir/", "doc_id", SliceMaintainer.BaseFormat),
      dataDir,
      Seq(fpDir, testShDir)
    ) { wm =>
      backfillNChars()
      TickOutcome("noop", 0L, 0L, wm)
    } { case SliceMaintainer.Delta(delta, _, lo, hi, n) =>
      backfillNChars()
      // the delta's first ingest id (lo) keys this tick's append slices AND
      // the "state as of the previous watermark" reads below — stable
      // across a crashed tick's replay even when more documents land in
      // between
      val sig = Curation.buildSignals(delta).localCheckpoint(true)
      // the state reads stay lazy: every commit below stages its new
      // version in full before its swap touches the version it reads
      val stages = StateStore.readTable(spark, stagesDir, stageSchema)
      // the two APPEND-ONLY accumulators (fp→canon, test shingles) live as
      // SliceStore families: each tick appends one slice instead of rewriting
      // the whole table (O(delta) writes, not O(state)), with periodic
      // compaction. readBelow(lo) — not read() — so a crashed tick's replay
      // anti-joins against pre-tick state, never its own stale slice.
      // stages/ and eligsh/ take in-place UPDATES (retro flips, delta
      // replace) and stay stage-then-swap full rewrites; at 100 TB those
      // become dynamic-partition overwrites keyed on doc_id range (retro
      // flips touch old partitions sparsely), same commit discipline.
      val fpCanon = SliceStore.readBelow(spark, fpDir, lo, fpSchema)
      val testSh = SliceStore.readBelow(spark, testShDir, lo, testShSchema)
      val eligSh = StateStore.readTable(spark, eligShDir, eligShSchema)

      // --- test-shingle growth (delta test docs only) --------------------------
      val newTestSh = Curation
        .shingleKeys(sig.filter(col("bucket") >= Curation.TestBucket).select(col("doc_id"), col("norm")))
        .select(col("sh_key"))
        .distinct()
        .join(testSh, Seq("sh_key"), "left_anti")
        .localCheckpoint(true)

      // --- dedup against accumulated + intra-delta canon -----------------------
      val deltaPass = sig.filter(col("reason") === "pass" && col("bucket") < Curation.SplitKeepBucket)
      val deltaCanon = deltaPass
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("delta_canon"))
      val canonLookup = deltaCanon
        .join(fpCanon, Seq("fp"), "left")
        .select(col("fp"), coalesce(col("canon_id"), col("delta_canon")).as("canon_id"))
        .localCheckpoint(true)

      // --- stage the delta (pre-contamination) ---------------------------------
      val stagedDelta = sig
        .join(canonLookup, Seq("fp"), "left")
        .withColumn(
          "stage0",
          expr(
            "CASE WHEN reason <> 'pass' THEN 'rules' " +
              s"WHEN bucket >= ${Curation.SplitKeepBucket} THEN 'held_out' " +
              "WHEN doc_id <> canon_id THEN 'duplicate' " +
              "ELSE 'eligible' END"
          )
        )

      // --- forward contamination: delta eligibles vs the FULL test-shingle set -
      val allTestSh = testSh.unionByName(newTestSh)
      val deltaEligSh = Curation
        .shingleKeys(stagedDelta.filter(col("stage0") === "eligible").select(col("doc_id"), col("norm")))
        .select(col("sh_key"), col("doc_id"))
        .localCheckpoint(true)
      val deltaContam = deltaEligSh
        .join(allTestSh, Seq("sh_key"))
        .select(col("doc_id"))
        .distinct()
        .withColumn("contam", lit(true))

      val deltaStaged = stagedDelta
        .join(deltaContam, Seq("doc_id"), "left")
        .withColumn(
          "stage",
          expr("CASE WHEN stage0 = 'eligible' AND coalesce(contam, false) THEN 'contaminated' ELSE stage0 END")
        )
        .select(col("doc_id"), col("source"), col("n_tokens"), col("n_chars"), col("u"), col("stage"))
        .localCheckpoint(true)

      // --- RETROACTIVE contamination: old eligibles hit by NEW test shingles ---
      val retroIds = eligSh
        .join(newTestSh, Seq("sh_key"))
        .select(col("doc_id"))
        .distinct()
        .localCheckpoint(true)
      val retro = retroIds.count()

      // anti-join on delta ids first: re-applying a delta whose docs are
      // already staged (crash between commit and watermark) REPLACES their
      // rows instead of duplicating them — the convergence property
      val deltaIds = deltaStaged.select(col("doc_id"))
      val updatedStages = stages
        .join(deltaIds, Seq("doc_id"), "left_anti")
        .join(retroIds.withColumn("retro", lit(true)), Seq("doc_id"), "left")
        .withColumn(
          "stage",
          expr("CASE WHEN stage = 'eligible' AND coalesce(retro, false) THEN 'contaminated' ELSE stage END")
        )
        .select(stageSchema.fieldNames.map(col): _*)
        .unionByName(deltaStaged)

      // --- commit: stages, canon, shingle sets (the watermark follows) ------
      val newCanonRows = canonLookup
        .join(fpCanon.select(col("fp")), Seq("fp"), "left_anti")
        .select(col("fp"), col("canon_id"))
      val keptEligSh = eligSh
        .join(retroIds, Seq("doc_id"), "left_anti")
        .join(deltaIds, Seq("doc_id"), "left_anti") // replace, never duplicate
        .unionByName(
          deltaEligSh.join(deltaStaged.filter(col("stage") === "eligible").select(col("doc_id")), Seq("doc_id"))
            .select(col("sh_key"), col("doc_id"))
        )

      StagedTable.commit(updatedStages, stagesDir)
      // append-only families: one slice per tick, overwrite-idempotent under
      // the stable delta_<lo> name (replay rewrites its own slice)
      newCanonRows.write.mode("overwrite").parquet(s"$fpDir/delta_$lo")
      newTestSh.write.mode("overwrite").parquet(s"$testShDir/delta_$lo")
      StagedTable.commit(keptEligSh, eligShDir)
      // every delta doc stages exactly one row
      TickOutcome("incremental", n, retro, hi)
    }
  }
}
