package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Multimodal, Sampling}

/** The decontamination family served entirely from maintained state — the
  * 18th family, and the first that is pure COMPOSITION: it has no tick and
  * no slices of its own, because every per-document-local input the four
  * evidence legs need is already kept current by an existing maintainer
  * under the ingest-tick layout:
  *
  *   - breadth (q67 8-gram hits): the bloom screen's md5 shingle slices
  *     (`bloom/shingles` — [[StreamingBloomScreen]]),
  *   - identity (exact near-dups of test docs): the cluster maintainer's
  *     token-set slices (`clusters/toks` — [[StreamingDupClusters]]),
  *   - depth (longest split-crossing verbatim run): the winnow
  *     maintainer's position slices (`winnow/fp` — [[StreamingWinnow]]),
  *   - modality (q178 image leaks): the media maintainer's band slices
  *     (`media/media_fp` — [[StreamingMediaFps]]), df-capped inside the
  *     shared screen (the q181 bucket rule), so the served join can never
  *     go quadratic on a mass-duplicated frame,
  *   - and, for the cost ledger and the q179 surface's scope, per-doc
  *     token and char counts: the corpus maintainer's stage table
  *     (`corpus/stages` — [[StreamingCorpus]]).
  *
  * The cross-document parts — the exact jaccard pair join, the run
  * restriction to split-crossing pairs, the capped band-bucket join, and
  * the action CASE — are recomputed AT SERVE TIME through the same shared
  * batch code ([[Dedup.contaminationDepthOver]] and the per-leg `From`
  * functions): a document that becomes contaminated RETROACTIVELY (a later
  * tick lands the test doc it duplicates) flips its action at the next
  * read with no repair machinery, because nothing derived is ever
  * materialized as state. Exactness is therefore inherited from the
  * families' union-of-slices == batch-stage claims (each spec-pinned)
  * plus shared serve code — pinned end-to-end by StreamingDecontamSpec.
  *
  * Serve cost is the batch composition over the maintained tables — the
  * same keyed joins, no corpus re-scan, no re-tokenize/re-winnow/
  * re-decode; each serve entry builds the winnow run-pair frame ONCE and
  * feeds every consumer that needs it. The breadth leg reads the bloom
  * slices' md5 digests, the same keys q67 shuffles on.
  */
object StreamingDecontam {

  /** The decision table over the four maintained states under one ingest
    * state root (the `bin/graft.sh ingest-tick` layout:
    * `stateRoot/{bloom,clusters,winnow,media}`). Equal to batch
    * [[Dedup.q163ContaminationDepth]] over every document the families'
    * ticks have covered.
    */
  def decisionTable(spark: SparkSession, stateRoot: String): DataFrame =
    decisionsOver(spark, stateRoot, runPairsOf(spark, stateRoot)).orderBy(col("doc_id"))

  /** q182's mask export from the same maintained states — the decision
    * table's `mask_spans` action executed as loader artifacts. The run
    * intervals come off the ONE run-pair frame this serve builds, feeding
    * both the decision table and the interval merge.
    */
  def maskExport(spark: SparkSession, stateRoot: String): DataFrame = {
    val runPairs = runPairsOf(spark, stateRoot)
    Dedup.decontamMaskOver(decisionsOver(spark, stateRoot, runPairs), runPairs)
  }

  /** q172's decontamination COST ledger from maintained state — the
    * decision table joined to the corpus maintainer's stage table, whose
    * (doc_id, source, n_tokens) carries exactly q172's token arithmetic
    * (both are [[Curation.funnelSignals]]' whitespace count over the
    * normalized text), so no document is re-read or re-tokenized to cost
    * a decontamination pass. Equal to batch [[Dedup.q172DecontamLedger]]
    * over every document the ticks have covered.
    */
  def ledger(spark: SparkSession, stateRoot: String): DataFrame =
    Dedup.decontamLedgerOver(
      trainStages(spark, stateRoot)
        .select(col("doc_id"), col("source"), col("n_tokens").as("n_toks")),
      decisionsOver(spark, stateRoot, runPairsOf(spark, stateRoot))
    )

  /** q179's cross-modal decontamination SURFACE from maintained state —
    * the method-coverage dashboard over the same train scope: the corpus
    * maintainer's stage table carries the scope's `n_chars` mass (the r16
    * state column; a pre-migration stage table self-heals on its next
    * [[StreamingCorpus.tick]]), the three frame legs ride the shared
    * decision composition, and the bloom leg is the SAME
    * [[graft.operators.Curation.bloomScreenFrom]] screen the q166
    * maintainer serves — so the whole surface costs keyed joins over
    * maintained tables, never a corpus re-read. Equal to batch
    * [[Dedup.q179DecontamSurface]] over every document the ticks have
    * covered.
    */
  def surface(spark: SparkSession, stateRoot: String): DataFrame = {
    val stages = trainStages(spark, stateRoot)
    require(
      stages.columns.contains("n_chars"),
      "pre-migration corpus state (no n_chars column): run one StreamingCorpus.tick to backfill it"
    )
    Dedup.q179SurfaceOver(
      stages.select(col("doc_id"), col("n_chars")),
      decisionsOver(spark, stateRoot, runPairsOf(spark, stateRoot)),
      StreamingBloomScreen.screenTable(spark, s"$stateRoot/bloom")
    )
  }

  /** q184's method-overlap matrix from maintained state — the redundancy
    * read after the surface, over the same served inputs (scope ids off
    * the corpus maintainer, frame legs off the shared composition, bloom
    * leg off the screen maintainer). Needs no char mass, so it serves
    * even from a pre-migration stage table. Equal to batch
    * [[Dedup.q184DecontamOverlap]] over every document the ticks have
    * covered.
    */
  def overlap(spark: SparkSession, stateRoot: String): DataFrame =
    Dedup.q184OverlapOver(
      trainStages(spark, stateRoot).select(col("doc_id")),
      decisionsOver(spark, stateRoot, runPairsOf(spark, stateRoot)),
      StreamingBloomScreen.screenTable(spark, s"$stateRoot/bloom")
    )

  /** The corpus maintainer's stage table restricted to the train split —
    * the scope frame q172's ledger, q179's surface, and q184's overlap
    * matrix share (the same md5 coin as every batch split).
    */
  private def trainStages(spark: SparkSession, stateRoot: String): DataFrame =
    StreamingCorpus
      .readStages(spark, s"$stateRoot/corpus")
      .filter(
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int") <
          Sampling.SPLIT_TRAIN_LT
      )

  /** The winnow run-pair frame off the maintained position slices — built
    * once per serve entry and shared by every consumer (the decision
    * table's depth leg, q182's intervals).
    */
  private def runPairsOf(spark: SparkSession, stateRoot: String): DataFrame =
    Dedup.verbatimRunPairsFromFps(
      StreamingWinnow.fpPositions(spark, s"$stateRoot/winnow").localCheckpoint()
    )

  /** The UNORDERED four-leg composition over the maintained slices — the
    * shared core of every serve entry above.
    */
  private def decisionsOver(spark: SparkSession, stateRoot: String, runPairs: DataFrame): DataFrame = {
    val shingles = SliceStore.read(spark, s"$stateRoot/bloom/shingles").localCheckpoint()
    val ngramLeg = Curation
      .contaminationFromShingles(shingles)
      .select(col("doc_id"), col("n_hits").as("ngram_hits"))
    val toks = SliceStore
      .read(spark, s"$stateRoot/clusters/toks")
      .select(col("lang"), col("doc_id"), col("toks"), col("sz"))
      .localCheckpoint()
    val pairs = Dedup.tokenJaccardPairsFrom(toks, 0.8).select(col("doc_a"), col("doc_b"))
    val imgLeg = Multimodal
      .imageDecontamFrom(StreamingMediaFps.bandTable(spark, s"$stateRoot/media").localCheckpoint())
      .select(col("train_id").as("doc_id"), col("n_eval_matches").as("img_leaks"))
    Dedup.contaminationDepthOver(ngramLeg, pairs, runPairs, imgLeg)
  }
}
