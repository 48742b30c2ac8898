package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Similarity

/** Live ANN index maintenance: keeps the persisted index families at
  * `indexDir` current as embedding files LAND in `dataDir`, by running the
  * append-only refresh (`graft.ann.refresh=append`) once per micro-batch.
  *
  * The file stream is used as a CHANGE SIGNAL only — each tick recomputes
  * the actual delta from the table's own state (the sidecar's
  * (rows, maxId) fingerprint against the current files), never from the
  * micro-batch rows. That keeps one source of truth: redelivered or
  * reordered batches can't double-index a row (the fingerprint already
  * covers it → `Current`), a tick that coalesces several file drops
  * indexes them all at once, and a non-append change discovered at tick
  * time falls back to the full rebuild exactly like the batch path. The
  * ingest contract is the same as `ann-build --append`: new rows carry
  * vec_ids above the indexed maxId (monotone ingest ids).
  *
  * `Trigger.AvailableNow` drains what has landed and stops — the cron /
  * entrypoint cadence; pass a processing-time trigger for a long-lived
  * maintainer.
  */
object StreamingIndexer {

  /** Start the maintainer; `onTick` sees each tick's per-family outcomes
    * (for tests and operational logging). The refresh runs on a DEDICATED
    * session clone: persist* reads `graft.ann.refresh` / `graft.ann
    * .profile` from session conf, and a long-lived maintainer must not
    * mutate those on a session that is concurrently serving queries.
    */
  def start(
      spark: SparkSession,
      dataDir: String,
      indexDir: String,
      profiles: Seq[String] = Seq("fast"),
      trigger: Trigger = Trigger.AvailableNow(),
      onTick: Seq[(String, Similarity.PersistOutcome)] => Unit = _ => ()
  ): StreamingQuery = {
    val maintainer = spark.newSession()
    maintainer.conf.set(Similarity.IndexDirConf, indexDir)
    maintainer.conf.set(Similarity.RefreshConf, "append")
    SliceMaintainer.onFileDrop(spark, s"$dataDir/embeddings.parquet", s"$indexDir/_indexer_checkpoint", trigger) {
      onTick(graft.tools.AnnBuild.run(maintainer, dataDir, indexDir, profiles))
      // embeddings grew: persist* invalidates the maintainer clone's own
      // index caches, but artifacts cached on the SERVING session over the
      // pre-append table (planted corpora, in-session indexes) are stale too
      graft.operators.SessionCache.invalidateAllFor(spark, dataDir)
    }
  }

  /** The lexical sibling: keeps the persisted BM25 postings index current
    * as DOCUMENT files land. Identical contract — the file stream is a
    * change signal, each tick re-derives the delta from the sidecar
    * fingerprint (redelivery → `Current`, coalesced drops → one append,
    * non-append change → full rebuild), and BM25's append is EXACT (df and
    * corpus constants are derived at query time, nothing is frozen).
    */
  def startBm25(
      spark: SparkSession,
      dataDir: String,
      indexDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      onTick: Similarity.PersistOutcome => Unit = _ => ()
  ): StreamingQuery = {
    val maintainer = spark.newSession()
    maintainer.conf.set(graft.operators.Retrieval.Bm25IndexDirConf, indexDir)
    maintainer.conf.set(graft.operators.Retrieval.Bm25RefreshConf, "append")
    SliceMaintainer.onFileDrop(spark, s"$dataDir/documents.parquet", s"$indexDir/_bm25_indexer_checkpoint", trigger) {
      onTick(graft.operators.Retrieval.persistBm25Index(maintainer, dataDir, indexDir))
      graft.operators.SessionCache.invalidateAllFor(spark, dataDir)
    }
  }
}
