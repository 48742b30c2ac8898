package graft.streaming

import graft.SparkSpec

/** The live pack manifest: tick-by-tick equality with the batch q170 (the
  * prefix-sums-are-append-only claim under monotone ids), append-only
  * placements (old rows never change), crash-replay idempotency, and
  * redelivery no-op.
  */
class StreamingPackSpec extends SparkSpec {

  private def writeDocs(dataDir: String, mode: String, docs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    docs
      .map { case (id, text, lang) => (id, text, lang, s"src${id % 3}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode(mode)
      .parquet(s"$dataDir/documents.parquet")
  }

  private def batch(dataDir: String) =
    graft.operators.Curation.q170PackManifest(spark, dataDir).collect().toSeq.map(_.toSeq)

  private def served(stateDir: String) =
    StreamingPack.manifestTable(spark, stateDir).collect().toSeq.map(_.toSeq)

  test("ticks equal the batch q170; placements are append-only; replay and redelivery are safe") {
    val dataDir = java.nio.file.Files.createTempDirectory("pack_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("pack_state").toString

    def words(n: Int, w: String) = Seq.fill(n)(w).mkString(" ")
    // drop 1: two streams (en, de), shards decided by doc_id % 8
    val drop1 = Seq[(Long, String, String)](
      (0L, words(300, "alpha"), "en"),
      (8L, words(400, "beta"), "en"), // same (en, shard 0) stream: crosses 512 at doc 8
      (3L, words(200, "gamma"), "de"),
      (16L, words(100, "delta"), "en")
    )
    writeDocs(dataDir, "overwrite", drop1)
    StreamingPack.tick(spark, dataDir, stateDir)
    val t1 = served(stateDir)
    assert(t1 === batch(dataDir), "tick 1 must equal the batch manifest")
    assert(t1.nonEmpty)

    // drop 2: suffixes for both streams + a new stream — earlier rows must
    // not change (append-only placements), new rows must continue offsets
    val drop2 = Seq[(Long, String, String)](
      (24L, words(250, "epsilon"), "en"),
      (19L, words(50, "zeta"), "de"),
      (21L, words(75, "eta"), "fr")
    )
    writeDocs(dataDir, "append", drop2)
    StreamingPack.tick(spark, dataDir, stateDir)
    val t2 = served(stateDir)
    assert(t2 === batch(dataDir), "tick 2 must equal the batch manifest over old + delta")
    assert(t1.toSet.subsetOf(t2.toSet), "earlier placements must be append-only (never rewritten)")

    // redelivery: nothing new is a no-op
    assert(StreamingPack.tick(spark, dataDir, stateDir) === 0L)
    assert(served(stateDir) === batch(dataDir))

    // crash replay: watermark write lost after tick 2's slice landed
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stateDir, "state.json"),
      """{"max_doc_id": 16}"""
    )
    assert(StreamingPack.tick(spark, dataDir, stateDir) === 3L)
    assert(served(stateDir) === batch(dataDir), "a replayed tick must overwrite, never double-count")
  }
}
