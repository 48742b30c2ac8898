package graft.streaming

import graft.SparkSpec

/** The live bloom decontamination screen: tick-by-tick equality with the
  * batch q166 (the per-doc-locality claim), the RETROACTIVE flip — a later
  * TEST drop must change an earlier train doc's screen at serve time —
  * plus crash-replay idempotency and redelivery no-op.
  *
  * Doc ids are chosen for their md5 split buckets (the q49 coin):
  * 1,2,4 -> train (<205); 3,44 -> test (>=230); 5 -> validation (dropped).
  */
class StreamingBloomScreenSpec extends SparkSpec {

  private def writeDocs(dataDir: String, mode: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs
      .map { case (id, text) => (id, text, "en", s"src${id % 2}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode(mode)
      .parquet(s"$dataDir/documents.parquet")
  }

  private def batch(dataDir: String) =
    graft.operators.Curation.q166BloomScreen(spark, dataDir).collect().toSeq.map(_.toSeq)

  private def served(stateDir: String) =
    StreamingBloomScreen.screenTable(spark, stateDir).collect().toSeq.map(_.toSeq)

  test("ticks equal the batch q166; a later test drop retroactively flags an earlier train doc") {
    val dataDir = java.nio.file.Files.createTempDirectory("bloom_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("bloom_state").toString

    val leak = "one two three four five six seven eight" // the shared 8-gram
    // drop 1: two train docs, one test doc; train doc 1 shares the 8-gram
    // with test doc 3, train doc 2 is clean
    val drop1 = Seq[(Long, String)](
      (1L, s"$leak and some trailing words here too"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, s"prefix words then $leak closing words")
    )
    writeDocs(dataDir, "overwrite", drop1)
    StreamingBloomScreen.tick(spark, dataDir, stateDir)
    val t1 = served(stateDir)
    assert(t1 === batch(dataDir), "tick 1 must equal the batch screen")
    assert(t1.exists(_.head == 1L), "the planted leak must be flagged")

    // drop 2: a NEW test doc (44) that shares doc 2's until-now-clean
    // 8-gram, plus a validation doc (5) that must stay invisible — the
    // serve path must retroactively flag train doc 2 without any repair
    // pass, because screens are recomputed from folded state
    val drop2 = Seq[(Long, String)](
      (5L, "validation bucket words that must never appear anywhere at all"),
      (44L, "noise then alpha beta gamma delta epsilon zeta eta theta ending")
    )
    writeDocs(dataDir, "append", drop2)
    StreamingBloomScreen.tick(spark, dataDir, stateDir)
    val t2 = served(stateDir)
    assert(t2 === batch(dataDir), "tick 2 must equal the batch screen over old + delta")
    assert(t2.exists(_.head == 2L), "the late test drop must retroactively flag train doc 2")

    // redelivery: a direct tick with nothing new is a no-op
    assert(StreamingBloomScreen.tick(spark, dataDir, stateDir) === 0L)
    assert(served(stateDir) === batch(dataDir))

    // crash replay: watermark write lost after tick 2's slice landed — the
    // rerun re-derives the same delta and overwrites its own slice
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stateDir, "state.json"),
      """{"max_doc_id": 3}"""
    )
    assert(StreamingBloomScreen.tick(spark, dataDir, stateDir) === 2L)
    assert(served(stateDir) === batch(dataDir), "a replayed tick must overwrite, never double-count")
  }
}
