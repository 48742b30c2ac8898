package graft.streaming

import graft.SparkSpec

/** The live drift watch: tick-by-tick equality with the batch q128 (the
  * maintainer's additivity claim), crash-replay idempotency, redelivery
  * no-op, and slice compaction transparency.
  */
class StreamingDriftWatchSpec extends SparkSpec {

  private def writeDocs(dataDir: String, mode: String, docs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    docs
      .map { case (id, text, source) => (id, text, "en", source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode(mode)
      .parquet(s"$dataDir/documents.parquet")
  }

  private def batch(dataDir: String) =
    graft.operators.Importance.q128SourceDrift(spark, dataDir).collect().toSeq.map(_.toSeq)

  private def served(stateDir: String) =
    StreamingDriftWatch.driftTable(spark, stateDir).collect().toSeq.map(_.toSeq)

  test("maintainer ticks equal the batch q128 after every drop; replay and redelivery are safe") {
    val dataDir = java.nio.file.Files.createTempDirectory("drift_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("drift_state").toString

    val drop1 = Seq[(Long, String, String)](
      (0L, "alpha beta gamma delta", "src0"),
      (1L, "alpha alpha beta", "src0"),
      (2L, "epsilon zeta eta theta", "src1")
    )
    writeDocs(dataDir, "overwrite", drop1)
    StreamingDriftWatch.tick(spark, dataDir, stateDir)
    assert(served(stateDir) === batch(dataDir), "tick 1 must equal the batch drift table")

    // drop 2: one existing source shifts vocabulary, one new source lands
    val drop2 = Seq[(Long, String, String)](
      (3L, "omega omega omega psi", "src1"),
      (4L, "alpha beta gamma", "src2"),
      (5L, "mu nu xi omicron pi", "src2")
    )
    writeDocs(dataDir, "append", drop2)
    StreamingDriftWatch.tick(spark, dataDir, stateDir)
    assert(served(stateDir) === batch(dataDir), "tick 2 must equal the batch drift table over old + delta")

    // redelivery: a direct tick with nothing new is a no-op
    assert(StreamingDriftWatch.tick(spark, dataDir, stateDir) === 0L)
    assert(served(stateDir) === batch(dataDir), "a redelivered/empty tick must not change the table")

    // crash replay: watermark write lost after tick 2's slice landed — the
    // rerun re-derives the same delta and OVERWRITES its own slice (same
    // lo), so nothing is double-counted
    val wmPath = java.nio.file.Paths.get(stateDir, "state.json")
    java.nio.file.Files.writeString(wmPath, """{"max_doc_id": 2}""")
    assert(StreamingDriftWatch.tick(spark, dataDir, stateDir) === 3L, "replay must re-process the uncovered delta")
    assert(served(stateDir) === batch(dataDir), "a replayed tick must overwrite, never double-count")
  }

  test("slice compaction folds histogram slices without changing the served table") {
    val dataDir = java.nio.file.Files.createTempDirectory("driftc_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("driftc_state").toString
    spark.conf.set("graft.stream.compactSlices", "2")
    try {
      writeDocs(dataDir, "overwrite", Seq((0L, "alpha beta", "src0"), (1L, "gamma delta", "src1")))
      assert(StreamingDriftWatch.tick(spark, dataDir, stateDir) === 2L)
      writeDocs(dataDir, "append", Seq((2L, "epsilon zeta", "src0")))
      assert(StreamingDriftWatch.tick(spark, dataDir, stateDir) === 1L)
      writeDocs(dataDir, "append", Seq((3L, "alpha alpha eta", "src1")))
      assert(StreamingDriftWatch.tick(spark, dataDir, stateDir) === 1L)
      assert(
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(stateDir, "hist", "base")),
        "slices must have folded into a compacted base"
      )
      assert(served(stateDir) === batch(dataDir), "compaction must not change the served drift table")
    } finally spark.conf.unset("graft.stream.compactSlices")
  }
}
