package graft.streaming

import graft.SparkSpec

/** The live source sketch: tick-by-tick equality with batch q134 (the
  * maintainer's min-mergeability claim), crash-replay idempotency,
  * redelivery no-op, and slice compaction transparency. Texts carry >= 8
  * tokens so every doc contributes shingles.
  */
class StreamingSourceSketchSpec extends SparkSpec {

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
    graft.operators.Curation.q134SourceSketch(spark, dataDir).collect().toSeq.map(_.toSeq)

  private def served(stateDir: String) =
    StreamingSourceSketch.sketchTable(spark, stateDir).collect().toSeq.map(_.toSeq)

  test("maintainer ticks equal the batch q134 after every drop; replay and redelivery are safe") {
    val dataDir = java.nio.file.Files.createTempDirectory("sketch_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("sketch_state").toString

    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val drop1 = Seq[(Long, String, String)](
      (0L, shared, "src0"),
      (1L, "one two three four five six seven eight nine ten", "src0"),
      (2L, shared, "src1") // src1 mirrors src0's first doc -> shared shingles
    )
    writeDocs(dataDir, "overwrite", drop1)
    StreamingSourceSketch.tick(spark, dataDir, stateDir)
    val t1 = served(stateDir)
    assert(t1 === batch(dataDir), "tick 1 must equal the batch sketch table")
    // the planted mirror must actually register as similar
    val mirror = StreamingSourceSketch
      .sketchTable(spark, stateDir)
      .collect()
      .find(r => r.getString(0) == "src0" && r.getString(1) == "src1")
    assert(mirror.exists(_.getAs[Long]("n_match") > 0L), "planted mirror pair must share components")

    // drop 2: a new source lands and src1 grows new content (its mins can
    // only fall — min-mergeability is what the equality below exercises)
    val drop2 = Seq[(Long, String, String)](
      (3L, "red orange yellow green blue indigo violet white black grey", "src1"),
      (4L, shared, "src2"),
      (5L, "moon star planet comet nebula quasar pulsar galaxy cluster void", "src2")
    )
    writeDocs(dataDir, "append", drop2)
    StreamingSourceSketch.tick(spark, dataDir, stateDir)
    assert(served(stateDir) === batch(dataDir), "tick 2 must equal the batch sketch over old + delta")

    // redelivery: a direct tick with nothing new is a no-op
    assert(StreamingSourceSketch.tick(spark, dataDir, stateDir) === 0L)
    assert(served(stateDir) === batch(dataDir), "a redelivered/empty tick must not change the table")

    // crash replay: watermark write lost after tick 2's slice landed — the
    // rerun re-derives the same delta and OVERWRITES its own slice (same
    // lo); min is idempotent, so even the overlap could not corrupt
    val wmPath = java.nio.file.Paths.get(stateDir, "state.json")
    java.nio.file.Files.writeString(wmPath, """{"max_doc_id": 2}""")
    assert(StreamingSourceSketch.tick(spark, dataDir, stateDir) === 3L, "replay must re-process the uncovered delta")
    assert(served(stateDir) === batch(dataDir), "a replayed tick must overwrite, never double-count")

    // a sidecar that EXISTS but does not parse must fail the tick loudly —
    // defaulting to "everything is new" would write a full-corpus slice
    // keyed at the global min id (dead under a compacted base's _covered
    // watermark, so GC'd) while jumping the watermark to the global max:
    // silent permanent loss. The template refuses instead.
    val goodSidecar = java.nio.file.Files.readString(wmPath)
    java.nio.file.Files.writeString(wmPath, """{"max_doc""") // torn mid-write
    intercept[IllegalStateException](StreamingSourceSketch.tick(spark, dataDir, stateDir))
    java.nio.file.Files.writeString(wmPath, goodSidecar)
    assert(StreamingSourceSketch.tick(spark, dataDir, stateDir) === 0L, "restored sidecar resumes cleanly")
  }

  test("slice compaction folds signature slices without changing the served table") {
    val dataDir = java.nio.file.Files.createTempDirectory("sketchc_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("sketchc_state").toString
    spark.conf.set("graft.stream.compactSlices", "2")
    try {
      val t = "aa bb cc dd ee ff gg hh ii jj"
      writeDocs(dataDir, "overwrite", Seq((0L, t, "src0"), (1L, t + " kk", "src1")))
      assert(StreamingSourceSketch.tick(spark, dataDir, stateDir) === 2L)
      writeDocs(dataDir, "append", Seq((2L, "pp qq rr ss tt uu vv ww xx yy", "src0")))
      assert(StreamingSourceSketch.tick(spark, dataDir, stateDir) === 1L)
      writeDocs(dataDir, "append", Seq((3L, t + " zz", "src1")))
      assert(StreamingSourceSketch.tick(spark, dataDir, stateDir) === 1L)
      assert(
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(stateDir, "sig", "base")),
        "slices must have folded into a compacted base"
      )
      assert(served(stateDir) === batch(dataDir), "compaction must not change the served table")
    } finally spark.conf.unset("graft.stream.compactSlices")
  }
}
