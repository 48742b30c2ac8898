package graft.streaming

import graft.SparkSpec

/** The live winnow index: tick-by-tick equality of the maintained
  * fingerprint and position tables with the batch winnow stage the q144,
  * q152 and q162 tails consume (per-doc locality is the exactness claim),
  * redelivery no-op, crash replay, and compaction transparency. Texts
  * carry >= 11 tokens so the winnowing guarantee window exists.
  */
class StreamingWinnowSpec extends SparkSpec {

  private def writeDocs(dataDir: String, mode: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs
      .map { case (id, text) => (id, text, "en", s"src${id % 3}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode(mode)
      .parquet(s"$dataDir/documents.parquet")
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  test("maintainer ticks keep the batch fingerprint and position tables; replay/redelivery safe") {
    val dataDir = java.nio.file.Files.createTempDirectory("winnow_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("winnow_state").toString

    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val drop1 = Seq[(Long, String)](
      (0L, run + " nu xi omicron pi"),
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, run + " rho sigma tau upsilon") // shares a 12-token run with doc 0
    )
    writeDocs(dataDir, "overwrite", drop1)
    assert(StreamingWinnow.tick(spark, dataDir, stateDir) === 3L)
    assert(
      canon(StreamingWinnow.fpTable(spark, stateDir)) ===
        canon(graft.operators.Dedup.winnowFingerprints(spark, dataDir)),
      "tick 1 fingerprint table must equal the batch winnowing"
    )
    val fps = StreamingWinnow.fpTable(spark, stateDir).collect().map(r => r.getLong(0) -> r.getString(1))
    assert(
      fps.filter(_._1 == 0L).map(_._2).toSet.intersect(fps.filter(_._1 == 2L).map(_._2).toSet).nonEmpty,
      "the planted shared 12-token run must give docs 0 and 2 a common fingerprint"
    )

    // drop 2: new docs, one sharing doc 1's run — state grows by union only
    val drop2 = Seq[(Long, String)](
      (3L, "one two three four five six seven eight nine ten eleven twelve thirteen"),
      (4L, "red orange yellow green blue indigo violet white black grey brown pink")
    )
    writeDocs(dataDir, "append", drop2)
    assert(StreamingWinnow.tick(spark, dataDir, stateDir) === 2L)
    assert(
      canon(StreamingWinnow.fpTable(spark, stateDir)) ===
        canon(graft.operators.Dedup.winnowFingerprints(spark, dataDir)),
      "tick 2 must equal the batch over old + delta"
    )
    assert(
      canon(StreamingWinnow.fpPositions(spark, stateDir)) ===
        canon(graft.operators.Dedup.winnowPositions(spark, dataDir)),
      "the position table must equal the batch q144_winnow stage (positions ride the slices)"
    )

    // redelivery: nothing new is a no-op
    assert(StreamingWinnow.tick(spark, dataDir, stateDir) === 0L)

    // crash replay: lost watermark after tick 2's slice — rerun overwrites
    // its own slice (same lo); union of distinct per-doc rows cannot
    // double-count
    java.nio.file.Files.writeString(java.nio.file.Paths.get(stateDir, "state.json"), """{"max_doc_id": 2}""")
    assert(StreamingWinnow.tick(spark, dataDir, stateDir) === 2L, "replay must re-process the uncovered delta")
    assert(
      canon(StreamingWinnow.fpTable(spark, stateDir)) ===
        canon(graft.operators.Dedup.winnowFingerprints(spark, dataDir)),
      "a replayed tick must overwrite, never duplicate"
    )
  }

  test("slice compaction folds fingerprint slices without changing the served table") {
    val dataDir = java.nio.file.Files.createTempDirectory("winnowc_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("winnowc_state").toString
    spark.conf.set("graft.stream.compactSlices", "2")
    try {
      val t = "aa bb cc dd ee ff gg hh ii jj kk ll"
      writeDocs(dataDir, "overwrite", Seq((0L, t), (1L, t + " mm")))
      assert(StreamingWinnow.tick(spark, dataDir, stateDir) === 2L)
      writeDocs(dataDir, "append", Seq((2L, "pp qq rr ss tt uu vv ww xx yy zz ab")))
      assert(StreamingWinnow.tick(spark, dataDir, stateDir) === 1L)
      writeDocs(dataDir, "append", Seq((3L, t + " nn")))
      assert(StreamingWinnow.tick(spark, dataDir, stateDir) === 1L)
      assert(
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(stateDir, "fp", "base")),
        "slices must have folded into a compacted base"
      )
      assert(
        canon(StreamingWinnow.fpTable(spark, stateDir)) ===
          canon(graft.operators.Dedup.winnowFingerprints(spark, dataDir)),
        "compaction must not change the served table"
      )
    } finally spark.conf.unset("graft.stream.compactSlices")
  }
}
