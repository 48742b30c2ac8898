package graft.streaming

import graft.SparkSpec
import graft.operators.Multimodal

/** The live media fingerprint index: tick-by-tick equality of the
  * maintained raw fingerprint/band tables with the batch intermediates the
  * near-dup, audit and decontamination tails consume (per-item locality is
  * the exactness claim), redelivery no-op, crash replay. Kinds come from
  * doc_id % 3 (0 image, 1 audio, 2 video).
  */
class StreamingMediaFpsSpec extends SparkSpec {

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

  test("media maintainer ticks keep the batch fp/band tables; replay/redelivery safe") {
    val dataDir = java.nio.file.Files.createTempDirectory("mediafp_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("mediafp_state").toString

    val imgBase = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val imgEdit = imgBase.updated(10, 'z').updated(11, 'z')
    val drop1 = Seq[(Long, String)](
      (0L, imgBase), // image
      (3L, imgEdit), // image near-dup of 0
      (1L, "a" * 200), // audio
      (4L, "a" * 200), // audio copy of 1
      (2L, "c" * 50), // video
      (5L, "c" * 50) // video copy of 2
    )
    writeDocs(dataDir, "overwrite", drop1)
    assert(StreamingMediaFps.tick(spark, dataDir, stateDir) === 6L)

    def assertStateEqualsBatch(stage: String): Unit = {
      assert(
        canon(StreamingMediaFps.fpTable(spark, stateDir, "video")) ===
          canon(Multimodal.videoFpsRaw(spark, dataDir)),
        s"$stage: video fp table must equal the batch stage"
      )
      assert(
        canon(StreamingMediaFps.fpTable(spark, stateDir, "audio")) ===
          canon(Multimodal.audioFpsRaw(spark, dataDir)),
        s"$stage: audio fp table must equal the batch stage"
      )
      assert(
        canon(StreamingMediaFps.bandTable(spark, stateDir)) ===
          canon(Multimodal.imageBands(spark, dataDir)),
        s"$stage: image band table must round-trip the hex encode exactly"
      )
    }
    assertStateEqualsBatch("tick 1")
    assert(!StreamingMediaFps.fpTable(spark, stateDir, "video").isEmpty, "the planted videos must fingerprint")

    // drop 2: one more of each kind — a third video copy, an unrelated
    // audio
    val drop2 = Seq[(Long, String)]((6L, imgBase), (7L, "b" * 200), (8L, "c" * 50))
    writeDocs(dataDir, "append", drop2)
    assert(StreamingMediaFps.tick(spark, dataDir, stateDir) === 3L)
    assertStateEqualsBatch("tick 2")

    // redelivery: nothing new is a no-op
    assert(StreamingMediaFps.tick(spark, dataDir, stateDir) === 0L)

    // crash replay: lost watermark after tick 2's slice — the replay
    // overwrites its own slice (same lo); distinct per-item rows cannot
    // double-count
    java.nio.file.Files.writeString(java.nio.file.Paths.get(stateDir, "state.json"), """{"max_doc_id": 5}""")
    assert(StreamingMediaFps.tick(spark, dataDir, stateDir) === 3L, "replay must re-process the uncovered delta")
    assertStateEqualsBatch("crash replay")
  }
}
