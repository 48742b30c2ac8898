package graft.streaming

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.Multimodal

/** The live media fingerprint index: tick-by-tick equality of the served
  * raw fingerprint/band tables and all three near-dup reports with their
  * batch twins (per-item locality is the exactness claim), redelivery
  * no-op, crash replay. Kinds come from doc_id % 3 (0 image, 1 audio,
  * 2 video).
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

  test("media maintainer ticks serve the batch fp/band tables and all three near-dup reports; replay/redelivery safe") {
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
    val q1 = StreamingMediaFps.start(spark, dataDir, stateDir, Trigger.AvailableNow())
    q1.awaitTermination(120000)

    def assertServedEqualsBatch(stage: String): Unit = {
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
      assert(
        canon(StreamingMediaFps.videoNeardup(spark, stateDir)) ===
          canon(Multimodal.q115VideoNeardup(spark, dataDir)),
        s"$stage: served video near-dup must equal batch q115"
      )
      assert(
        canon(StreamingMediaFps.audioNeardup(spark, stateDir)) ===
          canon(Multimodal.q175AudioNeardup(spark, dataDir)),
        s"$stage: served audio near-dup must equal batch q175"
      )
      assert(
        canon(StreamingMediaFps.imageNeardup(spark, stateDir)) ===
          canon(Multimodal.q114ImageNeardup(spark, dataDir)),
        s"$stage: served image near-dup must equal batch q114"
      )
      assert(
        canon(StreamingMediaFps.imageNeardupCapped(spark, stateDir)) ===
          canon(Multimodal.q181ImageNeardupCapped(spark, dataDir)),
        s"$stage: served capped image near-dup must equal batch q181"
      )
      assert(
        canon(StreamingMediaFps.audit(spark, stateDir)) ===
          canon(Multimodal.q177MediaBoilerplate(spark, dataDir)),
        s"$stage: served boilerplate audit must equal batch q177"
      )
    }
    assertServedEqualsBatch("tick 1")
    assert(
      StreamingMediaFps.videoNeardup(spark, stateDir).collect().exists(r => r.getLong(0) == 2L && r.getLong(1) == 5L),
      "the planted video copy must pair"
    )

    // drop 2: one more of each kind — a third video copy pairs with BOTH
    // existing ones; the audio is unrelated
    val drop2 = Seq[(Long, String)]((6L, imgBase), (7L, "b" * 200), (8L, "c" * 50))
    writeDocs(dataDir, "append", drop2)
    val q2 = StreamingMediaFps.start(spark, dataDir, stateDir, Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assertServedEqualsBatch("tick 2")
    val vids = StreamingMediaFps.videoNeardup(spark, stateDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(vids === Set((2L, 5L), (2L, 8L), (5L, 8L)), s"all three video copies must pair pairwise: $vids")

    // the hot-key ledger's source attribution lives in the corpus
    // maintainer's state (the cross-family pattern): tick it over the
    // same landed corpus, then the composed serve must equal batch q183
    val corpusState = java.nio.file.Files.createTempDirectory("mediafp_corpus").toString
    StreamingCorpus.tick(spark, s"$dataDir/documents.parquet", corpusState)
    assert(
      canon(StreamingMediaFps.hotLedger(spark, stateDir, corpusState)) ===
        canon(Multimodal.q183MediaHotLedger(spark, dataDir)),
      "served hot-key ledger must equal batch q183"
    )

    // redelivery: nothing new is a no-op
    assert(StreamingMediaFps.tick(spark, dataDir, stateDir) === 0L)

    // crash replay: lost watermark after tick 2's slice — the replay
    // overwrites its own slice (same lo); distinct per-item rows cannot
    // double-count
    java.nio.file.Files.writeString(java.nio.file.Paths.get(stateDir, "state.json"), """{"max_doc_id": 5}""")
    assert(StreamingMediaFps.tick(spark, dataDir, stateDir) === 3L, "replay must re-process the uncovered delta")
    assertServedEqualsBatch("crash replay")
  }
}
