package graft.streaming

import graft.SparkSpec

/** The live weighted reservoir: tick-by-tick equality with batch q145 (the
  * max-mergeability claim), bounded per-slice state, redelivery no-op, and
  * crash replay.
  */
class StreamingSampleSpec extends SparkSpec {

  private def writeDocs(dataDir: String, mode: String, ids: Range): Unit = {
    import spark.implicits._
    ids
      .map { i =>
        val text = (1 to (10 + i % 7)).map(k => s"w${(i * 31 + k) % 50}").mkString(" ")
        (i.toLong, text, if (i % 2 == 0) "en" else "de", s"src${i % 3}", text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode(mode)
      .parquet(s"$dataDir/documents.parquet")
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(_.toSeq)

  test("maintainer ticks equal batch q145 after every drop; slices stay bounded; replay/redelivery safe") {
    val dataDir = java.nio.file.Files.createTempDirectory("res_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("res_state").toString

    writeDocs(dataDir, "overwrite", 0 until 80)
    StreamingSample.tick(spark, dataDir, stateDir)
    assert(
      canon(StreamingSample.sampleTable(spark, stateDir)) ===
        canon(graft.operators.Sampling.q145WeightedSample(spark, dataDir)),
      "tick 1 sample must equal batch q145"
    )

    // drop 2: higher ids land; the merged reservoir must still equal batch
    writeDocs(dataDir, "append", 80 until 200)
    StreamingSample.tick(spark, dataDir, stateDir)
    assert(
      canon(StreamingSample.sampleTable(spark, stateDir)) ===
        canon(graft.operators.Sampling.q145WeightedSample(spark, dataDir)),
      "tick 2 merged reservoir must equal batch over old + delta"
    )

    // bounded state: every slice holds at most K rows per lang
    val slices = SliceStore.read(spark, s"$stateDir/res")
    val maxPerLang = slices
      .groupBy(org.apache.spark.sql.functions.col("lang"))
      .count()
      .collect()
      .map(_.getLong(1))
      .max
    assert(
      maxPerLang <= 2L * graft.operators.Sampling.SAMPLE_K,
      s"two pruned slices hold <= 2K rows per lang, got $maxPerLang"
    )

    // redelivery no-op; crash replay overwrites its own slice
    assert(StreamingSample.tick(spark, dataDir, stateDir) === 0L)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(stateDir, "state.json"), """{"max_doc_id": 79}""")
    assert(StreamingSample.tick(spark, dataDir, stateDir) === 120L, "replay must re-process the uncovered delta")
    assert(
      canon(StreamingSample.sampleTable(spark, stateDir)) ===
        canon(graft.operators.Sampling.q145WeightedSample(spark, dataDir)),
      "a replayed tick must overwrite, never duplicate"
    )
  }
}
