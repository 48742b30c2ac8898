package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Index maintenance as the ingest tick runs it (`IngestTick.run`'s ANN
  * and BM25 legs): append-only refresh ticks on a dedicated session clone —
  * a redundant tick is a no-op (`Current`), a tick over newly landed rows
  * appends exactly the delta under the frozen geometry, and a cold session
  * then serves the grown index.
  */
class StreamingIndexerSpec extends SparkSpec {

  private def annTick(dataDir: String, indexDir: String): Seq[(String, Similarity.PersistOutcome)] = {
    val m = spark.newSession()
    m.conf.set(Similarity.IndexDirConf, indexDir)
    m.conf.set(Similarity.RefreshConf, "append")
    graft.tools.AnnBuild.run(m, dataDir, indexDir, Seq("fast"))
  }

  private def bm25Tick(dataDir: String, indexDir: String): Similarity.PersistOutcome = {
    val m = spark.newSession()
    m.conf.set(graft.operators.Retrieval.Bm25RefreshConf, "append")
    graft.operators.Retrieval.persistBm25Index(m, dataDir, indexDir)
  }

  test("ticks append newly landed embedding files; redelivery is a no-op") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    val src = graft.core.Tables.embeddings(spark, sfDir)
    src
      .filter(col("vec_id") < 30)
      .write
      .mode("overwrite")
      .parquet(s"$dataDir/embeddings.parquet")

    // initial full build (the nightly ann-build)
    assert(
      graft.tools.AnnBuild.run(spark, dataDir, indexDir, Seq("fast")).forall(_._2 == Similarity.Rebuilt)
    )

    // tick 1: the index already covers every landed row — the tick must be
    // a no-op, not a double-index
    val t1 = annTick(dataDir, indexDir)
    assert(t1.forall(_._2 == Similarity.Current), s"already-indexed rows must tick to Current: $t1")

    // 20 more rows land as new part files
    src
      .filter(col("vec_id") >= 30 && col("vec_id") < 50)
      .write
      .mode("append")
      .parquet(s"$dataDir/embeddings.parquet")

    val t2 = annTick(dataDir, indexDir)
    assert(
      t2.forall(_._2 == Similarity.Appended(20)),
      s"a tick over 20 new rows must append exactly 20 everywhere: $t2"
    )

    // a cold session serves the grown index
    val s2 = spark.newSession()
    s2.conf.set(Similarity.IndexDirConf, indexDir)
    assert(Similarity.buildLshIndex(s2, dataDir).select("vec_id").distinct().count() === 50L)
    assert(Similarity.buildPqIndex(s2, dataDir)._2.count() === 50L)
  }

  test("bm25 ticks append newly landed document files; served == scan path; redelivery no-op") {
    import graft.operators.Retrieval
    val indexDir = Files.createTempDirectory("bm25idx").toString
    val dataDir = Files.createTempDirectory("bm25data").toString
    val src = graft.core.Tables.documents(spark, sfDir)
    src.filter(col("doc_id") < 300).write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    assert(Retrieval.persistBm25Index(spark.newSession(), dataDir, indexDir) === Similarity.Rebuilt)

    val t1 = bm25Tick(dataDir, indexDir)
    assert(t1 === Similarity.Current, s"already-indexed docs must tick to Current: $t1")

    src
      .filter(col("doc_id") >= 300 && col("doc_id") < 450)
      .write
      .mode("append")
      .parquet(s"$dataDir/documents.parquet")
    val t2 = bm25Tick(dataDir, indexDir)
    assert(t2 === Similarity.Appended(150), s"tick must append exactly the landed docs: $t2")

    // a cold session serves exactly what the scan path computes over the grown corpus
    val serve = spark.newSession()
    serve.conf.set(Retrieval.Bm25IndexDirConf, indexDir)
    assert(
      Retrieval.q122Bm25Indexed(serve, dataDir).collect().toSeq ===
        Retrieval.q103Bm25(spark.newSession(), dataDir).collect().toSeq
    )
  }
}
