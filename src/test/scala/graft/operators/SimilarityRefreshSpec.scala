package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Append-only index refresh (`graft.ann.refresh=append`): an ingest tick
  * that only ADDS rows extends each persisted index under its existing
  * geometry — LSH delta-hashing is bit-identical to a full rebuild (the
  * planes are deterministic), IVF/PQ freeze their trained centroids /
  * codebooks (the standard add-without-retrain trade) — while any
  * non-append change, or the default `rebuild` policy, still retrains from
  * scratch. At 100 TB this is the difference between a delta-sized write
  * per ingest tick and a corpus-sized retrain.
  */
class SimilarityRefreshSpec extends SparkSpec {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Regenerate the corpus at `dataDir` as the first `n` sf vectors —
    * growing `n` is an append-only change (old rows byte-identical).
    */
  private def writeRows(dataDir: String, n: Int): Unit =
    graft.core.Tables
      .embeddings(spark, sfDir)
      .filter(col("vec_id") < n)
      .write
      .mode("overwrite")
      .parquet(s"$dataDir/embeddings.parquet")

  private def session(indexDir: String, refresh: Option[String]): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Similarity.IndexDirConf, indexDir)
    refresh.foreach(s.conf.set(Similarity.RefreshConf, _))
    s
  }

  /** The single child of `indexDir` whose name matches `pattern` (anchored). */
  private def artifact(indexDir: String, pattern: String): String = {
    val hits = new java.io.File(indexDir).listFiles().filter(_.getName.matches(pattern))
    assert(hits.length === 1, s"expected one $pattern under $indexDir: ${hits.toSeq}")
    hits.head.getAbsolutePath
  }

  test("LSH append-refresh is bit-identical to a full rebuild and ends current") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    writeRows(dataDir, 30)
    assert(Similarity.persistLshIndex(session(indexDir, Some("append")), dataDir, indexDir) === Similarity.Rebuilt)

    writeRows(dataDir, 50)
    val s1 = session(indexDir, Some("append"))
    assert(Similarity.persistLshIndex(s1, dataDir, indexDir) === Similarity.Appended(20))
    assert(Similarity.persistLshIndex(s1, dataDir, indexDir) === Similarity.Current)

    // served-from-appended-index results == computed-fresh results (no
    // persisted index in the fresh session: no IndexDirConf set)
    val served = rowsOf(Similarity.q35LshTopK(session(indexDir, None), dataDir))
    val computed = rowsOf(Similarity.q35LshTopK(spark.newSession(), dataDir))
    assert(served === computed, "appended LSH index must serve exactly what a fresh build computes")
  }

  test("an LSH table in the retired vector-carrying layout is rebuilt, never appended to or served") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val scratchDir = Files.createTempDirectory("annidx_new").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    writeRows(dataDir, 30)
    // the retired layout: today's postings plus each row's unit vector `vb`,
    // under the params string that layout was persisted with
    val s0 = session(scratchDir, Some("append"))
    assert(Similarity.persistLshIndex(s0, dataDir, scratchDir) === Similarity.Rebuilt)
    val oldPath = s"$indexDir/lsh_${Similarity.indexKey(dataDir)}"
    val withVectors = spark.read
      .parquet(s"$scratchDir/lsh_${Similarity.indexKey(dataDir)}")
      .join(Similarity.unitEmbeddings(s0, dataDir), "vec_id")
    graft.sources.Layouts.writeBucketed(withVectors, "graft_lsh_retired_layout", Seq("t", "b"), 16, oldPath)
    spark.sql("DROP TABLE IF EXISTS `graft_lsh_retired_layout`")
    Similarity.writeSidecar(spark, oldPath, Similarity.IndexSpec(16, Seq("t", "b"), "lsh:t6:p6"), (30L, 29L))
    assert(spark.read.parquet(oldPath).columns.contains("vb"))

    // never served: a reader over the same data computes the postings fresh
    assert(!Similarity.buildLshIndex(session(indexDir, None), dataDir).columns.contains("vb"))

    writeRows(dataDir, 50)
    val s1 = session(indexDir, Some("append"))
    assert(
      Similarity.persistLshIndex(s1, dataDir, indexDir) === Similarity.Rebuilt,
      "an append-only change over a retired-layout index must rebuild, never append"
    )
    assert(!spark.read.parquet(oldPath).columns.contains("vb"), "the rebuild must replace the retired layout")
    assert(Similarity.persistLshIndex(s1, dataDir, indexDir) === Similarity.Current)
    val served = rowsOf(Similarity.q35LshTopK(session(indexDir, None), dataDir))
    val computed = rowsOf(Similarity.q35LshTopK(spark.newSession(), dataDir))
    assert(served === computed, "the rebuilt index must serve exactly what a fresh build computes")
  }

  test("default rebuild policy retrains on the same append-only change") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    writeRows(dataDir, 30)
    assert(Similarity.persistLshIndex(session(indexDir, None), dataDir, indexDir) === Similarity.Rebuilt)
    writeRows(dataDir, 50)
    assert(
      Similarity.persistLshIndex(session(indexDir, None), dataDir, indexDir) === Similarity.Rebuilt,
      "without refresh=append a stale index must be rebuilt, preserving the existing contract"
    )
  }

  test("IVF append-refresh freezes the trained centroids and indexes the delta") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    writeRows(dataDir, 30)
    assert(Similarity.persistIvfIndex(session(indexDir, Some("append")), dataDir, indexDir) === Similarity.Rebuilt)
    val centsPath = artifact(indexDir, "ivf_[0-9a-f]+_centroids")
    val before = rowsOf(spark.read.parquet(centsPath).orderBy("cluster"))

    writeRows(dataDir, 50)
    val s1 = session(indexDir, Some("append"))
    assert(Similarity.persistIvfIndex(s1, dataDir, indexDir) === Similarity.Appended(20))

    val after = rowsOf(spark.read.parquet(centsPath).orderBy("cluster"))
    assert(after === before, "append refresh must not retrain the persisted centroids")
    val (_, corpus) = Similarity.buildIvfIndex(session(indexDir, None), dataDir)
    assert(corpus.count() === 50L, "appended IVF index must cover the grown corpus")
  }

  test("PQ and IVF-PQ append-refresh freeze codebooks and encode only the delta") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    writeRows(dataDir, 30)
    val s0 = session(indexDir, Some("append"))
    assert(Similarity.persistPqIndex(s0, dataDir, indexDir) === Similarity.Rebuilt)
    assert(Similarity.persistIvfPqIndex(s0, dataDir, indexDir) === Similarity.Rebuilt)
    val booksPath = artifact(indexDir, "pq_[0-9a-f]+_books")
    val booksBefore = rowsOf(spark.read.parquet(booksPath).orderBy("subspace", "k"))

    writeRows(dataDir, 50)
    val s1 = session(indexDir, Some("append"))
    assert(Similarity.persistPqIndex(s1, dataDir, indexDir) === Similarity.Appended(20))
    assert(Similarity.persistIvfPqIndex(s1, dataDir, indexDir) === Similarity.Appended(20))

    val booksAfter = rowsOf(spark.read.parquet(booksPath).orderBy("subspace", "k"))
    assert(booksAfter === booksBefore, "append refresh must not retrain the PQ codebooks")
    val s2 = session(indexDir, None)
    assert(Similarity.buildPqIndex(s2, dataDir)._2.count() === 50L)
    assert(Similarity.buildIvfPqIndex(s2, dataDir)._3.count() === 50L)
  }

  test("append lands in the targeted index dir even when the table last pointed elsewhere") {
    // the catalog table name keys on the DATA dir only — persisting the
    // same data to two index dirs leaves the name pointing at whichever
    // was written last; a location-blind append would write into that one
    // and stamp the other's sidecar with rows it never received
    val dirA = Files.createTempDirectory("annidxA").toString
    val dirB = Files.createTempDirectory("annidxB").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    writeRows(dataDir, 30)
    assert(Similarity.persistLshIndex(session(dirA, Some("append")), dataDir, dirA) === Similarity.Rebuilt)
    assert(Similarity.persistLshIndex(session(dirB, Some("append")), dataDir, dirB) === Similarity.Rebuilt)

    writeRows(dataDir, 50)
    assert(Similarity.persistLshIndex(session(dirA, Some("append")), dataDir, dirA) === Similarity.Appended(20))
    assert(
      Similarity.buildLshIndex(session(dirA, None), dataDir).select("vec_id").distinct().count() === 50L,
      "index dir A must actually hold the appended rows"
    )

    // B's sidecar is honestly stale (it missed the append); its own
    // append-refresh then catches B up independently
    assert(Similarity.persistLshIndex(session(dirB, Some("append")), dataDir, dirB) === Similarity.Appended(20))
    assert(
      Similarity.buildLshIndex(session(dirB, None), dataDir).select("vec_id").distinct().count() === 50L
    )
  }

  test("compaction collapses append files to one set per bucket without changing results") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    writeRows(dataDir, 30)
    assert(Similarity.persistLshIndex(session(indexDir, Some("append")), dataDir, indexDir) === Similarity.Rebuilt)
    writeRows(dataDir, 50)
    assert(Similarity.persistLshIndex(session(indexDir, Some("append")), dataDir, indexDir) === Similarity.Appended(20))

    // parquet data files only (java.io also sees local-FS .crc shadows,
    // which Hadoop's listing — what compaction reasons over — hides)
    def lshFiles(): Seq[String] = {
      val dir = new java.io.File(indexDir).listFiles().filter(_.getName.matches("lsh_[0-9a-f]+")).head
      dir.listFiles().map(_.getName).filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq
    }
    val before = rowsOf(Similarity.q35LshTopK(session(indexDir, None), dataDir))
    val filesBefore = lshFiles().length
    assert(filesBefore > 16, s"rebuild + append should leave multi-file buckets ($filesBefore)")

    val s1 = session(indexDir, None)
    assert(Similarity.compactLshIndex(s1, dataDir, indexDir), "multi-file buckets must compact")
    val after = lshFiles()
    assert(after.length === 16, s"compaction must leave exactly one file per bucket: $after")
    assert(!Similarity.compactLshIndex(s1, dataDir, indexDir), "re-compaction must be a no-op")

    val s2 = session(indexDir, None)
    assert(rowsOf(Similarity.q35LshTopK(s2, dataDir)) === before, "compaction must not change results")
    assert(
      Similarity.persistLshIndex(s2, dataDir, indexDir) === Similarity.Current,
      "the compacted index must still read as current"
    )
  }

  test("a non-append change still forces a full rebuild under refresh=append") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    writeRows(dataDir, 30)
    assert(Similarity.persistLshIndex(session(indexDir, Some("append")), dataDir, indexDir) === Similarity.Rebuilt)

    writeRows(dataDir, 20) // shrink: rows disappeared, not an append
    val s1 = session(indexDir, Some("append"))
    assert(
      Similarity.persistLshIndex(s1, dataDir, indexDir) === Similarity.Rebuilt,
      "a shrunk corpus must rebuild, never append"
    )
    assert(Similarity.buildLshIndex(session(indexDir, None), dataDir).select("vec_id").distinct().count() === 20L)
  }

  test("rows arriving BELOW the indexed maxId violate the monotone contract and rebuild") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    val src = graft.core.Tables.embeddings(spark, sfDir)
    src
      .filter(col("vec_id") >= 10 && col("vec_id") < 40)
      .write
      .mode("overwrite")
      .parquet(s"$dataDir/embeddings.parquet")
    assert(Similarity.persistLshIndex(session(indexDir, Some("append")), dataDir, indexDir) === Similarity.Rebuilt)

    // a late file lands with ids 0..9 — below the indexed maxId (39): the
    // old-row count at vec_id <= 39 changes, so this is NOT an append
    src
      .filter(col("vec_id") < 10)
      .write
      .mode("append")
      .parquet(s"$dataDir/embeddings.parquet")
    assert(
      Similarity.persistLshIndex(session(indexDir, Some("append")), dataDir, indexDir) === Similarity.Rebuilt,
      "out-of-order ingest must rebuild, never append"
    )
    assert(Similarity.buildLshIndex(session(indexDir, None), dataDir).select("vec_id").distinct().count() === 40L)
  }
}
