package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The ANN index persistence path end-to-end: persist → truly-cold session
  * read-back (sidecar parse + CREATE TABLE re-registration over existing
  * files), idempotent re-persist, and stale-data detection via the sidecar
  * fingerprint. This is the round-trip the 100 TB design depends on — an
  * index that silently serves stale candidates or breaks on refresh is
  * worse than no index. (Reference analog: the warehouse round-trip tests,
  * `/root/reference/tests/test_client_report_etl.py:38-153`.)
  */
class SimilarityPersistSpec extends SparkSpec {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** A fresh session with the index-dir conf set — simulates a cold JVM as
    * far as the session-scoped caches and function registry go (the
    * external catalog is shared, so tests drop tables to force the
    * truly-cold DDL path).
    */
  private def coldSession(indexDir: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Similarity.IndexDirConf, indexDir)
    s
  }

  test("persist + cold-session read-back serves identical q35/q36 results") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val baselineLsh = rowsOf(Similarity.q35LshTopK(spark, sfDir))
    val baselineIvf = rowsOf(Similarity.q36IvfTopK(spark, sfDir))

    assert(Similarity.persistLshIndex(spark, sfDir, indexDir).wrote, "first LSH persist should write")
    assert(Similarity.persistIvfIndex(spark, sfDir, indexDir).wrote, "first IVF persist should write")

    // force the truly-cold path: no catalog entry, so the reader must
    // rebuild table metadata from the sidecar + parquet footers
    spark.sql(s"DROP TABLE IF EXISTS `${Similarity.lshTable(sfDir, Similarity.Fast)}`")
    spark.sql(s"DROP TABLE IF EXISTS `${Similarity.ivfTable(sfDir, Similarity.Fast)}`")

    val s2 = coldSession(indexDir)
    val coldLsh = rowsOf(Similarity.q35LshTopK(s2, sfDir))
    val coldIvf = rowsOf(Similarity.q36IvfTopK(s2, sfDir))
    assert(coldLsh === baselineLsh, "cold-session LSH results differ from freshly built")
    assert(coldIvf === baselineIvf, "cold-session IVF results differ from freshly built")
    // proof the cold session READ the index rather than rebuilding: the
    // resolve path re-registered the catalog tables
    assert(s2.catalog.tableExists(Similarity.lshTable(sfDir, Similarity.Fast)), "LSH table not re-registered")
    assert(s2.catalog.tableExists(Similarity.ivfTable(sfDir, Similarity.Fast)), "IVF table not re-registered")
  }

  test("profiles persist to distinct artifacts; neither serves the other's buckets") {
    val indexDir = Files.createTempDirectory("annidx").toString
    assert(Similarity.persistLshIndex(spark, sfDir, indexDir).wrote, "fast persist writes")

    // a quality-profile session must NOT be satisfied by the fast artifact:
    // its persist call writes its own table under the suffixed path
    val sq = coldSession(indexDir)
    sq.conf.set(Similarity.ProfileConf, "quality")
    val baselineQ = rowsOf(Similarity.q35LshTopK(sq, sfDir))
    assert(Similarity.persistLshIndex(sq, sfDir, indexDir).wrote, "quality persist must write its own artifact")
    assert(
      Similarity.lshTable(sfDir, Similarity.Quality) !== Similarity.lshTable(sfDir, Similarity.Fast),
      "profile tables must not collide"
    )
    // fast artifact untouched by the quality write: re-persist is still a no-op
    assert(!Similarity.persistLshIndex(spark, sfDir, indexDir).wrote, "fast artifact must remain current")

    // a truly-cold quality session serves the persisted quality index and
    // reproduces the freshly-built results
    sq.sql(s"DROP TABLE IF EXISTS `${Similarity.lshTable(sfDir, Similarity.Quality)}`")
    val sq2 = coldSession(indexDir)
    sq2.conf.set(Similarity.ProfileConf, "quality")
    assert(rowsOf(Similarity.q35LshTopK(sq2, sfDir)) === baselineQ, "cold quality session diverged")
    assert(
      sq2.catalog.tableExists(Similarity.lshTable(sfDir, Similarity.Quality)),
      "quality table not re-registered"
    )
    // and a cold FAST session still reads the fast artifact, not quality's
    spark.sql(s"DROP TABLE IF EXISTS `${Similarity.lshTable(sfDir, Similarity.Fast)}`")
    val sf = coldSession(indexDir)
    Similarity.q35LshTopK(sf, sfDir).collect()
    assert(sf.catalog.tableExists(Similarity.lshTable(sfDir, Similarity.Fast)))
  }

  test("LSH index layout: the persisted (fast, quality) and session indexes are postings without vectors") {
    val postings = Seq("b", "cbs", "t", "vec_id")
    assert(Similarity.buildLshIndex(spark.newSession(), sfDir).columns.toSeq.sorted === postings, "session index")
    val indexDir = Files.createTempDirectory("annidx").toString
    for (prof <- Seq(Similarity.Fast, Similarity.Quality)) {
      val s = coldSession(indexDir)
      s.conf.set(Similarity.ProfileConf, prof.name)
      assert(Similarity.persistLshIndex(s, sfDir, indexDir).wrote, s"${prof.name} persist should write")
      val path = s"$indexDir/lsh_${Similarity.indexKey(sfDir)}${prof.fnSuffix}"
      assert(spark.read.parquet(path).columns.toSeq.sorted === postings, s"${prof.name} persisted table")
      val served = coldSession(indexDir)
      served.conf.set(Similarity.ProfileConf, prof.name)
      assert(Similarity.buildLshIndex(served, sfDir).columns.toSeq.sorted === postings, s"${prof.name} served index")
    }
  }

  test("re-persist over a current index is an idempotent no-op") {
    val indexDir = Files.createTempDirectory("annidx").toString
    assert(Similarity.persistLshIndex(spark, sfDir, indexDir).wrote)
    assert(Similarity.persistIvfIndex(spark, sfDir, indexDir).wrote)

    // a session actively READING the persisted index (the round-6 failure
    // mode: build resolved via the table, then persist overwrote it)
    val reader = coldSession(indexDir)
    val before = rowsOf(Similarity.q35LshTopK(reader, sfDir))

    assert(!Similarity.persistLshIndex(reader, sfDir, indexDir).wrote, "re-persist must be a no-op")
    assert(!Similarity.persistIvfIndex(reader, sfDir, indexDir).wrote, "re-persist must be a no-op")
    assert(rowsOf(Similarity.q35LshTopK(reader, sfDir)) === before)
  }

  test("stale persisted index is detected, rebuilt fresh, and re-persistable") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    val src = graft.core.Tables.embeddings(spark, sfDir)

    // v1 data: 30 vectors → persist
    src.filter(col("vec_id") < 30).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    assert(Similarity.persistLshIndex(spark, dataDir, indexDir).wrote)

    val s1 = coldSession(indexDir)
    val idx1 = Similarity.buildLshIndex(s1, dataDir)
    assert(s1.catalog.tableExists(Similarity.lshTable(dataDir, Similarity.Fast)), "v1 index should serve from table")
    assert(idx1.select("vec_id").distinct().count() === 30L)

    // data regenerated in place: 50 vectors — the sidecar fingerprint
    // (rows + max vec_id) no longer matches
    src.filter(col("vec_id") < 50).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")

    val s2 = coldSession(indexDir)
    val idx2 = Similarity.buildLshIndex(s2, dataDir)
    assert(
      idx2.select("vec_id").distinct().count() === 50L,
      "stale persisted index served after data regeneration"
    )

    // persist sees the mismatch, rewrites, and a later cold session reads v2
    assert(Similarity.persistLshIndex(s2, dataDir, indexDir).wrote, "stale persist must rewrite")
    val s3 = coldSession(indexDir)
    val idx3 = Similarity.buildLshIndex(s3, dataDir)
    assert(s3.catalog.tableExists(Similarity.lshTable(dataDir, Similarity.Fast)))
    assert(idx3.select("vec_id").distinct().count() === 50L)
  }

  private def deepEq(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    java.util.Arrays.deepEquals(a.asInstanceOf[Array[AnyRef]], b.asInstanceOf[Array[AnyRef]])

  private def booksEq(a: Array[Array[Array[Double]]], b: Array[Array[Array[Double]]]): Boolean =
    a.length == b.length && a.indices.forall(j => deepEq(a(j), b(j)))

  test("persist + cold-session read-back serves identical q75 results") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val baseline = rowsOf(Similarity.q75PqTopK(spark, sfDir))
    val (booksBuilt, _) = Similarity.buildPqIndex(spark, sfDir)

    assert(Similarity.persistPqIndex(spark, sfDir, indexDir).wrote, "first PQ persist should write")
    assert(!Similarity.persistPqIndex(spark, sfDir, indexDir).wrote, "re-persist must be a no-op")

    spark.sql(s"DROP TABLE IF EXISTS `${Similarity.pqTable(sfDir)}`")
    val s2 = coldSession(indexDir)
    val cold = rowsOf(Similarity.q75PqTopK(s2, sfDir))
    assert(cold === baseline, "cold-session PQ results differ from freshly built")
    assert(s2.catalog.tableExists(Similarity.pqTable(sfDir)), "PQ table not re-registered")
    // the persisted codebooks round-trip the trained quantizer exactly —
    // a drifted book would silently mis-decode every persisted code
    val (booksCold, _) = Similarity.buildPqIndex(s2, sfDir)
    assert(booksEq(booksCold, booksBuilt), "persisted codebooks differ from the trained ones")
  }

  test("persist + cold-session read-back serves identical q76 results (cluster-bucketed)") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val baseline = rowsOf(Similarity.q76IvfPqTopK(spark, sfDir))

    assert(Similarity.persistIvfPqIndex(spark, sfDir, indexDir).wrote, "first IVF-PQ persist should write")
    assert(!Similarity.persistIvfPqIndex(spark, sfDir, indexDir).wrote, "re-persist must be a no-op")

    spark.sql(s"DROP TABLE IF EXISTS `${Similarity.ivfPqTable(sfDir)}`")
    val s2 = coldSession(indexDir)
    assert(rowsOf(Similarity.q76IvfPqTopK(s2, sfDir)) === baseline, "cold-session IVF-PQ differs")
    assert(s2.catalog.tableExists(Similarity.ivfPqTable(sfDir)), "IVF-PQ table not re-registered")
  }

  test("stale persisted IVF-PQ index is detected, rebuilt, and re-persistable") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    val src = graft.core.Tables.embeddings(spark, sfDir)

    src.filter(col("vec_id") < 30).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    assert(Similarity.persistIvfPqIndex(spark, dataDir, indexDir).wrote)

    val s1 = coldSession(indexDir)
    val (_, _, idx1) = Similarity.buildIvfPqIndex(s1, dataDir)
    assert(s1.catalog.tableExists(Similarity.ivfPqTable(dataDir)))
    assert(idx1.count() === 30L)

    src.filter(col("vec_id") < 50).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    val s2 = coldSession(indexDir)
    val (_, _, idx2) = Similarity.buildIvfPqIndex(s2, dataDir)
    assert(idx2.count() === 50L, "stale persisted IVF-PQ index served after data regeneration")

    assert(Similarity.persistIvfPqIndex(s2, dataDir, indexDir).wrote, "stale persist must rewrite")
    val s3 = coldSession(indexDir)
    val (_, _, idx3) = Similarity.buildIvfPqIndex(s3, dataDir)
    assert(s3.catalog.tableExists(Similarity.ivfPqTable(dataDir)))
    assert(idx3.count() === 50L)
  }

  test("stale persisted PQ index is detected, rebuilt with fresh books, and re-persistable") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    val src = graft.core.Tables.embeddings(spark, sfDir)

    src.filter(col("vec_id") < 30).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    assert(Similarity.persistPqIndex(spark, dataDir, indexDir).wrote)

    val s1 = coldSession(indexDir)
    val (books1, codes1) = Similarity.buildPqIndex(s1, dataDir)
    assert(s1.catalog.tableExists(Similarity.pqTable(dataDir)), "v1 index should serve from table")
    assert(codes1.count() === 30L)

    // data regenerated in place — fingerprint mismatch bypasses the
    // persisted codes AND the persisted books
    src.filter(col("vec_id") < 50).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")

    val s2 = coldSession(indexDir)
    val (books2, codes2) = Similarity.buildPqIndex(s2, dataDir)
    assert(codes2.count() === 50L, "stale persisted PQ index served after data regeneration")
    assert(!booksEq(books1, books2), "rebuild must retrain the codebooks on the v2 data")

    assert(Similarity.persistPqIndex(s2, dataDir, indexDir).wrote, "stale persist must rewrite")
    val s3 = coldSession(indexDir)
    val (books3, codes3) = Similarity.buildPqIndex(s3, dataDir)
    assert(s3.catalog.tableExists(Similarity.pqTable(dataDir)))
    assert(codes3.count() === 50L)
    assert(booksEq(books3, books2), "persisted books must round-trip the v2 quantizer exactly")
  }

  test("stale persisted IVF index is detected, rebuilt with fresh centroids, and re-persistable") {
    val indexDir = Files.createTempDirectory("annidx").toString
    val dataDir = Files.createTempDirectory("anndata").toString
    val src = graft.core.Tables.embeddings(spark, sfDir)

    // v1 data: 30 vectors → persist (corpus table + centroid sidecar table)
    src.filter(col("vec_id") < 30).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    assert(Similarity.persistIvfIndex(spark, dataDir, indexDir).wrote)

    val s1 = coldSession(indexDir)
    val (cents1, idx1) = Similarity.buildIvfIndex(s1, dataDir)
    assert(s1.catalog.tableExists(Similarity.ivfTable(dataDir, Similarity.Fast)), "v1 index should serve from table")
    assert(idx1.select("vec_id").distinct().count() === 30L)

    // data regenerated in place: 50 vectors — the sidecar fingerprint
    // (rows + max vec_id) no longer matches, so the persisted index AND its
    // persisted centroids must both be bypassed
    src.filter(col("vec_id") < 50).write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")

    val s2 = coldSession(indexDir)
    val (cents2, idx2) = Similarity.buildIvfIndex(s2, dataDir)
    assert(
      idx2.select("vec_id").distinct().count() === 50L,
      "stale persisted IVF index served after data regeneration"
    )
    assert(!deepEq(cents1, cents2), "rebuild must retrain the quantizer on the v2 data")

    // persist sees the mismatch and rewrites both artifacts; a later cold
    // session serves v2 from the table, with the centroid parquet
    // round-tripping the exact quantizer the rebuild trained
    assert(Similarity.persistIvfIndex(s2, dataDir, indexDir).wrote, "stale persist must rewrite")
    val s3 = coldSession(indexDir)
    val (cents3, idx3) = Similarity.buildIvfIndex(s3, dataDir)
    assert(s3.catalog.tableExists(Similarity.ivfTable(dataDir, Similarity.Fast)))
    assert(
      idx3.queryExecution.analyzed.toString.contains(Similarity.ivfTable(dataDir, Similarity.Fast)),
      "v2 build should serve from the persisted table, not recompute"
    )
    assert(idx3.select("vec_id").distinct().count() === 50L)
    assert(deepEq(cents3, cents2), "persisted centroids must round-trip the v2 quantizer exactly")
  }
}
