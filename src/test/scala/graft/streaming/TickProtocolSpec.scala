package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The shared tick protocol ([[SliceMaintainer.run]]) under crashes and
  * old state layouts, for every document maintainer [[graft.tools.IngestTick]]
  * runs: a tick replayed from a rolled-back sidecar converges to the
  * uncrashed state, and a sidecar or layout it cannot trust fails the tick
  * loudly instead of reading as empty state.
  */
class TickProtocolSpec extends SparkSpec {

  private final case class Family(name: String, format: Int, tick: (String, String) => Any)

  private val families = Seq(
    Family("corpus", 1, (d, s) => StreamingCorpus.tick(spark, s"$d/documents.parquet", s)),
    Family("clusters", StreamingDupClusters.StateFormat, StreamingDupClusters.tick(spark, _, _)),
    Family("spans", 1, StreamingSpanDedup.tick(spark, _, _)),
    Family("drift", 1, StreamingDriftWatch.tick(spark, _, _)),
    Family("sketch", 1, StreamingSourceSketch.tick(spark, _, _)),
    Family("winnow", 1, StreamingWinnow.tick(spark, _, _)),
    Family("sample", 1, StreamingSample.tick(spark, _, _)),
    Family("bloom", 1, StreamingBloomScreen.tick(spark, _, _)),
    Family("pack", 1, StreamingPack.tick(spark, _, _)),
    Family("media", 1, StreamingMediaFps.tick(spark, _, _))
  )

  /** Two data dirs over the real sf0.001 corpus: its first half of doc ids,
    * and all of it — consecutive ingest drops.
    */
  private lazy val (firstHalf, full) = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val mid = docs.agg(org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    val first = Files.createTempDirectory("tp_first").toString
    val all = Files.createTempDirectory("tp_full").toString
    docs.filter(col("doc_id") <= mid).write.parquet(s"$first/documents.parquet")
    docs.write.parquet(s"$all/documents.parquet")
    (first, all)
  }

  private def canon(v: Any): String = v match {
    case b: Array[Byte] => b.mkString("0x[", ",", "]")
    case v              => String.valueOf(v)
  }

  /** Every parquet table under `stateDir` as a sorted row multiset, plus
    * the sidecar — the full persisted state.
    */
  private def stateOf(stateDir: String): Map[String, Seq[String]] = {
    val root = Paths.get(stateDir)
    val walk = Files.walk(root)
    val tables =
      try
        walk.iterator().asScala.toSeq.filter { d =>
          Files.isDirectory(d) && !d.toString.contains("checkpoint") && {
            val ls = Files.list(d)
            try ls.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
            finally ls.close()
          }
        }
      finally walk.close()
    tables.map { d =>
      root.relativize(d).toString ->
        spark.read.parquet(d.toString).collect().map(_.toSeq.map(canon).mkString("|")).toSeq.sorted
    }.toMap + ("state.json" -> Seq(Files.readString(root.resolve("state.json"))))
  }

  private def sidecar(stateDir: String): Path = Paths.get(stateDir, "state.json")

  private def failsNaming(f: Family, stateDir: String, file: Path): Unit = {
    val e = intercept[IllegalStateException](f.tick(full, stateDir))
    assert(e.getMessage.contains(file.toString), s"${f.name}: the error must name $file: ${e.getMessage}")
  }

  for (f <- families) {
    test(s"${f.name}: a tick replayed from a rolled-back sidecar converges to the uncrashed state") {
      val stateDir = Files.createTempDirectory(s"tp_${f.name}").toString
      f.tick(firstHalf, stateDir)
      val afterFirst = Files.readString(sidecar(stateDir))
      f.tick(full, stateDir)
      val uncrashed = stateOf(stateDir)

      // a crash after the tick committed its tables but before the sidecar
      // write leaves the previous sidecar: the replay re-derives the same
      // delta and must overwrite, never double-apply
      Files.writeString(sidecar(stateDir), afterFirst)
      f.tick(full, stateDir)
      assert(stateOf(stateDir) === uncrashed, s"${f.name}: the replayed tick diverged from the uncrashed state")
    }

    test(s"${f.name}: a sidecar without max_doc_id fails the tick loudly") {
      val stateDir = Files.createTempDirectory(s"tp_${f.name}_torn").toString
      Files.writeString(sidecar(stateDir), s"""{"format": ${f.format}}""")
      failsNaming(f, stateDir, sidecar(stateDir))
    }

    test(s"${f.name}: old-build state layouts fail the tick loudly") {
      val plain = Files.createTempDirectory(s"tp_${f.name}_plain").toString
      Files.writeString(Paths.get(plain, "watermark"), "41")
      failsNaming(f, plain, Paths.get(plain, "watermark"))

      if (f.name == "clusters") {
        // the crash-window copy of the old build's label swap
        import spark.implicits._
        val prev = Files.createTempDirectory("tp_clusters_prev").toString
        Seq((0L, 0L, 2L)).toDF("doc_id", "cluster", "cluster_size").write.parquet(s"$prev/labels/prev")
        failsNaming(f, prev, Paths.get(prev, "labels", "prev"))
      }
    }
  }

  test("scd2: the old plain-text <history>.watermark sidecar fails the tick loudly") {
    import spark.implicits._
    val land = Files.createTempDirectory("tp_scd2_land").toString
    val hist = Files.createTempDirectory("tp_scd2_hist").resolve("history").toString
    Seq((1L, "click", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 0L))
      .toDF("user_id", "event_type", "ts", "event_id")
      .write
      .mode("append")
      .parquet(land)
    Files.writeString(Paths.get(s"$hist.watermark"), "0")
    val e = intercept[IllegalStateException](StreamingScd2.tick(spark, land, hist))
    assert(e.getMessage.contains(s"$hist.watermark"))
    assert(!Files.exists(Paths.get(hist)), "a refused tick must write no history")
  }
}
