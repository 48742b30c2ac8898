package graft.streaming

import graft.SparkSpec
import graft.operators.Curation

/** The live span-dedup maintainer: tick-by-tick equality with the batch
  * q110 rebuild, retroactive flips of old docs, and redelivery safety.
  */
class StreamingSpanDedupSpec extends SparkSpec {

  private def writeDocs(dataDir: String, mode: String, docs: Seq[(Long, Seq[String])]): Unit = {
    import spark.implicits._
    docs
      .map { case (id, toks) => (id, toks.mkString(" "), "en", "srcX", toks.mkString(" ").length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode(mode)
      .parquet(s"$dataDir/documents.parquet")
  }

  private def snap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long, Long, Double)] =
    df.collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_spans"), r.getAs[Long]("dup_tokens"),
            r.getAs[Long]("longest_span"), r.getAs[Double]("dup_frac")))
      )
      .toMap

  test("maintainer ticks: initial build, retroactive flip of an old doc, redelivery no-op") {
    val dataDir = java.nio.file.Files.createTempDirectory("ssd_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("ssd_state").toString

    // tick 1: one unique 40-token doc, one periodic self-repeat (dup from
    // its own windows — no cross-doc help needed)
    val u = (1 to 40).map(i => s"u$i")
    val selfRep = Seq.fill(3)((1 to 8).map(i => s"rep$i")).flatten
    writeDocs(dataDir, "overwrite", Seq(0L -> u, 1L -> selfRep))
    StreamingSpanDedup.tick(spark, dataDir, stateDir)
    val t1 = snap(StreamingSpanDedup.readStats(spark, stateDir))
    assert(t1 === snap(Curation.q110SpanDedup(spark, dataDir)), "tick 1 must equal the batch rebuild")
    assert(t1(0L) === ((40L, 0L, 0L, 0L, 0.0)), "unique doc starts clean")
    assert(t1(1L) === ((24L, 1L, 24L, 24L, 1.0)), "self-repeat is dup on arrival")

    // tick 2: a verbatim copy of doc 0 lands — doc 0's stats must flip
    // RETROACTIVELY (its keys cross the >=2 threshold now), plus one clean doc
    writeDocs(dataDir, "append", Seq(2L -> u, 3L -> (1 to 20).map(i => s"v$i")))
    val (n2, affected2) = StreamingSpanDedup.tick(spark, dataDir, stateDir)
    assert(n2 === 2L && affected2 === 1L, s"tick 2 delta/affected ($n2, $affected2)")
    val t2 = snap(StreamingSpanDedup.readStats(spark, stateDir))
    assert(t2 === snap(Curation.q110SpanDedup(spark, dataDir)), "tick 2 must equal the batch rebuild")
    assert(t2(0L) === ((40L, 1L, 40L, 40L, 1.0)), "old doc must flip to fully-duplicated")
    assert(t2(2L) === ((40L, 1L, 40L, 40L, 1.0)), "the landing copy reports too")
    assert(t2(3L) === ((20L, 0L, 0L, 0L, 0.0)), "unrelated landing doc stays clean")

    // redelivery: a direct tick with nothing new is a no-op
    assert(StreamingSpanDedup.tick(spark, dataDir, stateDir) === ((0L, 0L)))
    assert(snap(StreamingSpanDedup.readStats(spark, stateDir)) === t2, "empty tick must not change the table")
  }

  test("slice compaction mid-stream: retroactive flips still see pre-fold grams through the base") {
    val dataDir = java.nio.file.Files.createTempDirectory("ssd_cpt_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("ssd_cpt_state").toString
    spark.conf.set("graft.stream.compactSlices", "2")
    try {
      val u = (1 to 40).map(i => s"u$i")
      // ticks 1-2 land unique docs, fold after tick 2; tick 3's copy of the
      // TICK-1 doc must flip it retroactively via the compacted base
      writeDocs(dataDir, "overwrite", Seq(0L -> u))
      assert(StreamingSpanDedup.tick(spark, dataDir, stateDir)._1 === 1L)
      writeDocs(dataDir, "append", Seq(1L -> (1 to 20).map(i => s"v$i")))
      assert(StreamingSpanDedup.tick(spark, dataDir, stateDir)._1 === 1L)
      import java.nio.file.{Files, Paths}
      assert(Files.isDirectory(Paths.get(s"$stateDir/grams/base")), "gram slices must have folded")
      writeDocs(dataDir, "append", Seq(2L -> u))
      val (n3, affected3) = StreamingSpanDedup.tick(spark, dataDir, stateDir)
      assert(n3 === 1L && affected3 === 1L, s"post-fold tick delta/affected ($n3, $affected3)")
      assert(
        snap(StreamingSpanDedup.readStats(spark, stateDir)) === snap(Curation.q110SpanDedup(spark, dataDir)),
        "post-fold tick must equal the batch rebuild"
      )
    } finally spark.conf.unset("graft.stream.compactSlices")
  }

  test("crash window between StateStore's two renames: .old fallback keeps pre-tick stats") {
    import java.nio.file.{Files, Paths}
    val dataDir = java.nio.file.Files.createTempDirectory("ssd_crash_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("ssd_crash_state").toString
    val u = (1 to 40).map(i => s"c$i")
    writeDocs(dataDir, "overwrite", Seq(0L -> u, 1L -> (1 to 20).map(i => s"d$i")))
    assert(StreamingSpanDedup.tick(spark, dataDir, stateDir)._1 === 2L)
    val before = snap(StreamingSpanDedup.readStats(spark, stateDir))

    // simulate a crash exactly between commit's retire (stats -> stats.old)
    // and promote (stats.staging -> stats): stats is GONE, only .old remains
    Files.move(Paths.get(stateDir, "stats"), Paths.get(stateDir, "stats.old"))
    assert(
      snap(StreamingSpanDedup.readStats(spark, stateDir)) === before,
      "readStats must serve the retired .old copy during the crash window"
    )

    // the replayed tick (new docs landed meanwhile, incl. a copy of doc 0)
    // must see full pre-tick state through the fallback and converge
    writeDocs(dataDir, "append", Seq(2L -> u))
    val (n, affected) = StreamingSpanDedup.tick(spark, dataDir, stateDir)
    assert(n === 1L && affected === 1L, s"replay delta/affected ($n, $affected)")
    assert(
      snap(StreamingSpanDedup.readStats(spark, stateDir)) === snap(Curation.q110SpanDedup(spark, dataDir)),
      "replay after the crash window must converge to the batch rebuild"
    )
    assert(!Files.exists(Paths.get(stateDir, "stats.old")), "a clean tick clears .old")
  }

  test("real corpus at sf0.001: a cold first tick equals the batch q110 exactly") {
    // the synthetic waves above exercise the logic; this run exercises the
    // real corpus shapes (500 docs, genuine cross-doc span duplication —
    // 41 docs carry qualifying spans at sf0.001)
    val stateDir = java.nio.file.Files.createTempDirectory("ssd_sf_state").toString
    val (n, affected) = StreamingSpanDedup.tick(spark, sfDir, stateDir)
    assert(n === 500L && affected === 0L, s"cold tick ($n, $affected)")
    assert(
      snap(StreamingSpanDedup.readStats(spark, stateDir)) === snap(Curation.q110SpanDedup(spark, sfDir)),
      "cold tick over the real corpus must equal the batch rebuild"
    )
  }

  test("randomized ingest sequence: maintained table equals the batch rebuild after every tick") {
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 30).map(i => s"w$i")
    val dataDir = java.nio.file.Files.createTempDirectory("ssd_rand_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("ssd_rand_state").toString

    var landed = Vector.empty[(Long, Seq[String])]
    var nextId = 0L
    for (tick <- 1 to 4) {
      // each tick lands 4-7 docs: random token streams plus, with chance
      // 1/3, a contiguous >=16-token window lifted from an already-landed
      // doc (a guaranteed qualifying span, often retroactive)
      val fresh = (0 until (4 + rnd.nextInt(4))).map { _ =>
        val toks =
          if (landed.nonEmpty && rnd.nextInt(3) == 0) {
            val src = landed(rnd.nextInt(landed.size))._2
            val w = math.min(src.size, 16 + rnd.nextInt(8))
            val start = rnd.nextInt(math.max(1, src.size - w + 1))
            val prefix = (0 until rnd.nextInt(4)).map(j => s"p${nextId}_$j")
            prefix ++ src.slice(start, start + w)
          } else (0 until (10 + rnd.nextInt(21))).map(_ => vocab(rnd.nextInt(vocab.size)))
        val d = nextId -> toks
        nextId += 1
        d
      }
      writeDocs(dataDir, if (tick == 1) "overwrite" else "append", fresh)
      landed ++= fresh

      val (n, affected) = StreamingSpanDedup.tick(spark, dataDir, stateDir)
      assert(n === fresh.size.toLong, s"tick $tick delta count")
      assert(
        snap(StreamingSpanDedup.readStats(spark, stateDir)) === snap(Curation.q110SpanDedup(spark, dataDir)),
        s"tick $tick diverged from the batch rebuild"
      )
      info(s"tick $tick: ${fresh.size} landed, $affected retroactively recomputed")
    }
  }
}
