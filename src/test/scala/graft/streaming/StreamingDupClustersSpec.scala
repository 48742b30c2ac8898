package graft.streaming

import graft.SparkSpec

/** The live dup-cluster maintainer: tick-by-tick equality with a
  * single-node exact clustering, bridge merges across ticks, and
  * redelivery safety.
  */
class StreamingDupClustersSpec extends SparkSpec {

  private val aToks = (1 to 10).map(i => s"a$i")
  private val bToks = (1 to 8).map(i => s"a$i") ++ Seq("b1", "b2") // j(A,B)=8/12 < 0.8
  private val cToks = (1 to 9).map(i => s"a$i") :+ "b1"            // j(C,A)=j(C,B)=9/11 >= 0.8
  private val dToks = (1 to 10).map(i => s"d$i")

  private def writeDocs(dataDir: String, mode: String, docs: Seq[(Long, Seq[String])]): Unit = {
    import spark.implicits._
    docs
      .map { case (id, toks) => (id, toks.mkString(" "), "en", "srcX", toks.mkString(" ").length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .mode(mode)
      .parquet(s"$dataDir/documents.parquet")
  }

  /** Single-node ground truth: exact same-lang token-jaccard >= 0.8 edges,
    * union-find components, min-id labels — what the maintained table must
    * equal after every tick.
    */
  private def exactClusters(docs: Seq[(Long, Seq[String])]): Map[Long, (Long, Long)] = {
    val sets = docs.map { case (id, toks) => id -> toks.toSet }.toMap
    val ids = docs.map(_._1)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (a <- ids; b <- ids if a < b) {
      val j = sets(a).intersect(sets(b)).size.toDouble / sets(a).union(sets(b)).size
      if (j >= 0.8) parent(math.max(find(a), find(b))) = math.min(find(a), find(b))
    }
    val byRoot = ids.groupBy(find)
    byRoot.values.filter(_.size > 1).flatMap { m =>
      val label = m.min
      m.map(id => id -> (label, m.size.toLong))
    }.toMap
  }

  private def readState(stateDir: String): Map[Long, (Long, Long)] =
    spark.read
      .parquet(s"$stateDir/labels/current")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  test("maintainer ticks: initial build, cross-tick bridge merge, redelivery no-op") {
    val dataDir = java.nio.file.Files.createTempDirectory("sdc_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("sdc_state").toString

    // tick 1: two dup clusters + a singleton land
    val oldDocs = Seq[(Long, Seq[String])](
      0L -> aToks, 1L -> aToks, 2L -> bToks, 3L -> bToks, 4L -> dToks
    )
    writeDocs(dataDir, "overwrite", oldDocs)
    StreamingDupClusters.tick(spark, dataDir, stateDir)
    assert(readState(stateDir) === exactClusters(oldDocs), "tick 1 must equal the exact rebuild")
    assert(readState(stateDir).keySet === Set(0L, 1L, 2L, 3L), "singleton must stay unlabeled")

    // tick 2: a bridge doc merges both clusters; an exact dup links the
    // old singleton — both across the tick boundary
    val newDocs = Seq[(Long, Seq[String])](8L -> cToks, 9L -> dToks)
    writeDocs(dataDir, "append", newDocs)
    StreamingDupClusters.tick(spark, dataDir, stateDir)
    val all = oldDocs ++ newDocs
    val got = readState(stateDir)
    assert(got === exactClusters(all), "tick 2 must equal the exact rebuild over old + delta")
    assert(got(8L) === ((0L, 5L)), "bridge doc must merge both old clusters under label 0")
    assert(got(4L) === ((4L, 2L)) && got(9L) === ((4L, 2L)), "old singleton must gain its 2-doc cluster")

    // redelivery: a direct tick with nothing new is a no-op
    assert(StreamingDupClusters.tick(spark, dataDir, stateDir) === 0L)
    assert(readState(stateDir) === got, "a redelivered/empty tick must not change the table")
  }

  test("crash window between label retire and promote: prev/ fallback keeps full pre-tick state") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("sdc_crash_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("sdc_crash_state").toString
    val labelsDir = s"$stateDir/labels/current"
    val oldDocs = Seq[(Long, Seq[String])](0L -> aToks, 1L -> aToks, 2L -> bToks, 3L -> bToks)
    writeDocs(dataDir, "overwrite", oldDocs)
    assert(StreamingDupClusters.tick(spark, dataDir, stateDir) === 4L)
    val before = readState(stateDir)

    // simulate the tick-2 crash exactly between retire (current -> .old)
    // and promote (.staging -> current): current is GONE, only .old survives
    Seq((8L, 8L, 1L)).toDF("doc_id", "cluster", "cluster_size").write.parquet(s"$labelsDir.staging")
    intercept[IllegalStateException](graft.core.StagedTable.promote(labelsDir, failAfterStep = 2))
    assert(!Files.exists(Paths.get(labelsDir)) && Files.exists(Paths.get(s"$labelsDir.old")))
    assert(
      StreamingDupClusters.readLabels(spark, stateDir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        before.view.mapValues(_._1).toMap,
      "readLabels must serve the retired .old copy during the crash window"
    )

    // the replayed tick (new docs landed meanwhile) must see full pre-tick
    // state through the fallback and converge to the exact rebuild
    val newDocs = Seq[(Long, Seq[String])](8L -> cToks)
    writeDocs(dataDir, "append", newDocs)
    assert(StreamingDupClusters.tick(spark, dataDir, stateDir) === 1L)
    assert(readState(stateDir) === exactClusters(oldDocs ++ newDocs),
      "replay after the crash window must not lose untouched clusters")
    assert(!Files.exists(Paths.get(s"$labelsDir.old")), "a clean tick retires .old")
  }

  test("double crash: every crash prefix of a REPLAYED label promote keeps a complete table") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val pre = Seq((0L, 0L, 2L), (1L, 0L, 2L))  // pre-tick table (prior crash left it in .old)
    val post = Seq((0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L)) // replayed tick's staged result
    def labels(stateDir: String): Set[(Long, Long)] =
      StreamingDupClusters.readLabels(spark, stateDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (failAt <- 0 to 5) {
      val stateDir = Files.createTempDirectory(s"sdc_dc$failAt").toString
      val labelsDir = s"$stateDir/labels/current"
      pre.toDF("doc_id", "cluster", "cluster_size").write.parquet(s"$labelsDir.old")
      post.toDF("doc_id", "cluster", "cluster_size").write.parquet(s"$labelsDir.staging")
      val crashed =
        try { graft.core.StagedTable.promote(labelsDir, failAt); false }
        catch { case _: IllegalStateException => true }
      val seen = labels(stateDir)
      assert(
        seen === pre.map(t => (t._1, t._2)).toSet || seen === post.map(t => (t._1, t._2)).toSet,
        s"failAt=$failAt: crash prefix must leave the complete pre- or post-tick table, got $seen"
      )
      if (crashed) { // the next replay re-stages and promotes cleanly
        graft.core.StagedTable.commit(post.toDF("doc_id", "cluster", "cluster_size"), labelsDir)
      }
      assert(labels(stateDir) === post.map(t => (t._1, t._2)).toSet, s"failAt=$failAt: replay must converge")
      assert(!Files.exists(Paths.get(s"$labelsDir.old")), s"failAt=$failAt: clean promote retires .old")
    }
  }

  test("a maintainer tick invalidates batch caches over the same dir: q101 sees the post-append corpus") {
    val dataDir = java.nio.file.Files.createTempDirectory("sdc_inv_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("sdc_inv_state").toString
    val oldDocs = Seq[(Long, Seq[String])](0L -> aToks, 1L -> aToks)
    writeDocs(dataDir, "overwrite", oldDocs)

    // batch query first: populates the (session, dir) signature/edge caches
    def q101Ids(): Set[Long] =
      graft.operators.Dedup.q101LshDupClusters(spark, dataDir).collect().map(_.getLong(0)).toSet
    assert(q101Ids() === Set(0L, 1L))

    // new exact dups land and a maintainer tick processes them — the batch
    // path must now rebuild from the grown corpus, not serve the cached
    // pre-append frames
    writeDocs(dataDir, "append", Seq[(Long, Seq[String])](2L -> dToks, 3L -> dToks))
    // fresh state dir: the first tick drains ALL 4 docs (watermark unset)
    assert(StreamingDupClusters.tick(spark, dataDir, stateDir) === 4L)
    assert(q101Ids() === Set(0L, 1L, 2L, 3L), "post-tick batch q101 must include the landed dup pair")
  }

  test("slice compaction mid-stream: ticks stay exact across folds of toks/buckets state") {
    val dataDir = java.nio.file.Files.createTempDirectory("sdc_cpt_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("sdc_cpt_state").toString
    spark.conf.set("graft.stream.compactSlices", "2")
    try {
      // 4 ticks: folds trigger after ticks 2 and 4; cross-tick merges must
      // still see pre-fold docs' signatures through the compacted base
      val batches = Seq(
        Seq[(Long, Seq[String])](0L -> aToks, 1L -> bToks),
        Seq[(Long, Seq[String])](2L -> aToks),          // merges with 0 (old-new, pre-fold)
        Seq[(Long, Seq[String])](3L -> dToks),
        Seq[(Long, Seq[String])](4L -> cToks, 5L -> dToks) // 4 bridges 0/1/2; 5 pairs with 3 via base
      )
      var landed = Vector.empty[(Long, Seq[String])]
      for ((batch, i) <- batches.zipWithIndex) {
        writeDocs(dataDir, if (i == 0) "overwrite" else "append", batch)
        landed ++= batch
        assert(StreamingDupClusters.tick(spark, dataDir, stateDir) === batch.size.toLong)
        assert(readState(stateDir) === exactClusters(landed), s"tick ${i + 1} diverged after compaction")
      }
      import java.nio.file.{Files, Paths}
      assert(Files.isDirectory(Paths.get(s"$stateDir/toks/base")), "toks slices must have folded")
      assert(Files.isDirectory(Paths.get(s"$stateDir/buckets/base")), "bucket slices must have folded")
    } finally spark.conf.unset("graft.stream.compactSlices")
  }

  test("randomized ingest sequence: maintained table equals the exact rebuild after every tick") {
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 12).map(i => s"w$i")
    val dataDir = java.nio.file.Files.createTempDirectory("sdc_rand_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("sdc_rand_state").toString

    var landed = Vector.empty[(Long, Seq[String])]
    var nextId = 0L
    for (tick <- 1 to 4) {
      // each tick lands 5-9 docs: random small-vocab subsets (chance
      // near-dups within AND across ticks) plus one perturbation of an
      // already-landed doc when there is one
      val fresh = (0 until (5 + rnd.nextInt(5))).map { _ =>
        val k = 5 + rnd.nextInt(6)
        val toks =
          if (landed.nonEmpty && rnd.nextInt(3) == 0) {
            val src = landed(rnd.nextInt(landed.size))._2
            if (src.size > 5) src.drop(1) else src
          } else rnd.shuffle(vocab).take(k)
        val d = nextId -> toks
        nextId += 1
        d
      }
      writeDocs(dataDir, if (tick == 1) "overwrite" else "append", fresh)
      landed ++= fresh

      val n = StreamingDupClusters.tick(spark, dataDir, stateDir)
      assert(n === fresh.size.toLong, s"tick $tick delta count")
      assert(readState(stateDir) === exactClusters(landed), s"tick $tick diverged from the exact rebuild")
    }
    info(s"4 random ticks, ${landed.size} docs, ${exactClusters(landed).values.map(_._1).toSet.size} clusters — all equal")
  }

  test("state-format guard: a pre-sz (format-1) state dir refuses to tick; current format round-trips") {
    import java.nio.file.{Files, Paths}
    val dataDir = java.nio.file.Files.createTempDirectory("sdc_fmt_data").toString
    val stateDir = java.nio.file.Files.createTempDirectory("sdc_fmt_state").toString
    val docs = Seq[(Long, Seq[String])](0L -> aToks, 1L -> aToks)
    writeDocs(dataDir, "overwrite", docs)

    // a format-1 sidecar (no "format" field — the pre-sz slice schema):
    // ticking over it would silently null-prune candidates, so it must throw
    Files.writeString(Paths.get(stateDir, "state.json"), """{"max_doc_id": -1}""")
    val e = intercept[IllegalArgumentException](StreamingDupClusters.tick(spark, dataDir, stateDir))
    assert(e.getMessage.contains("format"), "the refusal must name the format mismatch")

    // a fresh dir ticks fine and stamps the current format; re-ticking over
    // the stamped sidecar passes the guard
    val stateDir2 = java.nio.file.Files.createTempDirectory("sdc_fmt_state2").toString
    assert(StreamingDupClusters.tick(spark, dataDir, stateDir2) === 2L)
    assert(Files.readString(Paths.get(stateDir2, "state.json")).contains("\"format\": 2"))
    assert(StreamingDupClusters.tick(spark, dataDir, stateDir2) === 0L)
  }
}
