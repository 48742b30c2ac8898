package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Randomized equivalence: for arbitrary corpora and arbitrary watermark
  * split points, the incremental delta apply must reproduce the full
  * rebuild EXACTLY — the q108 contract, exercised far beyond the planted
  * cases (random cluster shapes, random bridges, random singleton links,
  * deltas that are empty, everything, or anywhere in between).
  */
class IncrementalClustersPropSpec extends SparkSpec {

  test("random corpora x random split points: clustersApply == clustersFrom rebuild") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 12).map(i => s"w$i")

    for (trial <- 1 to 3) {
      // 24 docs over a small vocabulary: random subsets collide into
      // jaccard>=0.8 near-dup groups by chance, plus planted exact dups
      val base = (0 until 18).map { id =>
        val k = 5 + rnd.nextInt(6)
        id.toLong -> rnd.shuffle(vocab).take(k)
      }
      val dups = (18 until 24).map { id =>
        val src = base(rnd.nextInt(base.size))._2
        // drop or keep one token — at most one set-edit from the source
        val toks = if (rnd.nextBoolean() && src.size > 5) src.drop(1) else src
        id.toLong -> toks
      }
      val corpus = base ++ dups
      val docs = corpus
        .map { case (id, toks) => (id, toks.mkString(" "), "en", "srcX", 0L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")

      val t = Dedup
        .tokenSetsFrom(spark, docs)
        .filter(size(col("toks")) > 0)
        .withColumn("sig", expr("minhash_sigs16(toks)"))
        .localCheckpoint()
      def edgesOf(frame: org.apache.spark.sql.DataFrame) = {
        val bb = Dedup.bandBuckets(frame.select(col("doc_id"), col("sig")))
        val cand = bb
          .as("l")
          .join(bb.as("r"), Seq("band", "key"))
          .filter(col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
          .distinct()
        Dedup.verifyEdges(frame, cand)
      }
      val full = Dedup.clustersFrom(edgesOf(t)).collect()
      assert(full.nonEmpty, s"trial $trial generated no clusters — tighten the generator")

      // three split points per corpus: delta empty, delta everything, and a
      // random interior watermark
      for (pivot <- Seq(23L, -1L, rnd.nextInt(24).toLong)) {
        val tOld = t.filter(col("doc_id") <= pivot)
        val oldLabels = Dedup.clustersFrom(edgesOf(tOld)).select(col("doc_id"), col("cluster"))
        val allBuckets = Dedup.bandBuckets(t.select(col("doc_id"), col("sig"), col("sz")))
        val newBuckets = allBuckets.filter(col("doc_id") > pivot)
        val inc = Dedup.clustersApply(t, newBuckets, allBuckets, oldLabels).collect()
        def rows(a: Array[org.apache.spark.sql.Row]) =
          a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(
          rows(inc) === rows(full),
          s"trial $trial pivot $pivot: incremental diverged from rebuild"
        )
      }
      info(s"trial $trial: ${full.map(_.getLong(1)).distinct.length} clusters over ${full.length} docs — 3 pivots equal")
    }
  }

  test("random graphs with long chains: driver-side union-find == propagation, both sides of the bound") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val rnd = new scala.util.Random(61)

    // connected components by BFS: every endpoint -> its component minimum
    def reference(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
      val seen = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { start =>
        if (!seen.contains(start)) {
          val comp = scala.collection.mutable.Set(start)
          var frontier = List(start)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(adj(_)).filter(comp.add)
          }
          comp.foreach(seen(_) = comp.min)
        }
      }
      seen.toSet
    }

    for (trial <- 1 to 4) {
      // ids shuffled so a chain's minimum sits anywhere along it
      val ids = rnd.shuffle((1 to 600).map(_.toLong * 7 % 1009)).toIndexedSeq
      var next = 0
      def take(k: Int) = { val s = ids.slice(next, next + k); next += k; s }
      // diameter >> 2: the propagation runs many continuation rounds
      val chains = Seq.fill(2)(take(40 + rnd.nextInt(61))).flatMap(c => c.zip(c.tail))
      val random = { val pool = take(80); Seq.fill(60)(pool(rnd.nextInt(80)) -> pool(rnd.nextInt(80))) }
      val star = { val s = take(12); s.tail.map(s.head -> _) }
      val edges = (chains ++ random ++ star)
        .filter { case (a, b) => a != b }
        .map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
        .distinct
      val pairs = edges.toDF("doc_a", "doc_b")

      val propagated = Dedup.componentMinima(pairs, 0L)
      val driver = Dedup.componentMinima(pairs, 1000000L)
      assert(!propagated.queryExecution.analyzed.isInstanceOf[LocalRelation], "bound 0 must propagate")
      assert(driver.queryExecution.analyzed.isInstanceOf[LocalRelation], "a small graph must label on the driver")
      assert(driver.schema.map(f => f.name -> f.dataType) === propagated.schema.map(f => f.name -> f.dataType))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = reference(edges)
      assert(rows(propagated) === want, s"trial $trial: propagation != reference")
      assert(rows(driver) === want, s"trial $trial: union-find != reference")
      info(s"trial $trial: ${edges.size} edges, ${want.map(_._2).size} components")
    }
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.componentMinima(empty, 1000000L).count() === 0L)
  }
}
