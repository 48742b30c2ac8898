package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dedup invariants at sf0.001, including an LSH-vs-brute-force recall check
  * (the part the DuckDB oracle can't cover for hash-based ops).
  */
class DedupSpec extends SparkSpec {

  test("q29 exact dedup: survivors partition the corpus") {
    val rows = Dedup.q29ExactDedup(spark, sfDir).collect()
    val total = graft.core.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_copies")).sum === total)
    val fps = rows.map(_.getAs[String]("fingerprint"))
    assert(fps.distinct.length === fps.length)
  }

  test("q30 minhash-LSH (md5-affine default) recovers exactly the brute-force Jaccard>=0.5 pairs") {
    val lsh = Dedup
      .q30MinhashPairs(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet

    // brute force: all-pairs 3-shingle Jaccard over the SAME 60-bit md5
    // shingle keys the default path verifies with
    val docs = graft.core.Tables
      .documents(spark, sfDir)
      .withColumn("norm_text", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .withColumn("toks", split(col("norm_text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn(
        "sh",
        expr(
          "array_sort(array_distinct(transform(sequence(1, size(toks) - 2), " +
            "i -> cast(conv(substring(md5(array_join(slice(toks, i, 3), ' ')), 1, 15), 16, 10) AS bigint))))"
        )
      )
      .select(col("doc_id"), col("sh"))
    graft.functions.VecFunctions.install(spark)
    val inter = expr("sorted_intersect_count(l.sh, r.sh)").cast("double")
    val brute = docs
      .as("l")
      .join(docs.as("r"), col("l.doc_id") < col("r.doc_id"))
      .withColumn("j", inter / (size(col("l.sh")) + size(col("r.sh")) - inter))
      .filter(col("j") >= 0.5)
      .select(col("l.doc_id"), col("r.doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet

    assert(brute.nonEmpty, "test corpus should contain planted near-dups")
    assert(lsh === brute)
  }

  test("q31 simhash finds most minhash near-dup pairs (recall >= 0.8)") {
    val mh = Dedup.q30MinhashPairs(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.q31SimhashPairs(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.nonEmpty)
    val recall = mh.count(sh.contains).toDouble / mh.size
    assert(recall >= 0.8, s"simhash recall of planted pairs was $recall")
  }

  test("q33 cosine pairs: ordered ids, cosine within [threshold, 1]") {
    val rows = Dedup.q33EmbeddingNearDup(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val c = r.getDouble(2)
      assert(c >= 0.45 && c <= 1.0)
    }
  }

  test("q33 plan: grid-blocked equi-join, no BroadcastNestedLoopJoin/cartesian") {
    val plan = Dedup.q33EmbeddingNearDup(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "q33 must not plan a BNLJ")
    assert(!plan.contains("CartesianProduct"), "q33 must not plan a cartesian")
  }

  test("q61 on a corpus with no near-dups returns empty, not an error") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nodups").toString
    Seq(
      (1L, "entirely unique first document about astronomy and telescopes", "en", "a", 57L),
      (2L, "second text discussing culinary techniques for pastry", "en", "a", 52L),
      (3L, "third entry on maritime navigation in the baltic sea", "en", "a", 51L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Dedup.q61DupClusters(spark, dir)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq === Seq("doc_id", "cluster", "cluster_size"))
  }

  test("q61 components: pairs co-clustered, labels are component minima, sizes consistent") {
    val pairs = Dedup.q32TokenJaccard(spark, sfDir).collect().map(r => (r.getLong(1), r.getLong(2)))
    val rows = Dedup.q61DupClusters(spark, sfDir).collect()
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val size = rows.map(r => r.getLong(1) -> r.getLong(2)).toMap

    assert(pairs.nonEmpty && rows.nonEmpty)
    // exactly the docs that appear in some pair are labeled
    assert(cluster.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // every edge's endpoints share a cluster
    pairs.foreach { case (a, b) => assert(cluster(a) === cluster(b), s"edge ($a,$b) split") }
    // the label IS the minimum member of its component, and sizes add up
    val members = cluster.groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    members.foreach { case (label, ms) =>
      assert(ms.min === label, s"cluster $label labeled above its minimum ${ms.min}")
      assert(size(label) === ms.size.toLong, s"cluster $label size mismatch")
    }
    // transitivity materialized: a chain a-b, b-c must co-cluster even if
    // (a,c) is not itself a near-dup pair — verify via union-find replica
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val expected = cluster.keySet.groupBy(find)
    assert(expected.size === members.size, "component count differs from union-find ground truth")
  }

  test("q60 LSH near-dup: precision-1 subset of exact q33, recall pinned") {
    // sf0.01: enough planted near-dup pairs for a meaningful recall pin
    val dir = "/root/testdata/sf0.01"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.q33EmbeddingNearDup(spark, dir))
    val approx = pairs(Dedup.q60LshNearDup(spark, dir))
    assert(exact.nonEmpty, "test corpus should contain cosine near-dups")
    assert(approx.subsetOf(exact), s"q60 reported non-pairs: ${approx.diff(exact)}")
    val recall = approx.size.toDouble / exact.size
    info(s"q60 recall vs exact q33 at sf0.01: $recall (${approx.size}/${exact.size})")
    // The synthetic embeddings are near-uniform: every exact pair sits at
    // cos 0.45-0.51 (θ≈62°), where per-table 6-bit collision odds are
    // (1-θ/π)^6 ≈ 0.08 → expected recall over 6 tables ≈ 0.39. The planes
    // are deterministic (splitmix64), so observed recall on this dataset is
    // a constant 3/14 ≈ 0.214 — the pin sits just below it. On real
    // clustered embeddings (dup cosine ≫ background) recall approaches 1;
    // uniform data is LSH's worst case, and precision stays exactly 1.
    assert(recall >= 0.15, s"q60 recall collapsed: $recall")
  }

  test("q90 semdedup: decisions cross-validate against exact cosines") {
    val rows = Dedup.q90SemDedup(spark, sfDir).collect()
    val n = graft.core.Tables.embeddings(spark, sfDir).count()
    assert(rows.length.toLong === n, "one decision per vector")

    // exact unit vectors + cluster per vec, recomputed first-principles
    val unit = graft.core.Tables
      .embeddings(spark, sfDir)
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val nrm = math.sqrt(v.map(x => x * x).sum)
        r.getLong(0) -> v.map(_ / nrm)
      }
      .toMap
    def cos(a: Long, b: Long): Double = unit(a).zip(unit(b)).map { case (x, y) => x * y }.sum

    val cluster = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dropped = rows.filter(_.getString(2) == "drop")
    val kept = rows.filter(_.getString(2) == "keep").map(_.getLong(0))

    // every drop has its recorded smaller-id same-cluster witness at >= tau
    dropped.foreach { r =>
      val (v, w) = (r.getLong(0), r.getLong(3))
      assert(w < v, s"witness $w not smaller than $v")
      assert(cluster(w) === cluster(v), s"witness $w in different cluster from $v")
      assert(cos(w, v) >= 0.45 - 1e-9, s"cos($w,$v)=${cos(w, v)} below tau")
    }

    // kept-set invariant: no two kept vectors in one cluster at >= tau
    kept.groupBy(cluster).values.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- (i + 1) until s.length)
        assert(cos(s(i), s(j)) < 0.45 + 1e-9, s"kept pair (${s(i)},${s(j)}) still near-dup")
    }

    // coverage vs exact ground truth: every same-cluster exact pair is caught
    val exactPairs = Dedup
      .q33EmbeddingNearDup(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sameCluster = exactPairs.filter { case (a, b) => cluster(a) == cluster(b) }
    val droppedSet = dropped.map(_.getLong(0)).toSet
    // q33 emits vec_a < vec_b, so the larger id of a same-cluster pair MUST drop
    sameCluster.foreach { case (a, b) => assert(droppedSet.contains(b), s"same-cluster pair ($a,$b) kept $b") }
    if (exactPairs.nonEmpty)
      info(s"q90 same-cluster coverage: ${sameCluster.length}/${exactPairs.length} exact pairs in-reach")
  }

  test("q101 LSH dup clusters: refinement of exact q61 clusters, pair recall pinned") {
    val exact = Dedup.q61DupClusters(spark, sfDir).collect()
    val approx = Dedup.q101LshDupClusters(spark, sfDir).collect()
    val exactLabel = exact.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approxLabel = approx.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty && approx.nonEmpty)

    // precision 1 at the cluster level: every doc q101 labels exists in the
    // exact output, and two docs q101 co-clusters are co-clustered exactly —
    // each q101 cluster is CONTAINED in one q61 cluster (edges verified with
    // the same jaccard>=0.8 predicate can only connect true component-mates)
    assert(approxLabel.keySet.subsetOf(exactLabel.keySet), "q101 labeled a non-dup doc")
    approx.groupBy(_.getLong(1)).values.foreach { ms =>
      val hosts = ms.map(m => exactLabel(m.getLong(0))).distinct
      assert(hosts.length === 1, s"q101 cluster spans exact clusters $hosts")
    }
    // sizes self-consistent
    approx.groupBy(_.getLong(1)).foreach { case (label, ms) =>
      assert(ms.map(_.getLong(0)).min === label)
      ms.foreach(m => assert(m.getLong(2) === ms.length.toLong))
    }

    // recall: fraction of exact co-clustered pairs that q101 also co-clusters
    def coPairs(label: Map[Long, Long]) =
      label.groupBy(_._2).values.flatMap { m =>
        val s = m.keys.toSeq.sorted
        for (i <- s.indices; j <- (i + 1) until s.length) yield (s(i), s(j))
      }.toSet
    val exactPairs = coPairs(exactLabel)
    val got = coPairs(approxLabel)
    val recall = got.count(exactPairs.contains).toDouble / exactPairs.size
    info(s"q101 co-cluster pair recall vs exact q61: $recall (${got.size}/${exactPairs.size})")
    // near-dup docs share most shingles → their 2-row band signatures agree
    // with high probability; on the planted corpus recall is ~1.0
    assert(recall >= 0.8, s"q101 cluster recall collapsed: $recall")
  }

  test("q102 LSH-path canon: keeper is the quality argmax of its q101 cluster") {
    val clusters = Dedup.q101LshDupClusters(spark, sfDir).collect()
    val byCluster = clusters.groupBy(_.getLong(1))
    val quality = Curation
      .qualityScored(spark, sfDir)
      .select("doc_id", "prob")
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    val rows = Dedup.q102LshClusterCanon(spark, sfDir).collect()
    assert(rows.length === byCluster.size, "exactly one keeper per LSH cluster")
    rows.foreach { r =>
      val (cluster, kept, prob) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      val members = byCluster(cluster).map(_.getLong(0))
      val best = members.map(id => (id, quality(id))).minBy { case (id, p) => (-p, id) }
      assert((kept, prob) === best, s"cluster $cluster kept $kept/$prob, best was $best")
    }
    // at this corpus q101 recovers the exact clusters (recall 1.0 pinned
    // above), so the scale-path canon must coincide with oracle-gated q99
    val exact = Dedup.q99ClusterCanon(spark, sfDir).collect().map(_.toSeq).toSet
    assert(rows.map(_.toSeq).toSet === exact, "q102 diverged from q99 despite identical clusters")
  }

  test("q99 cluster canon: one keeper per cluster, max quality, drop accounting exact") {
    val clusters = Dedup.q61DupClusters(spark, sfDir).collect()
    val byCluster = clusters.groupBy(_.getLong(1))
    val quality = Curation
      .qualityScored(spark, sfDir)
      .select("doc_id", "prob")
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    val rows = Dedup.q99ClusterCanon(spark, sfDir).collect()
    assert(rows.length === byCluster.size, "exactly one keeper per cluster")
    rows.foreach { r =>
      val (cluster, size, kept, prob, dropped) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))
      val members = byCluster(cluster).map(_.getLong(0))
      assert(members.contains(kept), s"keeper $kept not in cluster $cluster")
      assert(dropped === members.length - 1, s"cluster $cluster drop count")
      assert(size === members.length.toLong)
      // keeper has the best (prob desc, doc_id asc) among scored members
      val best = members.map(id => (id, quality(id))).minBy { case (id, p) => (-p, id) }
      assert((kept, prob) === best, s"cluster $cluster kept $kept/$prob, best was $best")
    }
  }

  test("q106/q107 leakage-safe split: clusters move as atoms, singletons match the doc-level coin") {
    def md5Coin(key: Long): String = {
      val h = java.security.MessageDigest
        .getInstance("MD5")
        .digest(key.toString.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      val b = Integer.parseInt(h.substring(0, 2), 16)
      if (b < 205) "train" else if (b < 230) "validation" else "test"
    }
    for ((name, split, clusters) <- Seq(
        ("q106", Dedup.q106LeakageSafeSplit(spark, sfDir), Dedup.q61DupClusters(spark, sfDir)),
        ("q107", Dedup.q107LshSafeSplit(spark, sfDir), Dedup.q101LshDupClusters(spark, sfDir))
      )) {
      val rows = split.collect()
      val nDocs = graft.core.Tables.documents(spark, sfDir).count()
      assert(rows.length.toLong === nDocs, s"$name must assign every doc exactly once")
      val label = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(label.nonEmpty, s"fixture drift: no dup clusters at sf0.001 for $name")
      val byDoc = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
      // clustered docs: group_key == cluster label, and the whole cluster
      // shares one split (the no-straddle property that IS the operator)
      label.foreach { case (doc, cl) =>
        assert(byDoc(doc).getAs[Long]("group_key") === cl, s"$name doc $doc group key")
        assert(byDoc(doc).getAs[Int]("in_cluster") === 1)
        assert(byDoc(doc).getAs[String]("split") === byDoc(cl).getAs[String]("split"),
          s"$name cluster $cl straddles splits")
      }
      // singleton docs: exactly q49's doc-level assignment
      rows.filter(_.getAs[Int]("in_cluster") === 0).foreach { r =>
        assert(r.getAs[Long]("group_key") === r.getAs[Long]("doc_id"))
        assert(r.getAs[String]("split") === md5Coin(r.getAs[Long]("doc_id")), s"$name singleton coin")
      }
      // the operator exists to fix real straddles: report how many clusters
      // a doc-level coin would have torn apart on this corpus
      val torn = label.groupBy(_._2).values.count(m => m.keys.map(md5Coin).toSet.size > 1)
      info(s"$name: ${label.groupBy(_._2).size} clusters, $torn would straddle under a doc-level split")
    }
  }

  test("q108 incremental clusters equal the full q101 rebuild at sf0.001") {
    val inc = Dedup.q108IncrementalClusters(spark, sfDir).collect()
    val full = Dedup.q101LshDupClusters(spark, sfDir).collect()
    assert(inc.nonEmpty, "fixture drift: no clusters at sf0.001")
    def rows(a: Array[org.apache.spark.sql.Row]) =
      a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(inc) === rows(full), "delta apply must reproduce the rebuild exactly")
  }

  test("q108 planted bridge: a new doc merges two pre-existing clusters and links an old singleton") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("incr").toString
    val aToks = (1 to 10).map(i => s"a$i").mkString(" ")               // cluster A
    val bToks = ((1 to 8).map(i => s"a$i") ++ Seq("b1", "b2")).mkString(" ") // cluster B: j(A,B)=8/12 < 0.8
    val cToks = ((1 to 9).map(i => s"a$i") :+ "b1").mkString(" ")      // bridge: j(C,A)=j(C,B)=9/11 >= 0.8
    val dToks = (1 to 10).map(i => s"d$i").mkString(" ")               // old singleton
    // ids chosen so the q108 90%-mark pivot (lo + (hi-lo)*9/10 = 17) puts
    // A/B/D in the "already clustered" state and C/E in the delta
    val docs = Seq(
      (0L, aToks), (1L, aToks),  // old cluster {0,1}
      (2L, bToks), (3L, bToks),  // old cluster {2,3}
      (4L, dToks),               // old singleton
      (18L, cToks),              // NEW: bridges A and B
      (19L, dToks)               // NEW: exact dup of the old singleton
    )
    docs
      .map { case (id, text) => (id, text, "en", "srcX", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")

    val out = Dedup.q108IncrementalClusters(spark, dir).collect()
    val label = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // merged component: both old clusters + the bridge, labeled by min id 0
    assert(Set(0L, 1L, 2L, 3L, 18L).forall(label.get(_).contains(0L)),
      s"bridge merge failed: $label")
    // the old singleton gains a 2-doc cluster with the new exact dup
    assert(label.get(4L).contains(4L) && label.get(19L).contains(4L), s"singleton link failed: $label")
    out.foreach { r =>
      val want = if (r.getLong(1) == 0L) 5L else 2L
      assert(r.getLong(2) === want, s"cluster_size wrong: $r")
    }
    // and the incremental answer IS the batch answer on this corpus too
    val full = Dedup.q101LshDupClusters(spark, dir).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      full.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("q113 planted cross-split contamination: train near-dup of a test doc is caught") {
    import spark.implicits._
    // re-derive the q49 coin single-node to PLANT ids on known sides of the
    // split (the query must agree — coin drift would break this test)
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(md.take(1).map("%02x".format(_)).mkString, 16)
    }
    val testId = (0L to 4096L).find(bucket(_) >= 230).get
    val trainId = (0L to 4096L).find(i => bucket(i) < 230 && i != testId).get
    val trainId2 = (0L to 4096L).find(i => bucket(i) < 230 && i != testId && i != trainId).get

    val base = (1 to 30).map(i => s"t$i")
    val near = base.drop(2) ++ Seq("x1", "x2") // j = 28/32 = 0.875 >= 0.8
    val far = (1 to 30).map(i => s"z$i")
    val dir = java.nio.file.Files.createTempDirectory("q113").toString
    Seq(
      (testId, base.mkString(" ")),   // the held-out doc
      (trainId, near.mkString(" ")),  // its near-duplicate on the train side
      (trainId2, far.mkString(" "))   // unrelated train doc
    ).map { case (id, text) => (id, text, "en", "srcX", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")

    val out = Dedup.q113NeardupContamination(spark, dir).collect()
    assert(out.length === 1, s"expected exactly the planted leak, got ${out.toSeq}")
    val r = out.head
    assert(r.getAs[Long]("doc_a") === trainId && r.getAs[Long]("doc_b") === testId)
    assert(math.abs(r.getAs[Double]("jaccard") - 0.875) < 1e-9)
  }

  test("q113 at sf0.001: every pair crosses the split, is exactly verified, recall vs exact") {
    val rep = Dedup.q113NeardupContamination(spark, sfDir).collect()
    assert(rep.nonEmpty, "sf0.001 holds cross-split near-dup leaks")
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(md.take(1).map("%02x".format(_)).mkString, 16)
    }
    rep.foreach { r =>
      assert(bucket(r.getAs[Long]("doc_a")) < 230, s"doc_a must be train/validation: $r")
      assert(bucket(r.getAs[Long]("doc_b")) >= 230, s"doc_b must be test: $r")
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.8 && j <= 1.0, s"jaccard out of contract: $r")
    }
    // recall vs the exact cross-split pair set derived from q32's exact
    // all-pairs miner (restricted to pairs straddling the split)
    val exact = Dedup
      .q32TokenJaccard(spark, sfDir)
      .collect()
      .flatMap { r =>
        val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
        // q32 canonicalizes a < b; orient to (train, test) and keep only
        // cross-split pairs
        if (bucket(a) < 230 && bucket(b) >= 230) Some((a, b))
        else if (bucket(b) < 230 && bucket(a) >= 230) Some((b, a))
        else None
      }
      .toSet
    val got = rep.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got.subsetOf(exact), s"phantom pairs: ${got -- exact}")
    if (exact.nonEmpty) {
      val recall = got.size.toDouble / exact.size
      assert(recall >= 0.8, s"recall $recall below floor (${got.size}/${exact.size})")
      info(s"sf0.001: ${exact.size} exact cross-split leaks, recall $recall")
    } else info("sf0.001: no cross-split near-dup pairs in this corpus")
  }

  test("q117 dedup profile: every aggregate recomputes from the standalone components") {
    val docs = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "source", "text")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[String]("text")))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // mirror SQL trim (strips SPACES only — Java String.trim also strips
    // tabs/newlines and would hash a different string on edge whitespace)
    val byFp = docs.groupBy { case (_, _, t) =>
      md5hex(t.replaceAll("^ +| +$", "").toLowerCase.replaceAll("\\s+", " "))
    }
    val isDup = byFp.values.flatMap { g =>
      val mn = g.map(_._1).min
      g.map(d => d._1 -> (if (g.size > 1 && d._1 != mn) 1 else 0))
    }.toMap
    val inCluster = Dedup.q61DupClusters(spark, sfDir).collect().map(_.getLong(0)).toSet
    val sharedMicro = Curation
      .q71PassageDedup(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> math.round(r.getAs[Double]("shared_frac") * 1e6))
      .toMap
    val dupMicro = Curation
      .q110SpanDedup(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> math.round(r.getAs[Double]("dup_frac") * 1e6))
      .toMap
    val expected = docs.groupBy(_._2).map { case (src, g) =>
      val n = g.length
      val ids = g.map(_._1)
      def frac(s: Long): Double = math.floor(s.toDouble * 1e6 / n + 0.5) / 1e6
      val pm = ids.flatMap(sharedMicro.get)
      val sm = ids.flatMap(dupMicro.get)
      def mean(xs: Seq[Long]): Double = if (xs.isEmpty) 0.0 else math.floor(xs.sum.toDouble / xs.size + 0.5) / 1e6
      src -> ((n.toLong, frac(ids.map(isDup(_).toLong).sum), frac(ids.count(inCluster).toLong),
        mean(pm), mean(sm)))
    }
    val got = Dedup
      .q117DedupProfile(spark, sfDir)
      .collect()
      .map(r =>
        r.getAs[String]("source") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Double]("exact_dup_frac"), r.getAs[Double]("clustered_frac"),
            r.getAs[Double]("passage_shared_mean"), r.getAs[Double]("span_dup_mean")))
      )
      .toMap
    assert(got.keySet === expected.keySet, "source coverage differs")
    got.foreach { case (src, v) => assert(v === expected(src), s"source $src diverged") }
    info(s"sf0.001: ${got.size} sources profiled; ${isDup.values.sum} exact-dup docs, ${inCluster.size} clustered")
  }

  test("q117 degenerate source: all docs below the span domain report 0.0, never NULL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q117deg").toString
    val big = (1 to 40).map(i => s"b$i").mkString(" ")
    Seq(
      (1L, "just four tiny tokens", "tiny"),
      (2L, "other small words here", "tiny"), // < 8 tokens: outside q110's domain
      (10L, big, "big"),
      (11L, big, "big") // verbatim pair: every granularity fires
    ).map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val r = Dedup
      .q117DedupProfile(spark, dir)
      .collect()
      .map(x =>
        x.getAs[String]("source") ->
          ((x.getAs[Long]("n_docs"), x.getAs[Double]("exact_dup_frac"), x.getAs[Double]("clustered_frac"),
            x.getAs[Double]("passage_shared_mean"), x.getAs[Double]("span_dup_mean")))
      )
      .toMap
    assert(r("tiny") === ((2L, 0.0, 0.0, 0.0, 0.0)), s"degenerate source must coalesce to 0.0: ${r("tiny")}")
    assert(r("big") === ((2L, 0.5, 1.0, 1.0, 1.0)), s"verbatim pair fires every granularity: ${r("big")}")
  }

  test("q133 threshold sweep equals a single-node replay; pair counts monotone in tau") {
    val docs = graft.core.Tables
      .documents(spark, sfDir)
      .collect()
      .map { r =>
        val text = r.getAs[String]("text")
        (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
          text.trim.toLowerCase.split("\\s+").toSet, text.trim.split("\\s+").length.toLong)
      }
      .toSeq
    def round6(j: Double): Double =
      BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pairs = for {
      (_, grp) <- docs.groupBy(_._2).toSeq
      a <- grp
      b <- grp
      if a._1 < b._1
      j = a._3.intersect(b._3).size.toDouble / a._3.union(b._3).size
      if j >= 0.5
    } yield (b._1, round6(j))
    assert(pairs.nonEmpty, "test corpus should contain sub-0.8 near-dups for the sweep to see")
    val tokOf = docs.map(d => d._1 -> d._4).toMap
    val totalTokens = docs.map(_._4).sum
    val expected = Dedup.SWEEP_TAUS.map { tau =>
      val f = pairs.filter(_._2 >= tau)
      val droppedIds = f.map(_._1).distinct
      val droppedToks = droppedIds.map(tokOf).sum
      (tau, f.size.toLong, droppedIds.size.toLong, droppedToks,
        math.floor(droppedToks.toDouble / totalTokens * 1e6 + 0.5) / 1e6)
    }

    val got = Dedup
      .q133ThresholdSweep(spark, sfDir)
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq
    assert(got === expected, "distributed sweep must equal the single-node replay")
    assert(got.map(_._2).sliding(2).forall(w => w(1) <= w(0)), "pair count must be non-increasing in tau")
    info(s"sf0.001 sweep: ${got.map(g => s"tau=${g._1}: pairs=${g._2} drop_frac=${g._5}").mkString(", ")}")
  }

  test("q137 ingest saturation: equals a single-node replay; curves conserve and bound") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), md5hex(r.getString(1).trim.toLowerCase.replaceAll("\\s+", " "))))
    val (minId, maxId) = (docs.map(_._1).min, docs.map(_._1).max)
    val bucketOf = docs.map { case (id, fp) =>
      (id, fp, (id - minId) * Dedup.SAT_BUCKETS / (maxId - minId + 1))
    }
    val perBucket = bucketOf.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val novelPer = bucketOf.groupBy(_._2).map { case (_, rs) => rs.map(_._3).min }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val buckets = perBucket.keys.toSeq.sorted
    var (cd, cn) = (0L, 0L)
    val expected = buckets.map { b =>
      val (nd, nn) = (perBucket(b), novelPer.getOrElse(b, 0L))
      cd += nd; cn += nn
      (b.toInt, nd, nn, math.floor(nn.toDouble * 1e6 / nd + 0.5) / 1e6, cd, cn,
        math.floor(cn.toDouble * 1e6 / cd + 0.5) / 1e6)
    }
    val got = Dedup
      .q137IngestSaturation(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toSeq
    assert(got === expected, "saturation curve must equal the single-node replay")
    assert(got.map(_._2).sum === docs.length.toLong, "buckets partition the corpus")
    assert(got.last._6 === docs.map(_._2).distinct.length.toLong, "final cum_novel = distinct fingerprints")
    assert(got.forall(g => g._3 <= g._2), "novel <= docs per bucket")
    info(s"sf0.001: ${got.length} buckets, final cum novelty ${got.last._7}")
  }

  test("q142 syndication matrix recomputes from the q101 labels") {
    val labels = Dedup
      .q101LshDupClusters(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster")))
    val srcOf = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "source")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val cs = labels
      .groupBy { case (id, c) => (c, srcOf(id)) }
      .map { case ((c, s), rs) => (c, s, rs.length.toLong) }
    val expected = (for {
      (c1, s1, d1) <- cs; (c2, s2, d2) <- cs if c1 == c2 && s1 < s2
    } yield ((s1, s2), (d1, d2)))
      .groupBy(_._1)
      .map { case (k, xs) => (k, (xs.size.toLong, xs.map(_._2._1).sum, xs.map(_._2._2).sum)) }
    val got = Dedup
      .q142SyndicationMatrix(spark, sfDir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === expected, "matrix must equal the single-node pair recomputation")
    got.foreach { case ((a, b), (nc, da, db)) =>
      assert(a < b, "pairs are ordered")
      assert(da >= nc && db >= nc, "each shared cluster contributes >= 1 doc per side")
    }
    assert(got.nonEmpty, "the dup-dense corpus must produce cross-source clusters or the matrix tests nothing")
    info(s"sf0.001: ${got.size} syndicating source pairs")
  }

  test("q144 winnowing: equals a single-node replay; shared >=11-token runs guarantee a shared fingerprint") {
    val K = 8; val W = 4; val MAXDF = 100
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ").split(" ", -1))
      .filter(_._2.length >= K)

    // replay: rightmost-min winnowing via the same fixed-width encoding
    val fpSets: Map[Long, Set[String]] = docs.map { case (id, toks) =>
      val m = toks.length - K + 1
      val enc = (1 to m).map(i => md5hex(toks.slice(i - 1, i - 1 + K).mkString(" ")) + f"${1000000 - i}%07d")
      val lastStart = math.max(m - W + 1, 1)
      val fps = (1 to lastStart).map(j => enc.slice(j - 1, math.min(j - 1 + W, m)).min.substring(0, 32)).toSet
      id -> fps
    }.toMap
    val df = fpSets.values.toSeq.flatten.groupBy(identity).map { case (f, xs) => f -> xs.size }
    val keptSets = fpSets.map { case (id, fps) => id -> fps.filter(df(_) <= MAXDF) }
    val ids = keptSets.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      shared = keptSets(a).intersect(keptSets(b)).size.toLong if shared >= 1
    } yield {
      val (na, nb) = (keptSets(a).size.toLong, keptSets(b).size.toLong)
      (a, b, shared, na, nb,
        math.floor(shared * 1e6 / na + 0.5) / 1e6, math.floor(shared * 1e6 / nb + 0.5) / 1e6)
    }).toSet
    val got = Dedup
      .q144WinnowPairs(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toSet
    assert(got === expected, "winnow pair report must equal the single-node replay")
    assert(got.nonEmpty, "the dup-dense corpus must share fingerprints or the report tests nothing")

    // the SIGMOD'03 guarantee: docs sharing a contiguous run of >= W+K-1
    // tokens share a fingerprint (checked pre-cap: the df cap is a declared
    // pairing filter, not part of the selection theorem)
    val runGrams = docs.map { case (id, toks) =>
      id -> (0 to toks.length - (K + W - 1)).map(i => toks.slice(i, i + K + W - 1).mkString(" ")).toSet
    }
    val longRunPairs = for {
      (a, ga) <- runGrams; (b, gb) <- runGrams if a < b && ga.intersect(gb).nonEmpty
    } yield (a, b)
    longRunPairs.foreach { case (a, b) =>
      assert(fpSets(a).intersect(fpSets(b)).nonEmpty, s"guarantee violated for pair ($a,$b)")
    }
    assert(longRunPairs.nonEmpty, "planted dups must share >=11-token runs or the guarantee tests nothing")
    info(s"sf0.001: ${got.size} winnow pairs, ${longRunPairs.size} guarantee-checked long-run pairs")
  }

  test("q146 LSH planner: equals the textbook S-curve replayed over the exact pair set; steeper r trades recall for precision") {
    // the planner's own feed: the exact miner at the sweep-grid minimum
    val pairs = Dedup
      .tokenJaccardPairsAt(spark, sfDir, Dedup.SWEEP_TAUS.min)
      .collect()
      .map(_.getAs[Double]("jaccard"))
      .toSeq
    val grid = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
    def powi(x: Double, e: Int): Double = if (e == 1) x else { val h = powi(x, e / 2); h * h }
    val expected = grid.map { case (r, b) =>
      val pm = pairs.map(j => (j, math.floor((1.0 - powi(1.0 - powi(j, r), b)) * 1e6 + 0.5).toLong))
      val (t, n) = pm.partition(_._1 >= 0.8)
      (r, b, t.size.toLong,
        math.floor(t.map(_._2).sum.toDouble / t.size + 0.5) / 1e6,
        n.size.toLong,
        math.floor(n.map(_._2).sum.toDouble / n.size + 0.5) / 1e6)
    }
    val got = Dedup
      .q146LshPlan(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Int]("r"), r.getAs[Int]("b"), r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5)))
      .toSeq
      .sortBy(_._1)
    assert(got === expected, "planner must equal the single-node S-curve replay")
    // S-curve shape: recall and near-miss candidate mass both fall as r steepens
    assert(got.map(_._4) === got.map(_._4).sorted.reverse, "expected_recall monotone non-increasing in r")
    assert(got.map(_._6) === got.map(_._6).sorted.reverse, "nearmiss mass monotone non-increasing in r")
    info(s"sf0.001: shipped (r=2,b=8) recall ${got.find(_._1 == 2).get._4}")
  }

  test("q152 winnow contamination: equals a single-node replay of fingerprints x q49 coin") {
    val K = 8; val W = 4; val MAXDF = 100
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def coin(id: Long): String = {
      val b = Integer.parseInt(md5hex(id.toString).substring(0, 2), 16)
      if (b < 205) "train" else if (b < 230) "validation" else "test"
    }
    val docs = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ").split(" ", -1))
      .filter(_._2.length >= K)
    val fpSets = docs.map { case (id, toks) =>
      val m = toks.length - K + 1
      val enc = (1 to m).map(i => md5hex(toks.slice(i - 1, i - 1 + K).mkString(" ")) + f"${1000000 - i}%07d")
      id -> (1 to math.max(m - W + 1, 1)).map(j => enc.slice(j - 1, math.min(j - 1 + W, m)).min.substring(0, 32)).toSet
    }.toMap
    val df = fpSets.values.toSeq.flatten.groupBy(identity).map { case (f, xs) => f -> xs.size }
    val kept = fpSets.map { case (id, fps) => id -> fps.filter(df(_) <= MAXDF) }
    val testFps = kept.filter { case (id, _) => coin(id) == "test" }
    val expected = kept
      .filter { case (id, _) => coin(id) == "train" }
      .flatMap { case (id, fps) =>
        val sharedFps = fps.filter(f => testFps.values.exists(_.contains(f)))
        val testDocs = testFps.collect { case (tid, tfps) if tfps.intersect(fps).nonEmpty => tid }
        if (sharedFps.nonEmpty) Some((id, sharedFps.size.toLong, testDocs.size.toLong)) else None
      }
      .toSet
    val got = Dedup
      .q152WinnowContamination(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === expected, "contamination screen must equal the single-node replay")
    got.foreach { case (id, _, _) => assert(coin(id) == "train", "only train docs may be flagged") }
    assert(got.nonEmpty, "the dup-dense corpus must contaminate across the split or the screen tests nothing")
    info(s"sf0.001: ${got.size} contaminated train docs")
  }

  test("q162 verbatim runs: a planted shared span measures within the winnowing bounds; disjoint docs never pair") {
    val spark0 = spark
    import spark0.implicits._
    val K = 8; val W = 4
    // a planted 40-token span shared verbatim between two otherwise-disjoint
    // documents (unique vocab per flank, so no accidental gram collisions)
    val shared = (1 to 40).map(i => s"sh$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 20).map(i => s"ax$i").mkString(" ") + " " + shared + " " + (1 to 20).map(i => s"ay$i").mkString(" ")),
      (2L, (1 to 15).map(i => s"bx$i").mkString(" ") + " " + shared + " " + (1 to 25).map(i => s"by$i").mkString(" ")),
      (3L, (1 to 60).map(i => s"cz$i").mkString(" ")) // no shared content at all
    ).toDF("doc_id", "text")
    // q162's per-doc max over the shared islands walk, fed a plain frame
    def maxRuns(d: org.apache.spark.sql.DataFrame) =
      Dedup
        .verbatimRunPairsFromFps(Dedup.winnowFingerprintPositions(d))
        .groupBy(col("doc_id"))
        .agg(max(col("run_len")))
    val runs = maxRuns(docs).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(!runs.contains(3L), "a doc sharing nothing must not appear in the run profile")
    // SIGMOD'03 bounds: within a shared span of L tokens, the first selected
    // fingerprint sits within the first winnow window and the last within the
    // last, so the measured run is within [L - 2(W-1), L]
    val L = 40
    Seq(1L, 2L).foreach { d =>
      assert(runs.contains(d), s"doc $d shares an 11+-token run — winnowing guarantees a shared fingerprint")
      assert(runs(d) >= L - 2 * (W - 1) && runs(d) <= L, s"doc $d measured ${runs(d)}, outside [${L - 2 * (W - 1)}, $L]")
    }
    // bucket rollup at the corpus scale stays consistent with the per-doc frame
    val prof = Dedup.q162VerbatimRunProfile(spark, sfDir).collect()
    assert(prof.nonEmpty)
    val corpus = maxRuns(graft.core.Tables.documents(spark, sfDir))
      .collect()
      .map(_.getInt(1))
    assert(prof.map(_.getAs[Long]("n_docs")).sum === corpus.length.toLong, "buckets partition the profiled docs")
    assert(prof.map(_.getAs[Int]("longest_run")).max === corpus.max, "the global longest run survives the rollup")
    assert(corpus.forall(_ >= K), s"no run can be shorter than one $K-gram")
    info(s"sf0.001: planted runs ${runs(1L)}/${runs(2L)}, corpus longest ${corpus.max}")
  }

  test("q163 contamination depth: every column equals its source leg recomposed; actions follow the evidence") {
    def bucket(id: Long): Int = {
      val h = java.security.MessageDigest
        .getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(1)
        .map("%02x".format(_))
        .mkString
      Integer.parseInt(h, 16)
    }
    val rows = Dedup
      .q163ContaminationDepth(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(rows.nonEmpty, "the dup-dense corpus must contaminate across the split or the table tests nothing")
    // leg 1: ngram_hits is exactly q67's n_hits per doc
    val q67 = graft.operators.Curation
      .q67Contamination(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    q67.foreach { case (d, h) => assert(rows(d)._1 === h, s"doc $d ngram_hits != q67") }
    assert(rows.count(_._2._1 > 0) === q67.size, "exactly q67's offenders carry ngram hits")
    // leg 2: near_dup_test recomposed from q32's pair set x the coin
    val q32 = Dedup.q32TokenJaccard(spark, sfDir).collect().map(r => (r.getLong(1), r.getLong(2)))
    val expB = q32
      .flatMap { case (a, b) =>
        Seq(
          if (bucket(a) < 205 && bucket(b) >= 230) Some(a) else None,
          if (bucket(b) < 205 && bucket(a) >= 230) Some(b) else None
        ).flatten
      }
      .groupBy(identity)
      .view
      .mapValues(_.size.toLong)
      .toMap
    expB.foreach { case (d, n) => assert(rows(d)._2 === n, s"doc $d near_dup_test != q32 x coin") }
    assert(rows.count(_._2._2 > 0) === expB.size)
    // leg 3: max_run recomposed from the run table x the coin
    val runPairs = Dedup
      .verbatimRunPairsFromFps(Dedup.winnowFingerprintPositions(graft.core.Tables.documents(spark, sfDir)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val expC = runPairs
      .filter { case (d, p, _) => bucket(d) < 205 && bucket(p) >= 230 }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._3).max)
      .toMap
    expC.foreach { case (d, m) => assert(rows(d)._3 === m, s"doc $d max_run != runs x coin") }
    // leg 4: img_leaks is exactly q178's n_eval_matches per train doc
    val q178 = graft.operators.Multimodal
      .q178ImageDecontam(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    q178.foreach { case (d, n) => assert(rows(d)._4 === n, s"doc $d img_leaks != q178") }
    assert(rows.count(_._2._4 > 0) === q178.size, "exactly q178's offenders carry image leaks")
    // actions follow the evidence, first-match
    rows.foreach { case (d, (_, nd, mr, img, action)) =>
      val want =
        if (nd > 0) "drop"
        else if (img > 0) "drop_image"
        else if (mr >= 50) "mask_spans"
        else "review_ngrams"
      assert(action === want, s"doc $d action")
    }
    info(
      s"sf0.001: ${rows.size} offenders — " +
        s"${rows.count(_._2._5 == "drop")} drop, ${rows.count(_._2._5 == "drop_image")} drop_image, " +
        s"${rows.count(_._2._5 == "mask_spans")} mask, ${rows.count(_._2._5 == "review_ngrams")} review"
    )
  }

  test("q163/q172 image leg: a planted image-only leak reads drop_image and is costed in the ledger") {
    val spark0 = spark
    import spark0.implicits._
    def bucketOf(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(d.take(1).map("%02x".format(_)).mkString, 16)
    }
    // image kind = doc_id % 3 == 0; a train image-doc whose image
    // near-dups a held-out image but whose TEXT shares nothing with any
    // test doc (unique vocab, < 8 shared grams) — only leg 4 can fire
    val trainIds = Iterator.from(0).map(_ * 3L).filter(id => bucketOf(id) < Sampling.SPLIT_TRAIN_LT)
    val testIds = Iterator.from(0).map(_ * 3L).filter(id => bucketOf(id) >= Sampling.SPLIT_VALIDATION_LT)
    val Seq(trainLeak, trainClean) = trainIds.take(2).toSeq
    val evalImg = testIds.next()
    val dir = java.nio.file.Files.createTempDirectory("q163img").toString
    val base = (1 to 100).map(i => ('a' + i % 26).toChar).mkString
    val edited = base.updated(10, 'z').updated(11, 'z') // within tau=6 of base
    val far = "zz  " * 25 // alternating cell energy: ~25 bits from base
    Seq((trainLeak, base), (trainClean, far), (evalImg, edited))
      .map { case (id, text) => (id, text, "en", "srcI", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    val rows = Dedup
      .q163ContaminationDepth(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(rows.contains(trainLeak), s"the image-leaking train doc must be an offender: $rows")
    val (ng, nd, mr, img, action) = rows(trainLeak)
    assert(img === 1L, s"img_leaks must count the planted eval twin: $rows")
    assert(nd === 0L && mr < 50, s"the plant must not trip the text legs: $rows")
    assert(action === "drop_image", s"an image-only leak dictates drop_image: $rows")
    assert(!rows.contains(trainClean) || rows(trainClean)._4 === 0L, s"clean image must not flag: $rows")
    // the ledger covers the new action: the leaked doc's mass lands under
    // (srcI, drop_image) and every train doc is accounted exactly once
    val led = Dedup
      .q172DecontamLedger(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(led.contains(("srcI", "drop_image")), s"ledger must cost the image action: $led")
    assert(led(("srcI", "drop_image"))._1 === 1L, s"exactly the planted doc: $led")
    val trainDocs = Seq(trainLeak, trainClean, evalImg).count(id => bucketOf(id) < Sampling.SPLIT_TRAIN_LT)
    assert(led.filter(_._1._1 == "srcI").values.map(_._1).sum === trainDocs.toLong, s"ledger covers the train split: $led")
  }

  test("q182 mask export: a planted masked doc exports its leaked span within the winnow bounds; intervals well-formed") {
    val spark0 = spark
    import spark0.implicits._
    def bucketOf(id: Long): Int = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      Integer.parseInt(d.take(1).map("%02x".format(_)).mkString, 16)
    }
    // a train doc sharing a 60-token verbatim run with a test doc (unique
    // flank vocab, jaccard < 0.8 so the action is mask_spans, not drop)
    val trainTextIds = Iterator.from(1).map(_.toLong).filter(id => id % 3 != 0 && bucketOf(id) < Sampling.SPLIT_TRAIN_LT)
    val testTextIds = Iterator.from(1).map(_.toLong).filter(id => id % 3 != 0 && bucketOf(id) >= Sampling.SPLIT_VALIDATION_LT)
    val tRun = trainTextIds.next()
    val sRun = testTextIds.next()
    val run = (1 to 60).map(i => s"run$i")
    val dir = java.nio.file.Files.createTempDirectory("q182").toString
    Seq(
      (tRun, ((1 to 50).map(i => s"rf$i") ++ run ++ (1 to 50).map(i => s"rg$i")).mkString(" ")),
      (sRun, ((1 to 50).map(i => s"sf$i") ++ run ++ (1 to 50).map(i => s"sg$i")).mkString(" "))
    ).map { case (id, text) => (id, text, "en", "srcR", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write
      .parquet(s"$dir/documents.parquet")
    assert(
      Dedup.q163ContaminationDepth(spark, dir).collect().map(r => r.getLong(0) -> r.getString(5)).toMap
        .get(tRun) === Some("mask_spans"),
      "the planted run must dictate mask_spans"
    )
    val spans = Dedup
      .q182DecontamMaskExport(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(spans.map(_._1).toSet === Set(tRun), s"only the masked train doc exports spans: ${spans.toSeq}")
    assert(spans.length === 1, s"one merged interval for one shared run: ${spans.toSeq}")
    val (_, idx, s, e, len) = spans.head
    // the run occupies token positions 51..110; winnowing measures within
    // [L - 2(W-1), L] of the true span and never outside it
    assert(idx === 1L && len === e - s + 1)
    assert(s >= 51L && e <= 110L && len >= 60L - 6L && len <= 60L, s"span $s..$e ($len) outside winnow bounds")

    // corpus invariants at sf0.001: every exported doc is a mask_spans doc
    // and carries sorted, disjoint, well-formed intervals
    val actions = Dedup
      .q163ContaminationDepth(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> r.getString(5))
      .toMap
    val corpus = Dedup.q182DecontamMaskExport(spark, sfDir).collect()
    corpus.groupBy(_.getLong(0)).foreach { case (d, rs) =>
      assert(actions.get(d) === Some("mask_spans"), s"doc $d exported without a mask_spans action")
      val sorted = rs.sortBy(_.getLong(1))
      sorted.zipWithIndex.foreach { case (r, i) => assert(r.getLong(1) === i + 1L, "span_idx dense") }
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(2) > a.getLong(3) + 1, s"doc $d intervals must be disjoint, non-adjacent")
        case _           =>
      }
      sorted.foreach(r => assert(r.getLong(4) === r.getLong(3) - r.getLong(2) + 1))
    }
    info(s"sf0.001: ${corpus.length} mask intervals over ${corpus.map(_.getLong(0)).distinct.length} docs")
  }

  test("q172 ledger: recomposes from q163's actions over the train split; shares sum to 1 per source") {
    val led = Dedup
      .q172DecontamLedger(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(led.nonEmpty)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val train = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "source", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).trim.toLowerCase.split("\\s+").length.toLong))
      .filter(d => Integer.parseInt(md5hex(d._1.toString).substring(0, 2), 16) < Sampling.SPLIT_TRAIN_LT)
    val actOf = Dedup
      .q163ContaminationDepth(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[String]("action"))
      .toMap
    val expected = train
      .map(d => (d._2, actOf.getOrElse(d._1, "keep"), d._3))
      .groupBy(t => (t._1, t._2))
      .map { case (k, g) =>
        val toks = g.map(_._3).sum
        val srcToks = train.filter(_._2 == k._1).map(_._3).sum
        k -> ((g.size.toLong, toks, math.floor(toks.toDouble * 1e6 / srcToks + 0.5) / 1e6))
      }
    assert(led === expected, "ledger must recompose from q163 actions + train token counts")
    // per source: every train doc accounted once; keep + flagged == all
    led.keys.map(_._1).toSet[String].foreach { src =>
      val docs = led.filter(_._1._1 == src).values.map(_._1).sum
      assert(docs === train.count(_._2 == src).toLong, s"$src ledger must cover the whole train split")
    }
    info(s"sf0.001: ${led.size} (source, action) rows; actions ${led.keys.map(_._2).toSet.mkString(",")}")
  }

  test("q179 decontamination surface: every method row recomposes from its leg query over the train scope") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(id: Long): Int = Integer.parseInt(md5hex(id.toString).substring(0, 2), 16)
    val train = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "n_chars")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .filter(d => bucket(d._1) < Sampling.SPLIT_TRAIN_LT)
      .toMap
    val trainImg = train.filter(_._1 % 3 == 0)
    val got = Dedup
      .q179DecontamSurface(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet === Set("8gram_exact", "bloom_screen", "verbatim_spans", "image_neardup"))
    def flaggedOf(df: org.apache.spark.sql.DataFrame, idCol: String): Set[Long] =
      df.select(idCol).collect().map(_.getLong(0)).toSet
    val legs = Map(
      "8gram_exact" -> ((flaggedOf(graft.operators.Curation.q67Contamination(spark, sfDir), "doc_id"), train)),
      "bloom_screen" -> ((flaggedOf(graft.operators.Curation.q166BloomScreen(spark, sfDir), "doc_id"), train)),
      "verbatim_spans" -> ((flaggedOf(Dedup.q152WinnowContamination(spark, sfDir), "doc_id"), train)),
      "image_neardup" -> ((flaggedOf(graft.operators.Multimodal.q178ImageDecontam(spark, sfDir), "train_id"), trainImg))
    )
    legs.foreach { case (method, (flagged, scope)) =>
      val (nScope, scopeChars, nFlagged, flaggedChars) = got(method)
      assert(nScope === scope.size.toLong, s"$method scope")
      assert(scopeChars === scope.values.sum, s"$method scope mass")
      assert(nFlagged === flagged.size.toLong, s"$method flagged count must equal its leg query's")
      assert(flaggedChars === flagged.toSeq.map(train).sum, s"$method flagged mass")
      assert(flagged.forall(id => bucket(id) < Sampling.SPLIT_TRAIN_LT), s"$method flags only train docs")
    }
    // the declared superset: the bloom screen can never flag fewer docs
    // than the exact 8-gram leg (no false negatives)
    assert(got("bloom_screen")._3 >= got("8gram_exact")._3)
    info(
      s"sf0.001: " + got.map { case (m, (s2, _, f, _)) => s"$m $f/$s2" }.mkString(", ")
    )
  }

  test("q184 overlap matrix: every pair cell recomposes from the leg queries' flagged sets") {
    def flaggedOf(df: org.apache.spark.sql.DataFrame, idCol: String): Set[Long] =
      df.select(idCol).collect().map(_.getLong(0)).toSet
    val sets = Map(
      "8gram_exact" -> flaggedOf(graft.operators.Curation.q67Contamination(spark, sfDir), "doc_id"),
      "bloom_screen" -> flaggedOf(graft.operators.Curation.q166BloomScreen(spark, sfDir), "doc_id"),
      "verbatim_spans" -> flaggedOf(Dedup.q152WinnowContamination(spark, sfDir), "doc_id"),
      "image_neardup" -> flaggedOf(graft.operators.Multimodal.q178ImageDecontam(spark, sfDir), "train_id")
    )
    val rows = Dedup.q184DecontamOverlap(spark, sfDir).collect()
    assert(rows.length === 6, "one row per unordered method pair")
    rows.foreach { r =>
      val (ma, mb) = (r.getString(0), r.getString(1))
      assert(ma < mb, s"pairs are lexicographic, got ($ma, $mb)")
      val (sa, sb) = (sets(ma), sets(mb))
      assert(r.getLong(2) === sa.size.toLong, s"($ma,$mb) n_a")
      assert(r.getLong(3) === sb.size.toLong, s"($ma,$mb) n_b")
      assert(r.getLong(4) === (sa & sb).size.toLong, s"($ma,$mb) n_both must be the set intersection")
      assert(r.getLong(5) === (sa | sb).size.toLong, s"($ma,$mb) n_union must be the set union")
      val union = r.getLong(5)
      if (union > 0) {
        val wantJac = math.floor(r.getLong(4).toDouble * 1e6 / union + 0.5) / 1e6
        assert(r.getDouble(6) === wantJac, s"($ma,$mb) floored-micro jaccard")
      } else assert(r.isNullAt(6), s"($ma,$mb) empty union yields NULL jaccard")
    }
    // the declared superset collapses to containment 1: every exact
    // 8-gram offender is bloom-flagged, so the pair's intersection IS the
    // 8-gram set
    val supRow = rows.find(r => r.getString(0) == "8gram_exact" && r.getString(1) == "bloom_screen").get
    assert(supRow.getLong(4) === supRow.getLong(2), "bloom contains the exact set")
    if (supRow.getLong(2) > 0)
      assert(supRow.getDouble(7) === 1.0, "containment of the subsumed screen reads 1.0")
    info(rows.map(r => s"${r.getString(0)}∩${r.getString(1)}=${r.getLong(4)}").mkString(", "))
  }

  test("q185 syndication rank: single-node integer-micro PageRank replay over the cluster-confirmed flow graph") {
    val srcOf = graft.core.Tables
      .documents(spark, sfDir)
      .select("doc_id", "source")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val clusters = Dedup
      .q101LshDupClusters(spark, sfDir)
      .select("doc_id", "cluster")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // replay: symmetric shared-cluster edge weights over distinct
    // (cluster, source), then 10 damped iterations with the same
    // individually-floored integer arithmetic
    val csSet = clusters.map { case (d, c) => (c, srcOf(d)) }.toSet
    val byCluster = csSet.groupBy(_._1).values.map(_.map(_._2))
    val w = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    byCluster.foreach { ss => for (u <- ss; s <- ss if u != s) w((u, s)) += 1L }
    val nodes = srcOf.values.toSet.toSeq.sorted
    val n = math.max(nodes.size.toLong, 1L)
    val wout = w.toSeq.groupBy(_._1._1).map { case (u, es) => u -> es.map(_._2).sum }
    var pr = nodes.map(_ -> 1000000L / n).toMap
    for (_ <- 1 to 10) {
      val inflow = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      w.foreach { case ((u, s), wt) => inflow(s) += pr(u) * wt / wout(u) }
      pr = nodes.map(s => s -> (150000L / n + 850000L * inflow(s) / 1000000L)).toMap
    }
    val got = Dedup.q185SyndicationRank(spark, sfDir).collect()
    assert(got.map(_.getString(1)).toSet === nodes.toSet, "every source ranks")
    got.foreach { r =>
      val s = r.getString(1)
      assert(r.getLong(4) === pr(s), s"$s centrality must equal the single-node replay")
      assert(r.getLong(2) === w.keys.count(_._1 == s).toLong, s"$s partner count")
      assert(r.getLong(3) === wout.getOrElse(s, 0L), s"$s shared-cluster degree")
    }
    // ranks are the 1..N permutation ordered by (centrality desc, source)
    val ordered = got.sortBy(_.getLong(0))
    assert(ordered.map(_.getLong(0)).toSeq === (1L to nodes.size.toLong), "rank is a permutation")
    assert(
      ordered.map(r => (-r.getLong(4), r.getString(1))).toSeq === ordered
        .map(r => (-r.getLong(4), r.getString(1)))
        .sortBy(identity)
        .toSeq,
      "rank order is (centrality desc, source)"
    )
    // floor leakage and dangling mass only ever SHRINK the total
    assert(got.map(_.getLong(4)).sum <= 1000000L, "mass never exceeds one")
    info(ordered.take(3).map(r => s"#${r.getLong(0)} ${r.getString(1)} ${r.getLong(4)}").mkString(", "))
  }
}
