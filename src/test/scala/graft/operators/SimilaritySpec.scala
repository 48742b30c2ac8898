package graft.operators

import graft.SparkSpec

/** ANN invariants at sf0.001. The synthetic vectors are near-uniform (max
  * pairwise cos ≈ 0.5), so sub-linear recall necessarily tracks scanned
  * fraction — specs pin exactness of the plumbing (ranks, cosine values,
  * candidate pruning) and only loose recall floors.
  */
class SimilaritySpec extends SparkSpec {

  private def byQuery(rows: Array[org.apache.spark.sql.Row]) =
    rows.groupBy(_.getLong(0))

  test("q34 brute force: dense ranks, non-increasing cosine, k rows per query") {
    val rows = Similarity.q34BruteForceTopK(spark, sfDir).collect()
    assert(byQuery(rows).size === 5)
    byQuery(rows).values.foreach { rs =>
      assert(rs.length === 10)
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 10))
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      cos.zip(cos.tail).foreach { case (a, b) => assert(b <= a + 1e-9) }
    }
  }

  test("q35 LSH: results are a correctly-ranked subset of the true ranking") {
    val brute = Similarity.q34BruteForceTopK(spark, sfDir).collect()
    val lsh = Similarity.q35LshTopK(spark, sfDir).collect()
    // every LSH cosine must equal the brute-force cosine for that pair
    val trueCos = brute.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    lsh.foreach { r =>
      trueCos.get((r.getLong(0), r.getLong(2))).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-9))
    }
    // per-query ordering respected
    byQuery(lsh).values.foreach { rs =>
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      cos.zip(cos.tail).foreach { case (a, b) => assert(b <= a + 1e-9) }
    }
  }

  test("q35 LSH at sf0.1: recall@10 pinned vs brute force, cosines exact") {
    val dir = "/root/testdata/sf0.1"
    val brute = Similarity.q34BruteForceTopK(spark, dir).collect()
    val lsh = Similarity.q35LshTopK(spark, dir).collect()
    val trueTop = byQuery(brute).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hits = lsh.count(r => trueTop(r.getLong(0)).contains(r.getLong(2)))
    info(s"q35 recall@10 at sf0.1: $hits/${brute.length}")
    // near-uniform synthetic vectors: with the default 1 extra multiprobe
    // per table (the curve knee) the measured recall is 0.48 (24/50) —
    // recall here necessarily tracks scanned fraction, so the floor only
    // guards that a broken index, broken probe generation, or broken dedup
    // fails loudly, and sits below the deterministic 24.
    assert(hits >= 20, s"q35 recall@10 collapsed: $hits/${brute.length}")
    // every returned cosine must equal the true cosine for that pair
    val trueCos = brute.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    lsh.foreach { r =>
      trueCos.get((r.getLong(0), r.getLong(2))).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-9))
    }
    // dedup-by-predicate must not duplicate a pair across tables
    val pairs = lsh.map(r => (r.getLong(0), r.getLong(2)))
    assert(pairs.distinct.length === pairs.length, "duplicate (query, vec) pair in q35 output")
  }

  test("q36 IVF: k results per query, correct cosines, some true-top-10 recall") {
    val brute = Similarity.q34BruteForceTopK(spark, sfDir).collect()
    val ivf = Similarity.q36IvfTopK(spark, sfDir).collect()
    byQuery(ivf).values.foreach(rs => assert(rs.length === 10))
    val trueTop = byQuery(brute).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hits = ivf.count(r => trueTop(r.getLong(0)).contains(r.getLong(2)))
    assert(hits >= 5, s"IVF recall too low: $hits/50 true-top-10 hits")
  }

  // -- planted clustered corpus: where recall measures the ALGORITHM ----------
  // The raw synthetic vectors are near-uniform, so sub-linear recall there
  // tracks scanned fraction by construction. On the planted corpus
  // (deterministic clusters at within-cluster cos ≈ 0.9 derived from the
  // same table) a correct ANN must find the cluster-mates: these floors are
  // the real quality gate (measured ≈ 1.0 at sf0.01; floors leave
  // binomial margin).

  private val plantedDir = "/root/testdata/sf0.01"

  test("planted clusters: LSH recall@10 >= 0.9 vs exact baseline") {
    val exact = Similarity.plantedBruteTopK(spark, plantedDir).collect()
    val lsh = Similarity.plantedLshTopK(spark, plantedDir).collect()
    val trueTop = byQuery(exact).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hits = lsh.count(r => trueTop(r.getLong(0)).contains(r.getLong(2)))
    info(s"planted LSH recall@10: $hits/${exact.length}")
    // measured 1.00 at the default probes=1 (sf0.001/sf0.01/sf0.1 alike);
    // floor 0.9 per the knee-tuned default's published curve
    assert(hits >= (exact.length * 0.9).toInt, s"planted LSH recall: $hits/${exact.length}")
    // and no duplicate pairs from the multiprobe first-hit dedup
    val pairs = lsh.map(r => (r.getLong(0), r.getLong(2)))
    assert(pairs.distinct.length === pairs.length, "duplicate (query, vec) pair in planted LSH output")
  }

  test("planted clusters: IVF recall@10 >= 0.9 vs exact baseline") {
    val exact = Similarity.plantedBruteTopK(spark, plantedDir).collect()
    val ivf = Similarity.plantedIvfTopK(spark, plantedDir).collect()
    val trueTop = byQuery(exact).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hits = ivf.count(r => trueTop(r.getLong(0)).contains(r.getLong(2)))
    info(s"planted IVF recall@10: $hits/${exact.length}")
    // measured 0.98 at sf0.01 / 1.0 at sf0.001 with the default nprobe=4
    assert(hits >= (exact.length * 0.9).toInt, s"planted IVF recall: $hits/${exact.length}")
  }

  test("planted clusters: q60 LSH pair recall >= 0.9 vs exact pair set") {
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.plantedExactNearDup(spark, plantedDir).collect())
    val lsh = pairs(Dedup.plantedLshNearDup(spark, plantedDir).collect())
    assert(exact.nonEmpty, "planted corpus must contain near-dup pairs")
    // precision 1: LSH pairs are candidates verified by exact cosine
    assert(lsh.subsetOf(exact), "planted LSH pair set must be a subset of exact pairs")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    info(f"planted q60 pair recall: $recall%.3f (${exact.size} exact pairs)")
    // measured 0.972 on the planted pair set; floor 0.9 keeps margin while
    // catching any real bucketing/verify regression
    assert(recall >= 0.9, f"planted q60 pair recall too low: $recall%.3f")
  }

  test("quality profile: uniform-corpus recall@10 >= 0.9 for both ANN families") {
    // the preset's contract (AnnTune counting-LSH re-sweep r14: T=24 x P=6,
    // 5 probes, minHits=3 LSH; C=64 IVF at nprobe 28 large / 40
    // small-corpus — measured uniform recall 0.94/0.92/0.98 LSH at
    // 0.42/0.41/0.42 exact-scored fraction and 0.94 IVF at 0.445 scanned
    // at sf0.1): on cluster-free data recall is BOUGHT with scanned
    // fraction, and this floor pins that the quality preset actually
    // delivers what fast deliberately does not (the <= 0.5 scored-fraction
    // ceiling is its own test below)
    val brute = Similarity.q34BruteForceTopK(spark, sfDir).collect()
    val trueTop = byQuery(brute).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    spark.conf.set(Similarity.ProfileConf, "quality")
    try {
      val lsh = Similarity.q35LshTopK(spark, sfDir).collect()
      val lshHits = lsh.count(r => trueTop(r.getLong(0)).contains(r.getLong(2)))
      info(s"quality q35 uniform recall@10: $lshHits/${brute.length}")
      assert(lshHits >= (brute.length * 0.9).toInt, s"quality LSH recall: $lshHits/${brute.length}")
      val ivf = Similarity.q36IvfTopK(spark, sfDir).collect()
      val ivfHits = ivf.count(r => trueTop(r.getLong(0)).contains(r.getLong(2)))
      info(s"quality q36 uniform recall@10: $ivfHits/${brute.length}")
      assert(ivfHits >= (brute.length * 0.9).toInt, s"quality IVF recall: $ivfHits/${brute.length}")
      // cosines stay exact under any profile — candidates change, the
      // re-rank arithmetic does not
      val trueCos = brute.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
      (lsh ++ ivf).foreach { r =>
        trueCos.get((r.getLong(0), r.getLong(2))).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-9))
      }
    } finally spark.conf.unset(Similarity.ProfileConf)
  }

  test("quality LSH preset: exact-scored fraction <= 0.5 at recall >= 0.9 (the counting-LSH operating point)") {
    // The claim the preset was chosen for: the C2LSH collision-count filter
    // (minHits=3) brings the uniform-corpus exact-distance evaluations
    // under HALF the corpus while holding recall >= 0.9 — where plain
    // bucket union needed ~0.63+ scanned for the same recall. This pins
    // the operating point AS SERVED: the scored set is measured WITH the
    // preset's minHits (the set that actually gets vec_dot), not the
    // pre-filter collision mass (reported alongside, informational — it is
    // the integer-arithmetic postings cost, expected to exceed 0.5).
    // Measured r14: scored 0.42/0.41/0.42, recall 0.94/0.92/0.98 at
    // sf0.001/0.01/0.1; bench_details.json re-measures both per round.
    val q = Similarity.Quality
    val n = graft.core.Tables.embeddings(spark, sfDir).count().toDouble
    val scored = Similarity.lshCandidateCountWith(spark, sfDir, q, q.lshProbes, q.lshMinHits) / (5.0 * n)
    val collision = Similarity.lshCandidateCountWith(spark, sfDir, q, q.lshProbes) / (5.0 * n)
    val brute = Similarity.q34BruteForceTopK(spark, sfDir).collect()
    val trueTop = byQuery(brute).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    spark.conf.set(Similarity.ProfileConf, "quality")
    val hits =
      try Similarity.q35LshTopK(spark, sfDir).collect().count(r => trueTop(r.getLong(0)).contains(r.getLong(2)))
      finally spark.conf.unset(Similarity.ProfileConf)
    info(f"quality LSH as served: scored_frac $scored%.3f, collision_frac $collision%.3f, recall $hits/${brute.length}")
    assert(hits >= (brute.length * 0.9).toInt, s"quality LSH recall under the preset floor: $hits/${brute.length}")
    assert(scored <= 0.5, f"quality LSH exact-scored fraction above the preset ceiling: $scored%.3f > 0.5")
    // the filter must actually be doing work: scored strictly below collision
    assert(scored < collision, f"minHits filter inert: scored $scored%.3f !< collision $collision%.3f")
  }

  test("profile plumbing: unknown profile rejected, planted floors pinned to fast") {
    spark.conf.set(Similarity.ProfileConf, "turbo")
    try intercept[IllegalArgumentException](Similarity.q35LshTopK(spark, sfDir))
    finally spark.conf.unset(Similarity.ProfileConf)
    // the planted eval (the published floors/curves) must not move when a
    // session flips profiles — it is pinned to fast geometry
    val base = Similarity.plantedLshTopK(spark, sfDir).collect().map(_.toString).sorted
    spark.conf.set(Similarity.ProfileConf, "quality")
    try {
      val under = Similarity.plantedLshTopK(spark, sfDir).collect().map(_.toString).sorted
      assert(under.sameElements(base), "planted eval drifted with the session profile")
    } finally spark.conf.unset(Similarity.ProfileConf)
  }

  test("q75 PQ: shape, exact re-ranked cosines, planted recall >= 0.9") {
    val brute = Similarity.q34BruteForceTopK(spark, sfDir).collect()
    val pq = Similarity.q75PqTopK(spark, sfDir).collect()
    assert(byQuery(pq).size === 5)
    byQuery(pq).values.foreach { rs =>
      assert(rs.length === 10)
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 10))
    }
    // PQ error affects only WHICH candidates make the shortlist — returned
    // cosines are exact re-ranks and must equal brute force per pair
    val trueCos = brute.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    pq.foreach { r =>
      trueCos.get((r.getLong(0), r.getLong(2))).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-9))
    }
    // planted floor: 8-bit codes measure 0.98/0.96/1.00 planted recall at
    // sf0.001/0.01/0.1 — 0.9 guards codebook/encode/ADC/shortlist breakage
    val exactP = Similarity.plantedBruteTopK(spark, sfDir).collect()
    val trueTop = byQuery(exactP).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hits = Similarity
      .plantedPqTopK(spark, sfDir)
      .collect()
      .count(r => trueTop(r.getLong(0)).contains(r.getLong(2)))
    info(s"planted PQ recall@10: $hits/${exactP.length}")
    assert(hits >= (exactP.length * 0.9).toInt, s"planted PQ recall: $hits/${exactP.length}")
  }

  test("q75 PQ: codes are one LONG per vector; full shortlist degrades to brute force") {
    val (books, codes) = Similarity.buildPqIndex(spark, sfDir)
    assert(books.length === 8)
    books.foreach { book => assert(book.length === 256); book.foreach(cw => assert(cw.length === 8)) }
    // the memory claim: the scannable index is (vec_id, code) with an
    // 8-byte code — 32x smaller than the 64-dim float32 embedding
    assert(codes.schema("code").dataType === org.apache.spark.sql.types.LongType)
    assert(codes.columns.toSet === Set("vec_id", "code"))
    assert(codes.count() === graft.core.Tables.embeddings(spark, sfDir).count())
    // with the shortlist covering the whole corpus the ADC stage cannot
    // exclude anyone, so the exact re-rank must reproduce q34 verbatim
    val brute = Similarity.q34BruteForceTopK(spark, sfDir).collect().map(_.toString)
    val full = Similarity.pqTopKWith(spark, sfDir, shortlist = 1000000).collect().map(_.toString)
    assert(full.sameElements(brute), "full-shortlist PQ must equal brute force exactly")
  }

  test("q76 IVF-PQ: shape, exact cosines, planted recall >= 0.9, index is 12 bytes/vector") {
    val brute = Similarity.q34BruteForceTopK(spark, sfDir).collect()
    val got = Similarity.q76IvfPqTopK(spark, sfDir).collect()
    assert(byQuery(got).size === 5)
    byQuery(got).values.foreach { rs =>
      assert(rs.length === 10)
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 10))
    }
    val trueCos = brute.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    got.foreach { r =>
      trueCos.get((r.getLong(0), r.getLong(2))).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-9))
    }
    // the composed index is (vec_id, cluster, code): the scannable state is
    // an int cell id + an 8-byte code per vector
    val (_, _, index) = Similarity.buildIvfPqIndex(spark, sfDir)
    assert(index.columns.toSet === Set("vec_id", "cluster", "code"))
    assert(index.schema("code").dataType === org.apache.spark.sql.types.LongType)
    assert(index.count() === graft.core.Tables.embeddings(spark, sfDir).count())
    // planted floor (measured 0.98/0.96/1.00 at sf0.001/0.01/0.1)
    val exactP = Similarity.plantedBruteTopK(spark, sfDir).collect()
    val trueTop = byQuery(exactP).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hits = Similarity
      .plantedIvfPqTopK(spark, sfDir)
      .collect()
      .count(r => trueTop(r.getLong(0)).contains(r.getLong(2)))
    info(s"planted IVF-PQ recall@10: $hits/${exactP.length}")
    assert(hits >= (exactP.length * 0.9).toInt, s"planted IVF-PQ recall: $hits/${exactP.length}")
  }

  test("q76 IVF-PQ: probing every cell with a full shortlist degrades to brute force") {
    // both prunes disabled (nprobe = C, shortlist >= corpus) leaves nothing
    // for the approximation to exclude — the exact re-rank must reproduce
    // q34 verbatim, which pins the whole probe/ADC/shortlist plumbing
    val brute = Similarity.q34BruteForceTopK(spark, sfDir).collect().map(_.toString)
    val full = Similarity.ivfPqTopKWith(spark, sfDir, nprobe = 16, shortlist = 1000000).collect().map(_.toString)
    assert(full.sameElements(brute), "fully-open IVF-PQ must equal brute force exactly")
  }

  test("q36 centroids: C centroids of corpus dimension, finite values") {
    val cents = Similarity.trainCentroidsFrom(graft.core.Tables.embeddings(spark, sfDir))
    assert(cents.length === 16)
    cents.foreach { c =>
      assert(c.length === 64)
      assert(c.forall(x => !x.isNaN && !x.isInfinite))
    }
  }

  test("q64 quantization: error bounded by scale/2, one row per vector") {
    val rows = Similarity.q64EmbeddingQuantize(spark, sfDir).collect()
    val nVecs = graft.core.Tables.embeddings(spark, sfDir).count()
    assert(rows.length === nVecs)
    rows.foreach { r =>
      val (scale, maxErr, meanErr) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(scale > 0)
      // round-to-nearest int8 quantization: reconstruction error < scale/2
      // (clamping never bites: scale is derived from the vector's own max)
      assert(maxErr <= scale * 0.5 + 1e-9, s"maxErr=$maxErr scale=$scale")
      assert(meanErr <= maxErr + 1e-12)
    }
  }

  test("q79 label centroids: exact recomputation per label; unit-corpus invariant holds") {
    val embs = graft.core.Tables
      .embeddings(spark, sfDir)
      .collect()
      .map(r => (r.getInt(2), r.getSeq[Float](1).map(_.toDouble).toArray))
    val byLabel = embs.groupBy(_._1)
    val rows = Similarity.q79LabelCentroids(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSet === byLabel.keySet)
    rows.foreach { r =>
      val label = r.getInt(0)
      val vs = byLabel(label).map(_._2)
      assert(r.getLong(1) === vs.length.toLong, s"label $label n_vecs")
      val dim = vs.head.length
      val cent = Array.tabulate(dim)(i => vs.map(_(i)).sum / vs.length)
      val nc = math.sqrt(cent.map(x => x * x).sum)
      assert(math.abs(r.getDouble(2) - nc) < 2e-6, s"label $label centroid_norm")
      val cosines = vs.map { v =>
        val dot = v.zip(cent).map { case (a, b) => a * b }.sum
        dot / (math.sqrt(v.map(x => x * x).sum) * nc)
      }
      assert(math.abs(r.getDouble(3) - cosines.sum / cosines.length) < 2e-6, s"label $label mean_cos")
      assert(math.abs(r.getDouble(4) - cosines.min) < 2e-6, s"label $label min_cos")
      assert(math.abs(r.getDouble(5) - cosines.max) < 2e-6, s"label $label max_cos")
      // unit-normalized corpus: avg member-to-centroid cosine == |centroid|
      assert(math.abs(r.getDouble(3) - r.getDouble(2)) <= 2e-6, s"label $label invariant")
      assert(r.getDouble(4) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(5))
    }
  }

  test("q93 filtered search: exact results honor the predicate, k per query") {
    val exact = Similarity.q93FilteredTopK(spark, sfDir).collect()
    assert(exact.nonEmpty)
    val labels = graft.core.Tables
      .embeddings(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> r.getInt(2))
      .toMap
    // every exact result is from the filtered stratum, k per query
    exact.foreach(r => assert(labels(r.getLong(2)) === 3, s"vec ${r.getLong(2)} outside filter"))
    exact.groupBy(_.getLong(0)).values.foreach(rs => assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length)))
  }

  test("q119 triplet mining: equals a first-principles recomputation; margins well-formed") {
    val emb = graft.core.Tables
      .embeddings(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray, r.getAs[Int]("label")))
    def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val units = emb.map { case (id, v, l) => (id, unit(v), l) }
    val anchors = units.filter(_._1 < 5)
    val expected = anchors.map { case (aid, av, al) =>
      def best(side: Boolean): Option[(Long, Double)] =
        units
          .filter { case (id, _, l) => id != aid && (l == al) == side }
          .map { case (id, u, _) =>
            (id, math.floor(av.zip(u).map { case (x, y) => x * y }.sum * 1e6 + 0.5) / 1e6)
          }
          .sortBy { case (id, c) => (-c, id) }
          .headOption
      (aid, al, best(true), best(false))
    }
    val got = Similarity
      .q119TripletMining(spark, sfDir)
      .collect()
      .map(r =>
        (r.getAs[Long]("anchor_id"), r.getAs[Int]("anchor_label"),
          Option(r.getAs[java.lang.Long]("pos_id")).map(pid => (pid.toLong, r.getAs[Double]("pos_cos"))),
          Option(r.getAs[java.lang.Long]("neg_id")).map(nid => (nid.toLong, r.getAs[Double]("neg_cos"))))
      )
      .sortBy(_._1)
    assert(got.toSeq === expected.sortBy(_._1).toSeq, "triplets must equal the single-node recomputation")
    // margin column is exactly pos_cos - neg_cos (rounded) when both exist
    Similarity.q119TripletMining(spark, sfDir).collect().foreach { r =>
      (Option(r.getAs[java.lang.Double]("pos_cos")), Option(r.getAs[java.lang.Double]("neg_cos"))) match {
        case (Some(p), Some(n)) =>
          assert(math.abs(r.getAs[Double]("margin") - (p - n)) < 1e-6 + 1e-12)
        case _ => assert(r.getAs[java.lang.Double]("margin") == null)
      }
    }
    info(s"sf0.001: ${got.length} anchors mined; margins ${got.map(_._1).mkString(",")}")
  }

  test("q136 knn purity: equals a first-principles top-5 recomputation") {
    val emb = graft.core.Tables
      .embeddings(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray, r.getAs[Int]("label")))
    def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val units = emb.map { case (id, v, l) => (id, unit(v), l) }
    val expected = units
      .map { case (aid, av, al) =>
        val top = units
          .filter(_._1 != aid)
          .map { case (id, u, l) => (id, l, math.floor(av.zip(u).map { case (x, y) => x * y }.sum * 1e6 + 0.5) / 1e6) }
          .sortBy { case (id, _, c) => (-c, id) }
          .take(Similarity.PURITY_K)
        val same = top.count(_._2 == al).toLong
        (aid, al, same, same.toDouble / Similarity.PURITY_K, same <= 1)
      }
      .sortBy(_._1)
    val got = Similarity
      .q136KnnPurity(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"), r.getAs[Long]("n_same_label"), r.getAs[Double]("purity"), r.getAs[Boolean]("suspect")))
      .sortBy(_._1)
    assert(got.toSeq === expected.toSeq, "purities must equal the single-node recomputation")
    val suspects = got.count(_._5)
    info(s"sf0.001: ${got.length} vectors, $suspects suspect (purity <= 1/${Similarity.PURITY_K})")
  }

  test("q138 IVF purity: full coverage, well-formed, agrees with exact q136 within a neighbor") {
    val exact = Similarity
      .q136KnnPurity(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("n_same_label"))
      .toMap
    val ivf = Similarity.q138KnnPurityIvf(spark, sfDir).collect()
    assert(ivf.map(_.getAs[Long]("vec_id")).toSet === exact.keySet, "every anchor must be covered")
    ivf.foreach { r =>
      val (ns, p, s2) = (r.getAs[Long]("n_same_label"), r.getAs[Double]("purity"), r.getAs[Boolean]("suspect"))
      assert(ns >= 0 && ns <= Similarity.PURITY_K)
      assert(math.abs(p - ns.toDouble / Similarity.PURITY_K) < 1e-12)
      assert(s2 === (ns <= 1))
    }
    val agree = ivf.count(r => math.abs(r.getAs[Long]("n_same_label") - exact(r.getAs[Long]("vec_id"))) <= 1)
    val frac = agree.toDouble / exact.size
    info(f"sf0.001: purity agreement vs exact = $frac%.3f at nprobe ${Similarity.PURITY_NPROBE}")
    assert(frac >= 0.9, s"agreement collapsed: $frac")
  }
}
