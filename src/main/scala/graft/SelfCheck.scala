package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-derived pass/fail for the queries no SQL oracle can express — the
  * hash/ANN ops the driver's DuckDB gate records as bare `no_oracle`.
  * Verify emits these as `selfcheck.json` so the driver can gate them
  * NUMERICALLY (a violation count or recall floor measured from this run's
  * data), instead of trusting that the test suite ran elsewhere.
  *
  * Check shapes:
  *   - precision checks (q60/q90/q101/q113): every emitted row is
  *     re-validated against an exact recomputation from the raw inputs —
  *     `violations` counts rows that fail; pass = 0 violations. These are
  *     O(result) or cluster-bounded joins, never corpus-quadratic.
  *   - recall checks (q35/q36/q75/q76, q101): result coverage vs the exact
  *     baseline computed in the same session (q34's planted brute-force
  *     top-k; q61's exact clusters); pass = recall >= the floor the specs
  *     pin (0.9 ANN, 0.8 cluster co-pairs).
  */
object SelfCheck {

  /** name -> (check description, metric, violations, pass). */
  final case class Result(check: String, metric: Double, violations: Long, pass: Boolean)

  private def pairSet(df: DataFrame, a: String, b: String): DataFrame =
    df.select(col(a).cast("long").as("pa"), col(b).cast("long").as("pb"))

  /** Every check, or only those of the queries in `names` when it is
    * non-empty (checks are keyed by query name).
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, Result)] = {
    graft.functions.VecFunctions.install(spark)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Result)]
    def check(name: String)(body: => Result): Unit =
      if (names.isEmpty || names.contains(name)) out += name -> (try body
      catch {
        case e: Throwable =>
          Result(s"ERRORED: ${String.valueOf(e.getMessage).linesIterator.find(_.trim.nonEmpty).getOrElse("")}", -1.0, -1L, pass = false)
      })

    // q30/q31 left this manifest in r15: their md5-derived default paths
    // are fully oracle-gated (Dedup.q30Oracle/q31Oracle replay the banded
    // and chunked computations, candidates included).

    // -- q60: emitted pairs are a subset of exact q33 (precision 1) ----------
    check("q60_lsh_neardup") {
      val approx = pairSet(operators.Dedup.q60LshNearDup(spark, sfDir), "vec_a", "vec_b")
      val exact = pairSet(operators.Dedup.q33EmbeddingNearDup(spark, sfDir), "vec_a", "vec_b")
      val n = approx.count()
      val bad = approx.join(exact, Seq("pa", "pb"), "left_anti").count()
      Result("subset of exact q33 pair set (precision 1)", n.toDouble, bad, bad == 0L)
    }

    // -- q90: witnesses valid + kept-set invariant within clusters -----------
    check("q90_semdedup") {
      val tau = 0.45
      val unit = core.Tables
        .embeddings(spark, sfDir)
        .withColumn("nrm", expr("sqrt(aggregate(embedding, 0D, (a, e) -> a + cast(e AS double) * cast(e AS double)))"))
        .withColumn("u", expr("transform(embedding, x -> cast(x AS double) / nrm)"))
        .select(col("vec_id"), col("u"))
      val dec = operators.Dedup.q90SemDedup(spark, sfDir).localCheckpoint()
      val n = dec.count()
      // each drop's recorded witness: smaller id, same cluster, cosine >= tau
      val withCluster = dec.select(col("vec_id").as("w_id"), col("cluster").as("w_cluster"))
      val badWitness = dec
        .filter(col("decision") === "drop")
        .join(withCluster, col("kept_for") === col("w_id"))
        .join(unit.select(col("vec_id"), col("u").as("uv")), "vec_id")
        .join(unit.select(col("vec_id").as("w_id2"), col("u").as("uw")), col("kept_for") === col("w_id2"))
        .filter(
          col("kept_for") >= col("vec_id") ||
            col("w_cluster") =!= col("cluster") ||
            expr("vec_dot(uv, uw)") < tau - 1e-9
        )
        .count()
      // no two KEPT vectors in one cluster at >= tau (the dedup deduplicates)
      val kept = dec
        .filter(col("decision") === "keep")
        .join(unit, "vec_id")
        .select(col("cluster"), col("vec_id"), col("u"))
      val badKept = kept
        .as("l")
        .join(kept.as("r"), Seq("cluster"))
        .filter(col("l.vec_id") < col("r.vec_id") && expr("vec_dot(l.u, r.u)") >= tau + 1e-9)
        .count()
      Result("drop witnesses valid and kept set pairwise below tau", n.toDouble, badWitness + badKept, badWitness + badKept == 0L)
    }

    // -- ANN top-k: recall vs the exact brute-force on the planted corpus ----
    def annRecall(name: String, approx: => DataFrame): Unit =
      check(name) {
        val exact = operators.Similarity
          .plantedBruteTopK(spark, sfDir)
          .select(col("query_id"), col("vec_id"))
        val want = exact.count()
        val hit = approx
          .select(col("query_id"), col("vec_id"))
          .join(exact, Seq("query_id", "vec_id"))
          .count()
        val recall = if (want == 0) -1.0 else hit.toDouble / want
        Result("recall vs exact brute-force top-k on the planted corpus", recall, want - hit, recall >= 0.9)
      }
    annRecall("q35_lsh_topk", operators.Similarity.plantedLshTopK(spark, sfDir))
    annRecall("q36_ivf_topk", operators.Similarity.plantedIvfTopK(spark, sfDir))
    annRecall("q75_pq_topk", operators.Similarity.plantedPqTopK(spark, sfDir))
    annRecall("q76_ivfpq_topk", operators.Similarity.plantedIvfPqTopK(spark, sfDir))

    // -- q101: refinement of exact q61 clusters + co-pair recall floor -------
    check("q101_lsh_dup_clusters") {
      val exact = operators.Dedup
        .q61DupClusters(spark, sfDir)
        .select(col("doc_id"), col("cluster").as("exact_cluster"))
        .localCheckpoint()
      val approx = operators.Dedup
        .q101LshDupClusters(spark, sfDir)
        .select(col("doc_id"), col("cluster").as("lsh_cluster"))
        .localCheckpoint()
      // refinement: every labeled doc exists in the exact output, and every
      // LSH cluster maps into exactly ONE exact cluster
      val joined = approx.join(exact, Seq("doc_id"), "left")
      val missing = joined.filter(col("exact_cluster").isNull).count()
      val split = joined
        .groupBy(col("lsh_cluster"))
        .agg(countDistinct(col("exact_cluster")).as("hosts"))
        .filter(col("hosts") > 1)
        .count()
      // co-cluster pair recall from group sizes: pairs(n) = n(n-1)/2 summed
      // per exact cluster (want) and per (exact, lsh) joint group (got —
      // refinement makes joint pairs exactly the recovered intersection)
      def pairs(df: DataFrame, keys: Seq[String]): Long =
        df.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("n"))
          .agg(sum(expr("(n * (n - 1)) div 2")).as("p"))
          .collect()
          .headOption
          .map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
          .getOrElse(0L)
      val want = pairs(exact, Seq("exact_cluster"))
      val got = pairs(joined.filter(col("exact_cluster").isNotNull), Seq("exact_cluster", "lsh_cluster"))
      val recall = if (want == 0) -1.0 else got.toDouble / want
      Result(
        "refinement of exact q61 clusters, co-cluster pair recall >= 0.8",
        recall,
        missing + split,
        missing + split == 0L && recall >= 0.8
      )
    }

    // -- q102: every keeper is the (prob DESC, doc_id) argmax of its cluster
    check("q102_lsh_cluster_canon") {
      val clusters = operators.Dedup.q101LshDupClusters(spark, sfDir)
      // q84's registered (oracle-gated) output is the quality source of
      // record — re-deriving the keeper from it keeps this check
      // independent of the canon implementation's own quality plumbing
      val quality = operators.Curation.q84QualityModel(spark, sfDir).select(col("doc_id"), col("prob"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(col("prob").desc, col("doc_id"))
      val argmax = clusters
        .join(quality, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("want_doc"), col("prob").as("want_prob"))
      val got = operators.Dedup.q102LshClusterCanon(spark, sfDir)
      val n = got.count()
      val bad = got
        .join(argmax, Seq("cluster"), "full")
        .filter(
          col("kept_doc_id").isNull || col("want_doc").isNull ||
            col("kept_doc_id") =!= col("want_doc") || col("kept_prob") =!= col("want_prob")
        )
        .count()
      Result("one keeper per q101 cluster, the quality argmax", n.toDouble, bad, bad == 0L)
    }

    // -- q107: group-aware split honors q101 clusters and q49's coin ---------
    check("q107_lsh_safe_split") {
      val clusters = operators.Dedup.q101LshDupClusters(spark, sfDir).select(col("doc_id"), col("cluster"))
      val got = operators.Dedup.q107LshSafeSplit(spark, sfDir)
      val n = got.count()
      // 1) no cluster straddles splits
      val straddle = got
        .join(clusters, Seq("doc_id"))
        .groupBy(col("cluster"))
        .agg(countDistinct(col("split")).as("k"))
        .filter(col("k") > 1)
        .count()
      // 2) group_key is the q101 label for clustered docs, own id otherwise
      val wrongKey = got
        .join(clusters, Seq("doc_id"), "left")
        .filter(coalesce(col("cluster"), col("doc_id")) =!= col("group_key"))
        .count()
      // 3) the split is exactly q49's md5 coin on that key — deliberately
      // re-spelled inline rather than calling Sampling.hashSplitCoin: a
      // selfcheck that shares the production expression would be a
      // tautology, not a check
      val recoin = got
        .withColumn("b", conv(substring(md5(col("group_key").cast("string")), 1, 2), 16, 10).cast("int"))
        .withColumn("want", when(col("b") < 205, "train").when(col("b") < 230, "validation").otherwise("test"))
        .filter(col("want") =!= col("split"))
        .count()
      val bad = straddle + wrongKey + recoin
      Result("no q101 cluster straddles splits; group key + md5 coin re-derived exactly", n.toDouble, bad, bad == 0L)
    }

    // -- q108: incremental delta apply == full q101 rebuild, exactly ---------
    check("q108_incremental_clusters") {
      val inc = operators.Dedup.q108IncrementalClusters(spark, sfDir)
      val full = operators.Dedup.q101LshDupClusters(spark, sfDir)
      val n = inc.count()
      // per-frame tagged counts: every (doc_id, cluster, cluster_size) row
      // must appear exactly once in EACH frame — a plain union count of 2
      // could not tell "one in each" from "twice in one, absent from the
      // other" (a duplicated-row divergence would slip through)
      val bad = inc
        .select(col("doc_id"), col("cluster"), col("cluster_size"), lit(1).as("a"), lit(0).as("b"))
        .unionByName(
          full.select(col("doc_id"), col("cluster"), col("cluster_size"), lit(0).as("a"), lit(1).as("b"))
        )
        .groupBy(col("doc_id"), col("cluster"), col("cluster_size"))
        .agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
        .filter(col("na") =!= 1 || col("nb") =!= 1)
        .count()
      Result("incremental delta apply equals the full q101 rebuild exactly", n.toDouble, bad, bad == 0L)
    }

    // -- q113: cross-split pairs subset-of-exact + recall vs exact ----------
    // RETAINED after the r15 oracle promotion as the RECALL observability:
    // the oracle replays the banded screen exactly (candidates included),
    // but only this check measures how much of the EXACT cross-split pair
    // set the banding surfaces per run.
    check("q113_neardup_contamination") {
      val rep = operators.Dedup.q113NeardupContamination(spark, sfDir).localCheckpoint()
      // exact cross-split near-dup pairs, re-derived from raw text and the
      // q49 md5 coin independently of the query's code path (including an
      // inline re-spelling of the coin — the q107 tautology rule); token
      // keys are the default path's md5-60-bit construction so the jaccard
      // values compare exactly
      val t = core.Tables
        .documents(spark, sfDir)
        .withColumn(
          "toks",
          expr(
            "array_sort(array_distinct(transform(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' '), " +
              "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) AS bigint))))"
          )
        )
        .withColumn("sz", size(col("toks")))
        .withColumn("b", conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int"))
        .withColumn("is_test", col("b") >= 230)
        .select(col("lang"), col("doc_id"), col("toks"), col("sz"), col("is_test"))
      val inter = expr("sorted_intersect_count(l.toks, r.toks)").cast("double")
      val jac = inter / (col("l.sz") + col("r.sz") - inter)
      val exact = t
        .as("l")
        .join(
          t.as("r"),
          // membership under the QUERY's floored-micro semantics:
          // floor(j*1e6+0.5)/1e6 >= 0.8 <=> raw j >= 0.7999995, so a
          // legitimately-emitted borderline pair is never a phantom; the
          // size prune relaxes to 0.799 to match (ratio >= j >= 0.7999995)
          col("l.lang") === col("r.lang") && !col("l.is_test") && col("r.is_test") &&
            col("l.sz") * 0.799 <= col("r.sz") && col("r.sz") * 0.799 <= col("l.sz") && jac >= 0.7999995
        )
        .select(
          col("l.doc_id").as("pa"),
          col("r.doc_id").as("pb"),
          expr("floor(CAST(sorted_intersect_count(l.toks, r.toks) AS DOUBLE) * 1e6 " +
            "/ (l.sz + r.sz - sorted_intersect_count(l.toks, r.toks)) + 5e-1) / 1e6").as("j")
        )
        .localCheckpoint()
      val repPairs = rep.select(col("doc_a").as("pa"), col("doc_b").as("pb"), col("jaccard"))
      val phantom = repPairs.join(exact, Seq("pa", "pb"), "left_anti").count()
      val wrongJ = repPairs.join(exact, Seq("pa", "pb")).filter(col("jaccard") =!= col("j")).count()
      val want = exact.count()
      val hit = repPairs.join(exact.select(col("pa"), col("pb")), Seq("pa", "pb")).count()
      val recall = if (want == 0) -1.0 else hit.toDouble / want
      Result(
        "cross-split pairs subset-of-exact (precision 1); recall vs exact",
        recall,
        phantom + wrongJ,
        phantom + wrongJ == 0L && (want == 0L || recall >= 0.8)
      )
    }

    // -- q125: IVF-candidate bitext mining vs the exact q121 miner ----------
    check("q125_bitext_mining_ivf") {
      val ivf = operators.Retrieval.q125BitextMiningIvf(spark, sfDir).localCheckpoint()
      val exact = operators.Retrieval.q121BitextMining(spark, sfDir).localCheckpoint()
      val n = ivf.count()
      // structural: one pair per target, margin above the keep threshold
      val dupTgt = n - ivf.select(col("tgt_id")).distinct().count()
      val badMargin = ivf.filter(col("margin") <= operators.Retrieval.MARGIN_T).count()
      // cosines must be bit-identical to the exact miner's on every common
      // pair — the index restricts the candidate SET, never the arithmetic
      val c6Mismatch = ivf
        .select(col("tgt_id"), col("src_id"), col("c6").as("c6_ivf"))
        .join(exact.select(col("tgt_id"), col("src_id"), col("c6")), Seq("tgt_id", "src_id"))
        .filter(col("c6_ivf") =!= col("c6"))
        .count()
      val want = exact.count()
      val hit = ivf
        .select(col("tgt_id"), col("src_id"))
        .join(exact.select(col("tgt_id"), col("src_id")), Seq("tgt_id", "src_id"))
        .count()
      val recall = if (want == 0) -1.0 else hit.toDouble / want
      Result(
        "mined-pair recall vs exact q121; one-per-target, margin>T, shared c6",
        recall,
        dupTgt + badMargin + c6Mismatch,
        dupTgt + badMargin + c6Mismatch == 0L && (want == 0L || recall >= 0.9)
      )
    }

    // -- q138: IVF-candidate kNN purity vs the exact q136 -------------------
    check("q138_knn_purity_ivf") {
      val ivf = operators.Similarity.q138KnnPurityIvf(spark, sfDir).localCheckpoint()
      val exact = operators.Similarity.q136KnnPurity(spark, sfDir).localCheckpoint()
      val want = exact.count()
      val joined = ivf
        .select(col("vec_id"), col("n_same_label").as("ns_ivf"))
        .join(exact.select(col("vec_id"), col("n_same_label").as("ns_exact")), Seq("vec_id"))
        .localCheckpoint()
      // coverage: a cell layout that strands anchors must not pass silently
      val missing = want - joined.count()
      // agreement: purity within one neighbor of the exact diagnostic — the
      // probe restricts candidates, so small drifts are expected; verdict-
      // flipping drifts are not
      val agree = joined.filter(expr("abs(ns_ivf - ns_exact) <= 1")).count()
      val agreeFrac = if (want == 0) -1.0 else agree.toDouble / want
      Result(
        "per-vector purity agreement (within one neighbor) vs exact q136; full anchor coverage",
        agreeFrac,
        missing,
        missing == 0L && (want == 0L || agreeFrac >= 0.9)
      )
    }

    out.toSeq
  }
}
