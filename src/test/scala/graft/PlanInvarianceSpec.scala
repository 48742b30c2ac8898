package graft

import org.apache.spark.sql.Row

/** Results must be PLAN-invariant: the same query under a different
  * physical configuration (AQE off, a different shuffle partition count)
  * must produce the same rows — the property that makes a result
  * trustworthy on a 1000-executor cluster whose runtime re-planning and
  * partitioning will never match the test box. A representative slice of
  * the registry (joins, windows, sessionization, salted skew paths, the
  * iterative CC loop, SCD2, the composed corpus build) is executed under
  * each configuration and compared value-by-value; doubles get a relative
  * tolerance because partition count legitimately changes float addition
  * order, and that last-ulp drift is exactly what the comparison must not
  * confuse with a correctness bug.
  *
  * Deliberately excluded: ANN probes (session-cached index makes the runs
  * trivially equal) and q48's raw sample (sampleBy seeds per partition, so
  * partition count changes the draw — its registered envelope form IS the
  * partition-stable contract and is included).
  */
class PlanInvarianceSpec extends SparkSpec {

  private val subset = Seq(
    "q01_pricing_summary",
    "q05_local_supplier",
    "q10_set_ops",
    "q13_top_orders_per_customer",
    "q22_sessionize",
    "q43_salted_agg",
    "q48_stratified_sample",
    "q61_dup_clusters",
    "q72_curation_funnel",
    "q77_corpus_build",
    "q87_skew_join",
    "q89_scd2",
    "q91_chunking",
    "q96_ewma_anomaly",
    "q97_conversion_funnel"
  )

  /** Sort rows into a canonical order by a key that ROUNDS doubles (6 sig
    * figs): last-ulp float drift between runs must not reorder rows, or
    * the pairwise compare would diff mismatched rows.
    */
  private def canon(rows: Array[Row]): Seq[Seq[Any]] =
    rows
      .map(_.toSeq)
      .sortBy(_.map {
        case d: Double => f"$d%.6e"
        case f: Float  => f"${f.toDouble}%.4e"
        case x         => String.valueOf(x)
      }.mkString(" "))
      .toSeq

  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Float, y: Float) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-5f * math.max(1.0f, math.max(math.abs(x), math.abs(y)))
    case (x: Seq[_], y: Seq[_]) => x.size == y.size && x.zip(y).forall { case (u, v) => sameValue(u, v) }
    case (x: Row, y: Row)       => sameValue(x.toSeq, y.toSeq)
    case (x, y)                 => x == y
  }

  private def assertSame(name: String, mode: String, base: Seq[Seq[Any]], alt: Seq[Seq[Any]]): Unit = {
    assert(base.size == alt.size, s"$name [$mode]: ${base.size} vs ${alt.size} rows")
    base.zip(alt).zipWithIndex.foreach { case ((b, a), i) =>
      assert(sameValue(b, a), s"$name [$mode] row $i differs:\n  base $b\n  alt  $a")
    }
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("representative queries: identical results with AQE disabled and under a different shuffle width") {
    val queries = SparkEntry.queries
    val baselines = subset.map { name =>
      name -> canon(queries(name)(spark, sfDir).collect())
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      baselines.foreach { case (name, base) =>
        assertSame(name, "aqe-off", base, canon(queries(name)(spark, sfDir).collect()))
      }
    }
    withConf("spark.sql.shuffle.partitions" -> "7") {
      baselines.foreach { case (name, base) =>
        assertSame(name, "shuffle-7", base, canon(queries(name)(spark, sfDir).collect()))
      }
    }
  }

  test("native-expression queries: interpreted evaluation equals codegen") {
    // Every custom Catalyst Expression here (vec_dot, sorted-intersect,
    // simhash64, minhash_sigs16, bloom_contains) carries a
    // hand-written doGenCode beside its eval — divergence between the two
    // paths is the classic native-expression bug class, and wholestage-off
    // alone does NOT force interpreted eval (Spark still codegens
    // projections unless the factory mode says otherwise). Compare the
    // expression-heavy queries' results under fully interpreted
    // (NO_CODEGEN + wholestage off) against the default codegen'd run.
    val exprQueries = Seq(
      "q30_minhash_pairs",
      "q31_simhash_pairs",
      "q32_token_jaccard",
      "q60_lsh_neardup",
      "q88_bloom_prune"
    )
    val queries = SparkEntry.queries
    val baselines = exprQueries.map(n => n -> canon(queries(n)(spark, sfDir).collect()))
    withConf(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"
    ) {
      baselines.foreach { case (name, base) =>
        assertSame(name, "interpreted", base, canon(queries(name)(spark, sfDir).collect()))
      }
    }
  }
}
