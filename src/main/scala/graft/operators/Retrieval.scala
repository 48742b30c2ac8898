package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Ranked retrieval over the `documents` corpus — the "find me the docs most
  * about X" primitive a training-data pipeline runs for targeted corpus
  * slicing (topic-focused subset extraction, eval-set mining, contamination
  * triage beyond exact n-gram hits). The reference has no retrieval surface;
  * this is a ★-addition in the q62 TF-IDF family, upgraded to the scoring
  * function real retrieval stacks actually use.
  *
  * q103 scores every document against a fixed query-term set with Okapi
  * BM25 (the Lucene/Elasticsearch default): per-term
  * `idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))` with
  * `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`, k1 = 1.2, b = 0.75.
  *
  * Scale shape — deliberately NOT the q62 explode pipeline: the query-term
  * set is tiny and fixed, so per-document term frequencies come from
  * per-row `filter(tokens, x -> x = term)` projections (whole-stage
  * codegen, no token explode, no (doc, term) shuffle at all). The corpus
  * scan happens once: the narrow per-doc stat frame (doc_id, dl, tf ×
  * |terms|) is staged with `localCheckpoint`, the corpus constants
  * (N, avgdl, df per term — ONE row) aggregate from it and broadcast back
  * via crossJoin, and the final top-k is `orderBy(...).limit(k)` =
  * TakeOrderedAndProject, the distributed heap — no global window over the
  * corpus. At 100 TB this is one fact scan + a 1-row broadcast + a top-k.
  *
  * Determinism across engines: the score is floor-rounded at 6dp BEFORE
  * ranking with a doc_id-asc tiebreak (house q62/q12 rule), so libm ULP
  * differences in ln() can neither flip the ranking nor the emitted value.
  */
object Retrieval {

  /** Fixed retrieval query — terms chosen to have distinct document
    * frequencies in the synthetic corpus so the idf weighting is exercised.
    */
  val QUERY_TERMS: Seq[String] = Seq("spark", "vector", "stream", "window")
  val K1 = 1.2
  val B = 0.75
  val TOP_K = 20

  private def toks: Column = expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")

  /** The fixed-order BM25 score over columns (tf$i, df$i, n_docs, avgdl,
    * dl) — idf in the +1 (Lucene) form so it is always positive; everything
    * stays inside whole-stage codegen. ONE expression shared by q103's
    * corpus-scan path and q122's inverted-index path, so the two produce
    * bit-identical doubles (a re-derived copy could drift by an ULP and
    * flip a 6dp floor).
    */
  private def bm25TermScore: Column = QUERY_TERMS.indices
    .map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = expr(s"ln(1e0 + (cast(n_docs AS double) - df$i + 5e-1) / (df$i + 5e-1))")
      idf * (tf * lit(K1 + 1)) /
        (tf + lit(K1) * (lit(1 - B) + lit(B) * col("dl").cast("double") / col("avgdl")))
    }
    .reduce(_ + _)

  /** Matched-query-term count over the tf$i columns (shared like
    * [[bm25TermScore]]).
    */
  private def bm25Matched: Column =
    QUERY_TERMS.indices.map(i => when(col(s"tf$i") > 0, 1).otherwise(0)).reduce(_ + _)

  // ---------------------------------------------------------------------------
  // q103 — BM25 top-k retrieval for the fixed query-term set.
  // ---------------------------------------------------------------------------
  /** q103's scoring pass BEFORE the top-k: every matching document with its
    * floor-6dp BM25 score and matched-term count. Factored out so q120's
    * graded qrels read the SAME arithmetic (rel = n_matched) instead of a
    * near-duplicate scan that could drift from the ranker it judges.
    * Session-cached: q103, q118's lexical leg, and q120's qrels all read
    * this frame, and each used to pay its own corpus scan + checkpoint.
    * Same contract as the other stages: the documents table is immutable
    * within a session run, and the streaming maintainer ticks call
    * SessionCache.invalidateAllFor after landing data.
    */
  private val bm25Scored = Stage("q103_scored")((spark, dir) => bm25ScoredFresh(spark, dir))

  private def bm25ScoredFresh(spark: SparkSession, dir: String): DataFrame = {
    // Per-doc stats in ONE text scan: document length + tf per query term as
    // pure projections over the tokenized array (no explode, no shuffle).
    val tfCols = QUERY_TERMS.zipWithIndex.map { case (t, i) =>
      size(expr(s"filter(toks, x -> x = '$t')")).cast("long").as(s"tf$i")
    }
    val stats = Tables
      .balanced(Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .withColumn("toks", toks)
      .select(col("doc_id") +: size(col("toks")).cast("long").as("dl") +: tfCols: _*)
      .localCheckpoint() // one corpus scan feeds both the constants agg and the scoring pass

    // Corpus constants: ONE row (N, avgdl, df per term) -> broadcast.
    val dfCols = QUERY_TERMS.indices.map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val aggCols = count(lit(1)).as("n_docs") +: avg(col("dl")).as("avgdl") +: dfCols
    val consts = stats.agg(aggCols.head, aggCols.tail: _*)

    stats
      .crossJoin(broadcast(consts))
      .withColumn("n_matched", bm25Matched)
      .filter(col("n_matched") > 0)
      // floor-form 6dp round BEFORE ranking (q62 rule): cross-engine ln ULPs
      // cannot flip order or value
      .withColumn("score", floor(bm25TermScore * lit(1e6) + lit(0.5)) / lit(1e6))
      .select(col("doc_id"), col("n_matched"), col("score"))
  }

  def q103Bm25(spark: SparkSession, dir: String): DataFrame = {
    val scored = bm25Scored(spark, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TOP_K) // TakeOrderedAndProject: distributed top-k, no global window

    // rank over the already-limited TOP_K rows only — a single-partition
    // window over <= 20 rows, not over the corpus
    scored
      .withColumn("rank", row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("n_matched"), col("score"))
      .orderBy(col("rank"))
  }

  val q103Oracle: String = {
    val tfDefs = QUERY_TERMS.zipWithIndex
      .map { case (t, i) => s"len(list_filter(toks, x -> x = '$t'))::BIGINT AS tf$i" }
      .mkString(",\n    ")
    val dfDefs = QUERY_TERMS.indices
      .map(i => s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
      .mkString(", ")
    val termSum = QUERY_TERMS.indices
      .map { i =>
        s"""ln(1 + (n_docs::DOUBLE - df$i + 0.5) / (df$i + 0.5))
           |      * (tf$i::DOUBLE * ${K1 + 1}) / (tf$i::DOUBLE + $K1 * ((1 - $B) + $B * dl::DOUBLE / avgdl))""".stripMargin
      }
      .mkString("\n    + ")
    val matchedSum = QUERY_TERMS.indices.map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       |  FROM documents),
       |stats AS (
       |  SELECT doc_id, len(toks)::BIGINT AS dl,
       |    $tfDefs
       |  FROM tok),
       |consts AS (
       |  SELECT count(*) AS n_docs, avg(dl) AS avgdl, $dfDefs FROM stats),
       |scored AS (
       |  SELECT doc_id, $matchedSum AS n_matched,
       |    floor(($termSum) * 1e6 + 0.5) / 1e6 AS score
       |  FROM stats CROSS JOIN consts
       |  WHERE $matchedSum > 0),
       |topk AS (
       |  SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT $TOP_K)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
       |       doc_id, CAST(n_matched AS INT) AS n_matched, score
       |FROM topk
       |ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q118 — HYBRID retrieval: reciprocal-rank fusion (RRF, Cormack et al.
  // 2009 — the default fusion in Elasticsearch/OpenSearch hybrid search) of
  // the q103 BM25 list with a dense cosine list, the two-tower recipe an
  // eval-set / hard-negative mining pass actually runs. The dense probe is
  // pseudo-relevance: the TOP lexical hit that has an embedding seeds the
  // vector search (no query encoder exists for raw terms — PRF is the
  // standard bridge), its unit vector is cosine-ranked against the corpus
  // (self excluded, q34's convention), and the two ≤TOP_K lists fuse as
  // score(d) = Σ_lists 1/(RRF_K + rank_list(d)).
  //
  // Engine-exactness: ranks are integers, 1/(60+r) is one IEEE division and
  // the fusion sum has ≤2 terms — bit-identical in both engines; the dense
  // cosine reuses q34's exact arithmetic (unit-normalize via `aggregate`,
  // dot via `vec_dot` = DuckDB's left-to-right list_sum) and is
  // floor-6dp-rounded BEFORE ranking (q103's rule) so a ULP cannot flip an
  // order. Docs without embeddings (the normal case at scale — sf0.1 embeds
  // 2k of 5k docs) simply have no dense rank; fusion degrades per-doc, not
  // globally.
  //
  // Scale shape: q103's scan + top-k, ONE embeddings scan + a 1-row
  // broadcast seed vector + TakeOrderedAndProject for the dense top-k, then
  // windows/joins over ≤2·TOP_K rows only. At 100 TB: two fact scans, two
  // distributed heaps, constant-size fusion.
  // ---------------------------------------------------------------------------
  val RRF_K = 60

  def q118HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val lex = q103Bm25(spark, dir).select(col("doc_id"), col("rank").as("lex_rank"))

    // unit-normalized embeddings — q34's exact normalization arithmetic
    val unitEmb = Tables
      .embeddings(spark, dir)
      .withColumn(
        "__nrm",
        expr("sqrt(aggregate(embedding, 0D, (a, e) -> a + cast(e AS double) * cast(e AS double)))")
      )
      .withColumn("unit", expr("transform(embedding, x -> cast(x AS double) / __nrm)"))
      .select(col("vec_id"), col("unit"))

    // pseudo-relevance seed: the best lexical hit that HAS an embedding —
    // 1 row, broadcast into the dense scan
    val seed = lex
      .join(unitEmb, lex("doc_id") === unitEmb("vec_id"))
      .orderBy(col("lex_rank"))
      .limit(1)
      .select(col("vec_id").as("seed_id"), col("unit").as("qv"))

    val denseTop = Tables
      .balanced(unitEmb)
      .crossJoin(broadcast(seed))
      .filter(col("vec_id") =!= col("seed_id"))
      .withColumn("c6", floor(expr("vec_dot(qv, unit)") * lit(1e6) + lit(0.5)) / lit(1e6))
      .select(col("vec_id"), col("c6"))
      .orderBy(col("c6").desc, col("vec_id"))
      .limit(TOP_K) // TakeOrderedAndProject: distributed top-k, no corpus window
    // rank over the already-limited TOP_K rows only (q103's rule)
    val dense = denseTop
      .withColumn("dense_rank", row_number().over(Window.orderBy(col("c6").desc, col("vec_id"))))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))

    lex
      .join(dense, Seq("doc_id"), "full_outer")
      .withColumn(
        "rrf",
        floor(
          (coalesce(lit(1.0) / (lit(RRF_K) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RRF_K) + col("dense_rank")), lit(0.0))) * lit(1e6) + lit(0.5)
        ) / lit(1e6)
      )
      .withColumn("rank", row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("lex_rank"), col("dense_rank"), col("rrf"))
      .orderBy(col("rank"))
  }

  /** Oracle: q103's CTE chain re-used for the lexical list (spliced
    * textually, the q99 trick), the q34 unit/cosine arithmetic for the
    * dense list, and the same integer-rank RRF fusion.
    */
  lazy val q118Oracle: String = {
    // q103Oracle = "WITH tok AS (...),\ntopk AS (...)\nSELECT CAST(row_number..."
    val selIdx = q103Oracle.indexOf("\nSELECT CAST(row_number()")
    require(
      selIdx >= 0,
      "q118Oracle splices q103Oracle's CTE chain by its final-SELECT header — " +
        "the header was reworded; update this splice anchor with it"
    )
    val lexCtes = q103Oracle.substring(0, selIdx)
    s"""$lexCtes,
       |lex AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS lex_rank
       |  FROM topk),
       |u AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> x::DOUBLE / sqrt(list_sum(list_transform(embedding, e -> e::DOUBLE * e::DOUBLE)))) AS unit
       |  FROM embeddings),
       |seed AS (
       |  SELECT u.vec_id AS seed_id, u.unit AS qv
       |  FROM lex JOIN u ON u.vec_id = lex.doc_id
       |  ORDER BY lex.lex_rank LIMIT 1),
       |dscored AS (
       |  SELECT e.vec_id,
       |         floor(list_sum(list_transform(list_zip(s.qv, e.unit), z -> z[1] * z[2])) * 1e6 + 0.5) / 1e6 AS c6
       |  FROM u e CROSS JOIN seed s WHERE e.vec_id <> s.seed_id),
       |dtop AS (SELECT vec_id, c6 FROM dscored ORDER BY c6 DESC, vec_id LIMIT $TOP_K),
       |dr AS (
       |  SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY c6 DESC, vec_id) AS INT) AS dense_rank
       |  FROM dtop),
       |fused AS (
       |  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
       |         floor((coalesce(1.0 / ($RRF_K + l.lex_rank), 0) +
       |                coalesce(1.0 / ($RRF_K + d.dense_rank), 0)) * 1e6 + 0.5) / 1e6 AS rrf
       |  FROM lex l FULL OUTER JOIN dr d ON l.doc_id = d.doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank,
       |       doc_id, lex_rank, dense_rank, rrf
       |FROM fused ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q120 — retrieval QUALITY EVAL: NDCG@10 / MRR / Recall@20 for each ranker
  // the suite ships (q103's lexical BM25 list, q118's dense cosine list,
  // q118's RRF fusion), judged against corpus-derived graded qrels — the
  // measurement step every retrieval deployment runs before trusting a
  // ranker for corpus slicing or eval-set mining. Qrels are deterministic
  // and data-derived: rel(doc) = the count of distinct query terms the doc
  // contains (1..4, q103's own n_matched), so the ground truth comes from
  // the same tokenization the rankers see and the oracle can reproduce it
  // exactly.
  //
  // Metrics (per ranker): NDCG@10 with gain 2^rel - 1 and the standard
  // log2(rank+1) discount, normalized by the corpus-ideal IDCG@10 (top-10
  // docs by rel desc, doc_id asc); MRR = 1/rank of the first rel>0 hit
  // (0 when none); Recall@20 = rel>0 docs inside the top-20 / all rel>0
  // docs. Engine-exactness: ranks are integers, 1/r and hits/n_rel are
  // single IEEE divisions, and every emitted metric is floor-6dp-rounded;
  // the <=10-term DCG sums leave sub-ULP slack far below the 1e-6 grid.
  //
  // Scale shape: ONE corpus scan for the qrels (the q103 stats pass),
  // TakeOrderedAndProject for the ideal top-10, two 1-row broadcast
  // constants (IDCG, n_rel), and every per-ranker aggregate runs over the
  // <=3 x 2*TOP_K run rows. At 100 TB: one fact scan + constant-size math.
  // ---------------------------------------------------------------------------
  val NDCG_K = 10

  /** q118's fused ranking as a session artifact (<= 2*TOP_K rows): q120
    * judges the SAME three lists q118 emits, so the eval reads one cached
    * copy instead of re-running the full hybrid build (q103 top-k + seed +
    * dense scan + fusion — ~10 scheduler barriers) per repetition. q118's
    * own timed path still computes fresh (it IS the declared fusion query —
    * the q181/q156 discipline).
    */
  private val q118Fused = Stage("q118_fused")((spark, dir) => q118HybridRrf(spark, dir).localCheckpoint())

  def q120RetrievalEval(spark: SparkSession, dir: String): DataFrame = {
    // one q118 build feeds all three run lists (<=2*TOP_K rows)
    val fused = q118Fused(spark, dir)
    // graded qrels from q103's OWN scoring pass: rel = matched-term count.
    // bm25Scored is already a session-cached checkpoint — a second
    // localCheckpoint of this projection would only add a barrier job per
    // call for lineage that is already one cached read deep.
    val rels = bm25Scored(spark, dir)
      .select(col("doc_id"), col("n_matched").as("rel"))

    val gain = (pow(lit(2.0), col("rel")) - lit(1.0)) / log2(col("rank").cast("double") + lit(1.0))
    // corpus-ideal DCG@10: top-10 docs by rel — TakeOrderedAndProject, then
    // a window over those <=10 rows only
    val ideal = rels
      .orderBy(col("rel").desc, col("doc_id"))
      .limit(NDCG_K)
      .withColumn("rank", row_number().over(Window.orderBy(col("rel").desc, col("doc_id"))))
      .agg(sum(gain).as("idcg"))
    val nrel = rels.agg(count(lit(1)).as("n_rel"))

    // the three run lists in ONE pass over fused: stack unpivots
    // (hybrid, rank) / (lex, lex_rank) / (dense, dense_rank) per row and the
    // null filter drops the absent legs — the same multiset the previous
    // 3-way self-union built, without reading fused three times
    val runs = fused
      .selectExpr("doc_id", "stack(3, 'hybrid', rank, 'lex', lex_rank, 'dense', dense_rank) AS (ranker, rank)")
      .filter(col("rank").isNotNull)
      .select(col("ranker"), col("rank"), col("doc_id"))

    def f6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    runs
      .join(rels, Seq("doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
      .groupBy(col("ranker"))
      .agg(
        sum(when(col("rank") <= NDCG_K, gain).otherwise(lit(0.0))).as("dcg"),
        max(when(col("rel") > 0, lit(1.0) / col("rank")).otherwise(lit(0.0))).as("rr"),
        sum(when(col("rank") <= TOP_K && col("rel") > 0, 1L).otherwise(0L)).as("hits")
      )
      .crossJoin(broadcast(ideal))
      .crossJoin(broadcast(nrel))
      .select(
        col("ranker"),
        f6(col("dcg") / col("idcg")).as("ndcg10"),
        f6(col("rr")).as("mrr"),
        f6(col("hits").cast("double") / col("n_rel")).as("recall20")
      )
      .orderBy(col("ranker"))
  }

  /** Oracle: q118's CTE chain (which already carries q103's `scored` = the
    * qrel source) extended with the ideal/IDCG, the three run lists, and
    * the same floor-6dp metric arithmetic.
    */
  lazy val q120Oracle: String = {
    val selIdx = q118Oracle.indexOf("\nSELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id)")
    require(
      selIdx >= 0,
      "q120Oracle splices q118Oracle's CTE chain by its final-SELECT header — " +
        "the header was reworded; update this splice anchor with it"
    )
    val chain = q118Oracle.substring(0, selIdx)
    s"""$chain,
       |hyb AS (
       |  SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank, doc_id FROM fused),
       |rels AS (SELECT doc_id, n_matched AS rel FROM scored),
       |ideal AS (
       |  SELECT sum((power(2, rel) - 1) / log2(rank + 1)) AS idcg FROM (
       |    SELECT rel, CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS INT) AS rank
       |    FROM (SELECT * FROM rels ORDER BY rel DESC, doc_id LIMIT $NDCG_K))),
       |nrel AS (SELECT count(*) AS n_rel FROM rels),
       |runs AS (
       |  SELECT 'hybrid' AS ranker, rank, doc_id FROM hyb
       |  UNION ALL SELECT 'lex' AS ranker, lex_rank AS rank, doc_id FROM fused WHERE lex_rank IS NOT NULL
       |  UNION ALL SELECT 'dense' AS ranker, dense_rank AS rank, doc_id FROM fused WHERE dense_rank IS NOT NULL),
       |m AS (
       |  SELECT r.ranker,
       |         sum(CASE WHEN r.rank <= $NDCG_K
       |                  THEN (power(2, coalesce(q.rel, 0)) - 1) / log2(r.rank + 1) ELSE 0e0 END) AS dcg,
       |         max(CASE WHEN coalesce(q.rel, 0) > 0 THEN 1e0 / r.rank ELSE 0e0 END) AS rr,
       |         sum(CASE WHEN r.rank <= $TOP_K AND coalesce(q.rel, 0) > 0 THEN 1 ELSE 0 END) AS hits
       |  FROM runs r LEFT JOIN rels q USING (doc_id)
       |  GROUP BY r.ranker)
       |SELECT ranker,
       |       floor(dcg / idcg * 1e6 + 0.5) / 1e6 AS ndcg10,
       |       floor(rr * 1e6 + 0.5) / 1e6 AS mrr,
       |       floor(hits::DOUBLE / n_rel * 1e6 + 0.5) / 1e6 AS recall20
       |FROM m CROSS JOIN ideal CROSS JOIN nrel
       |ORDER BY ranker""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q121 — BITEXT MINING by margin scoring (Artetxe & Schwenk 2019's ratio
  // margin, the CCMatrix/WikiMatrix recipe): for every non-English document,
  // the best English translation candidate under
  //   margin(x,y) = cos(x,y) / ((avgK(x over tgt-lang) + avgK(y over en))/2)
  // with K = 4, kept when margin > 1.2 — the op that mines parallel training
  // pairs for translation / cross-lingual models out of two monolingual
  // sides. Margin (not raw cosine) is the published fix for hubness: a
  // vector globally close to everything scores high cosine against all
  // candidates, but its kNN average is equally inflated, so the RATIO stays
  // near 1 and the hub is rejected.
  //
  // Determinism: cosines floor-6dp BEFORE any ranking (q103's rule); both
  // kNN sets are chosen by (c6 desc, id asc) so they are identical across
  // engines; the 4-term kNN averages and the margin division leave sub-ULP
  // slack, and the margin is floor-6dp-rounded BEFORE the per-target
  // argmax, so a libm ULP can flip neither the kNN set, the best-pair
  // choice, nor an emitted value.
  //
  // Scale shape: the pair block is |en|x|foreign| per language — an
  // exhaustive contract that CANNOT scale, which is why this function is
  // NOT a registry entry (r13, the q61→q101 demotion pattern): the shipped
  // mining query is q125 (IVF candidates, sub-quadratic), and this exact
  // miner survives only as its ground truth — the SelfCheck recall floor
  // (>= 0.9) and RetrievalSpec's first-principles replay both measure q125
  // against it. The two kNN-average passes are keyed windows over the pair
  // frame (tgt_id / (src_id, lang)); the final per-target argmax is one
  // more keyed window over the already-scored frame.
  // ---------------------------------------------------------------------------
  val BITEXT_K = 4
  val MARGIN_T = 1.2

  /** Embeddings with language, unit-normalized (q34/q118's exact
    * arithmetic) — shared by q121's exhaustive block and q125's
    * IVF-candidate block so cosines are bit-identical across the two.
    * Session-cached WITH the raw embedding column: q125 needs raw vectors
    * for the IVF cell probes (trained-quantizer space) and unit vectors
    * for the cosines, so one cached frame serves both and a repetition no
    * longer pays two embeddings scans + a documents join + the normalize
    * projection per call.
    */
  private val unitEmb = Stage("q125_emb") { (spark, dir) =>
    Tables
      .balanced(Tables.embeddings(spark, dir))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), col("vec_id") === col("doc_id"))
      .withColumn(
        "__nrm",
        expr("sqrt(aggregate(embedding, 0D, (a, e) -> a + cast(e AS double) * cast(e AS double)))")
      )
      .withColumn("unit", expr("transform(embedding, x -> cast(x AS double) / __nrm)"))
      .select(col("vec_id"), col("lang"), col("unit"), col("embedding"))
      .localCheckpoint()
  }

  /** The margin-mining tail shared by q121 (exhaustive pair block) and
    * q125 (IVF-candidate pair block): kNN averages as keyed windows over
    * the supplied (lang, src_id, tgt_id, c6) frame, ratio margin floor-6dp
    * BEFORE the per-target argmax, keep at margin > [[MARGIN_T]].
    */
  private def marginMine(pairs: DataFrame): DataFrame = {
    // kNN averages: top-K by (c6 desc, id asc) on each side — keyed windows
    val wTgt = Window.partitionBy(col("tgt_id")).orderBy(col("c6").desc, col("src_id"))
    val avgTgt = pairs
      .withColumn("rn", row_number().over(wTgt))
      .filter(col("rn") <= BITEXT_K)
      .groupBy(col("tgt_id"))
      .agg(avg(col("c6")).as("avg_t"))
    val wSrc = Window.partitionBy(col("src_id"), col("lang")).orderBy(col("c6").desc, col("tgt_id"))
    val avgSrc = pairs
      .withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= BITEXT_K)
      .groupBy(col("src_id"), col("lang"))
      .agg(avg(col("c6")).as("avg_s"))

    val margined = pairs
      .join(avgTgt, Seq("tgt_id"))
      .join(avgSrc, Seq("src_id", "lang"))
      // floor-6dp BEFORE the argmax: the ranked quantity is engine-exact
      .withColumn("margin", floor(col("c6") / ((col("avg_t") + col("avg_s")) / 2) * lit(1e6) + lit(0.5)) / lit(1e6))

    val wBest = Window.partitionBy(col("tgt_id")).orderBy(col("margin").desc, col("src_id"))
    margined
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1 && col("margin") > MARGIN_T)
      .select(col("lang"), col("tgt_id"), col("src_id"), col("c6"), col("margin"))
      .orderBy(col("lang"), col("tgt_id"))
  }

  def q121BitextMining(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val emb = unitEmb(spark, dir)
    val src = emb.filter(col("lang") === "en").select(col("vec_id").as("src_id"), col("unit").as("su"))
    val tgt = Tables
      .balanced(emb.filter(col("lang") =!= "en"))
      .select(col("vec_id").as("tgt_id"), col("lang"), col("unit").as("tu"))

    // the declared mining block: every (en, foreign) cosine, floor-6dp
    val pairs = tgt
      .crossJoin(broadcast(src))
      .withColumn("c6", floor(expr("vec_dot(su, tu)") * lit(1e6) + lit(0.5)) / lit(1e6))
      .select(col("lang"), col("src_id"), col("tgt_id"), col("c6"))
      .localCheckpoint() // one block build feeds both kNN passes + the margin join

    marginMine(pairs)
  }

  // ---------------------------------------------------------------------------
  // q125 — bitext mining over IVF CANDIDATES: the 100 TB path q121's
  // comment declares, shipped. q121's pair block is |en|×|foreign| per
  // language — the declared exhaustive ground-truth contract (q34's). This
  // variant generates candidates from the q36 IVF index instead: each
  // foreign vector probes its BITEXT_NPROBE nearest cells and meets only
  // the English vectors assigned there (a keyed equi-join on cluster — the
  // production FAISS-miner architecture of the CCMatrix pipeline), then the
  // margin arithmetic runs UNCHANGED on the candidate block: cosines come
  // from the same [[unitEmb]] frame (bit-identical to q121's for any pair
  // both consider — the index only restricts the SET), kNN averages and the
  // per-target argmax are [[marginMine]] verbatim.
  //
  // The approximation is honest and selfcheck-gated (the q35/q60 contract):
  // kNN averages over candidates can drift a marginal pair (and admit a
  // few sub-threshold ones — avg over a restricted set can only drop, so
  // margins inflate), so the gate is mined-pair recall vs the exact q121
  // set (floor 0.9) plus structural checks (one pair per target,
  // margin > T, c6 equal to q121's on every common pair).
  // BITEXT_NPROBE = 12 of the toy C=16 cells: cross-lingual best-matches
  // sit at modest cosine, far less cell-concentrated than q36's same-point
  // neighbors, so mining needs much deeper probes than top-k serving's
  // nprobe=4 (measured: recall 0.69 at 6, 0.90 at 10, 0.94 at 12). At real
  // corpora C grows ~sqrt(N) and the probed fraction falls with it.
  // ---------------------------------------------------------------------------
  val BITEXT_NPROBE = 12

  def q125BitextMiningIvf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val (cents, corpus) = Similarity.buildIvfIndex(spark, dir) // (vec_id, vb, cluster)
    val fn = Similarity.installCentroidRanks(spark, cents)
    val emb = unitEmb(spark, dir)
    val src = emb.filter(col("lang") === "en").select(col("vec_id").as("src_id"), col("unit").as("su"))
    val enCells = corpus.select(col("vec_id").as("src_id"), col("cluster"))

    // probe cells in RAW space (the trained quantizer's geometry, q36's
    // rule); each (tgt, src) pair appears at most once — an en vector
    // lives in exactly one cell and the probed cells are distinct. The
    // lang filter runs BEFORE the centroid-rank projection so the per-row
    // C-distance sort is never spent on English vectors; the cached
    // [[unitEmb]] frame carries the raw embedding alongside the unit
    // vector, so no second embeddings scan or re-join is needed.
    val tgtProbes = emb
      .filter(col("lang") =!= "en")
      .select(
        col("vec_id").as("tgt_id"),
        col("lang"),
        col("unit").as("tu"),
        explode(expr(s"slice($fn(transform(embedding, x -> cast(x AS double))), 1, $BITEXT_NPROBE)")).as("cluster")
      )

    val candidates = tgtProbes
      .join(enCells, Seq("cluster")) // keyed equi-join: only co-cell pairs
      .join(src, Seq("src_id"))
      .withColumn("c6", floor(expr("vec_dot(su, tu)") * lit(1e6) + lit(0.5)) / lit(1e6))
      .select(col("lang"), col("src_id"), col("tgt_id"), col("c6"))
      .localCheckpoint() // one candidate build feeds both kNN passes + the margin join

    marginMine(candidates)
  }

  // ---------------------------------------------------------------------------
  // q122 — BM25 served from a PERSISTED INVERTED INDEX. q103 is the scan
  // path: one pass over the corpus per query batch, the right shape when
  // retrieval runs once per curation sweep. This is the serve path: the
  // corpus is tokenized ONCE into a posting-list table
  //   postings(term, doc_id, tf, dl)   bucketed + sorted by term
  // plus corpus-stats slices (n_docs, dl_sum — exact LONGs), committed
  // under the same sidecar-last / data-fingerprint protocol as the ANN
  // index families (Similarity.scala's persistFamilyFor). A query then
  // probes `term IN (query terms)` — Spark prunes to the matching BUCKETS
  // (SelectedBucketsCount in the plan) and never touches `documents` — and
  // per-term df falls out of the probe itself (count of postings rows per
  // term), so the only extra artifact beyond postings is the 1-row corpus
  // totals. At 100 TB this is the difference between a corpus scan per
  // query and a few-bucket read: the Lucene/Elasticsearch architecture,
  // expressed as a bucketed parquet table.
  //
  // Exactness: tf/df/dl/n_docs are the same integers q103 derives, avgdl
  // is the same exact division (dl_sum < 2^53 so the double sum is exact
  // in both paths), and the score expression is SHARED ([[bm25TermScore]])
  // — q122's output is bit-identical to q103's, which is why it carries
  // q103's full DuckDB oracle rather than a weaker self-check.
  //
  // Refresh: `graft.bm25.refresh=append` extends the index for an
  // append-only corpus change — delta postings land as new bucket files,
  // a delta (n_docs, dl_sum) slice lands beside them, sidecar last. df
  // needs no maintenance at all (derived from the probe), which is what
  // makes BM25 append-friendly where e.g. a materialized-idf design would
  // need a full vocab rewrite per tick.
  // ---------------------------------------------------------------------------
  val Bm25IndexDirConf = "graft.bm25.indexDir"
  val Bm25RefreshConf = "graft.bm25.refresh"
  private val BM25_BUCKETS = 16

  private def bm25Spec = Similarity.IndexSpec(BM25_BUCKETS, Seq("term"), "bm25:tok1")
  private def bm25Path(indexDir: String, dir: String) = s"$indexDir/bm25_${Similarity.indexKey(dir)}"
  private[operators] def bm25Table(dir: String) = s"graft_bm25_${Similarity.indexKey(dir)}"
  private def bm25StatsPath(path: String) = s"${path}_stats"

  private def docSource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  /** The corpus tokenized once: (doc_id, toks) — the staging frame both the
    * postings build and the corpus-stats build read.
    */
  private def bm25TokFrame(docs: DataFrame): DataFrame =
    Tables.balanced(docs).withColumn("toks", toks).select(col("doc_id"), col("toks"))

  /** Posting lists from a tokenized frame: (term, doc_id, tf, dl), one row
    * per distinct (term, doc) — tf and dl are the exact integers q103's
    * array-filter projections produce.
    */
  private def bm25PostingsOf(tok: DataFrame): DataFrame =
    tok
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))

  /** One corpus-stats slice: (n_docs, dl_sum) as exact LONGs. Slices are
    * append-only; readers SUM them, so an append tick writes a delta slice
    * instead of rewriting totals.
    */
  private def bm25StatsSliceOf(tok: DataFrame): DataFrame =
    tok.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("dl_sum")
    )

  /** 1-row corpus constants (n_docs, avgdl) from summed stats slices.
    * avgdl = dl_sum/n_docs with both operands exact longs — the same
    * double q103's avg(dl) computes (partial sums < 2^53 are exact).
    */
  private def bm25ConstsFrom(statsSlices: DataFrame): DataFrame =
    statsSlices
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"), coalesce(sum(col("dl_sum")), lit(0L)).as("dl_sum"))
      // CASE, not a raw divide: an empty corpus has n_docs = 0 and ANSI
      // division would THROW where q103's avg(dl) quietly yields NULL —
      // the NULL branch keeps the two paths' empty contracts identical
      // (no postings exist either way, so avgdl is never read)
      .select(
        col("n_docs"),
        expr("CASE WHEN n_docs = 0 THEN NULL ELSE CAST(dl_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) END").as("avgdl")
      )

  /** Resolve the (postings, 1-row consts) pair: session cache → persisted
    * bucketed table (when `graft.bm25.indexDir` is set and the sidecar
    * matches the current documents fingerprint — a stale index is never
    * served) → in-session build staged off one tokenize pass.
    */
  private val resolveBm25 = Stage("q122_build") { (spark, dir) =>
    val persisted = spark.conf
      .getOption(Bm25IndexDirConf)
      .filter(_.nonEmpty)
      .flatMap { ix =>
        val path = bm25Path(ix, dir)
        Similarity
          .resolvePersistedFor(spark, docSource(spark, dir), "doc_id", bm25Table(dir), path, bm25Spec)
          .map(postings => (postings, bm25ConstsFrom(Tables.parquet(spark, bm25StatsPath(path))).localCheckpoint()))
      }
    persisted.getOrElse {
      val tok = bm25TokFrame(docSource(spark, dir)).localCheckpoint()
      (bm25PostingsOf(tok).localCheckpoint(), bm25ConstsFrom(bm25StatsSliceOf(tok)).localCheckpoint())
    }
  }

  /** Materialize the BM25 index under `indexDir` with the shared ANN-family
    * contract: idempotent ([[Similarity.Current]] on a matching sidecar),
    * `graft.bm25.refresh=append` extends an append-only change
    * ([[Similarity.Appended]] — bit-identical to a rebuild: postings of old
    * docs don't change and df/consts are derived, not frozen), anything
    * else rebuilds from source ([[Similarity.Rebuilt]]), sidecar committed
    * last.
    */
  def persistBm25Index(spark: SparkSession, dir: String, indexDir: String): Similarity.PersistOutcome = {
    val path = bm25Path(indexDir, dir)
    val table = bm25Table(dir)
    val statsDir = bm25StatsPath(path)
    // computeDeltaRows and onAppend both consume the delta within one
    // persist call — stage its tokenized frame once for both (the rebuild
    // path's shape), instead of tokenizing the delta twice
    var deltaTok: Option[DataFrame] = None
    def tokOf(delta: DataFrame): DataFrame = deltaTok.getOrElse {
      val t = bm25TokFrame(delta.select(col("doc_id"), col("text"))).localCheckpoint()
      deltaTok = Some(t)
      t
    }
    Similarity.persistFamilyFor(
      spark,
      docSource(spark, dir),
      "doc_id",
      Bm25RefreshConf,
      table,
      path,
      bm25Spec,
      invalidate = () => resolveBm25.invalidate(spark, dir),
      computeDeltaRows = delta => bm25PostingsOf(tokOf(delta)),
      rebuild = () => {
        Similarity.deletePath(spark, statsDir)
        val tok = bm25TokFrame(docSource(spark, dir)).localCheckpoint()
        graft.sources.Layouts.writeBucketed(bm25PostingsOf(tok), table, Seq("term"), BM25_BUCKETS, path)
        bm25StatsSliceOf(tok).write.mode("overwrite").parquet(statsDir)
      },
      onAppend = delta => bm25StatsSliceOf(tokOf(delta)).write.mode("append").parquet(statsDir)
    )
  }

  def persistBm25Index(spark: SparkSession, dir: String): Similarity.PersistOutcome =
    persistBm25Index(
      spark,
      dir,
      spark.conf.getOption(Bm25IndexDirConf).filter(_.nonEmpty).getOrElse {
        throw new IllegalStateException(s"set $Bm25IndexDirConf or pass indexDir explicitly")
      }
    )

  /** Geometry-free compaction of accumulated append files (one file set per
    * bucket) — the maintenance pass between rebuilds, same contract as the
    * ANN families'.
    */
  def compactBm25Index(spark: SparkSession, dir: String, indexDir: String): Boolean = {
    val path = bm25Path(indexDir, dir)
    Similarity.compactFamilyFor(
      spark,
      Similarity.fingerprintOf(docSource(spark, dir), "doc_id"),
      bm25Table(dir),
      path,
      bm25Spec,
      () => resolveBm25.invalidate(spark, dir)
    )
  }

  def q122Bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    val (postings, consts) = resolveBm25(spark, dir)
    // bucket-pruned probe: only the query terms' buckets are read; staged
    // once for the df aggregate and the per-doc pivot
    val probe = postings.filter(col("term").isin(QUERY_TERMS: _*)).localCheckpoint()
    val dfCols = QUERY_TERMS.indices
      .map(i => sum(when(col("term") === QUERY_TERMS(i), 1L).otherwise(0L)).as(s"df$i"))
    val dfRow = probe.agg(dfCols.head, dfCols.tail: _*)
    val tfCols = QUERY_TERMS.indices
      .map(i => sum(when(col("term") === QUERY_TERMS(i), col("tf")).otherwise(0L)).as(s"tf$i"))
    // pivot back to the FIXED tf$i columns so the shared score expression
    // sums terms in the same order as q103 (a groupBy-sum of per-term
    // contributions would merge in partition order and could drift an ULP)
    val piv = probe.groupBy(col("doc_id"), col("dl")).agg(tfCols.head, tfCols.tail: _*)
    val scored = piv
      .crossJoin(broadcast(consts.crossJoin(dfRow)))
      .withColumn("n_matched", bm25Matched)
      .filter(col("n_matched") > 0)
      .withColumn("score", floor(bm25TermScore * lit(1e6) + lit(0.5)) / lit(1e6))
      .select(col("doc_id"), col("n_matched"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TOP_K)
    scored
      .withColumn("rank", row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("n_matched"), col("score"))
      .orderBy(col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q103_bm25" -> (q103Bm25 _),
    "q118_hybrid_rrf" -> (q118HybridRrf _),
    "q120_retrieval_eval" -> (q120RetrievalEval _),
    // bitext mining's registry entry is the sub-quadratic IVF plan (q125);
    // the exact q121 miner is its ground-truth twin — SelfCheck recall
    // floor + RetrievalSpec replay — not a shipped query (r13, the
    // q61→q101 demotion pattern; closes the last mining BNLJ whitelist)
    "q122_bm25_indexed" -> (q122Bm25Indexed _),
    "q125_bitext_mining_ivf" -> (q125BitextMiningIvf _)
  )

  val oracles: Map[String, String] = Map(
    "q103_bm25" -> q103Oracle,
    "q118_hybrid_rrf" -> q118Oracle,
    "q120_retrieval_eval" -> q120Oracle,
    // bit-identical to q103 by construction (shared integers + shared score
    // expression), so the index path carries the full scan-path oracle
    "q122_bm25_indexed" -> q103Oracle
  )
}
