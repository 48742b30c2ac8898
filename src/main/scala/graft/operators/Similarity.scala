package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, 64-dim): brute-force cosine top-k as the exactness
  * baseline, plus two sub-linear scale paths — random-hyperplane LSH (with
  * query-directed multiprobe) and IVF (k-means coarse quantizer +
  * cluster-probe).
  *
  * Scale design:
  *   - The query set is tiny and broadcast; the corpus is only ever scanned
  *     once per query batch (brute force) or partially (LSH/IVF). No
  *     corpus×corpus join anywhere.
  *   - All vector math is zip_with/aggregate higher-order expressions in
  *     double — codegen'd, no UDF, no driver collect of the corpus.
  *   - LSH/IVF candidate generation shuffles on (bucket) / (cluster) keys.
  *     On real clustered embeddings the probed fraction is small; on the
  *     driver-generated near-uniform corpus (max pairwise cos ≈ 0.51) recall
  *     of any sub-linear method necessarily tracks the scanned fraction.
  *     The [[plantedCorpus]] eval slice — a deterministic clustered corpus
  *     derived from the same table — is where a correct ANN demonstrates
  *     high recall at a small scanned fraction; the bench reports both.
  *   - LSH recall/probe trade-off: multiprobe flips the least-confident
  *     sign bits (smallest |projection|) per table, probing neighbor
  *     buckets without growing the index (the profile's `lshProbes`;
  *     `fast` flips 1 bit per table). IVF's lever is the profile's
  *     `ivfNprobe` (`fast`: 4 of 16 cells). The `*With` entries and the
  *     planted evals take either as an argument for sweeps.
  *   - IVF centroids are learned with 3 Lloyd iterations over a bounded
  *     deterministic sample (corpus-size-independent); only the sample and
  *     k×dim centroid summaries ever reach the driver.
  *   - Indexes are session-cached AND persistable as bucketed tables
  *     (persistLshIndex/persistIvfIndex + spark conf `graft.ann.indexDir`):
  *     a cold session reads the table back instead of rebuilding — the
  *     100 TB shape, where an index is a materialized artifact, not a
  *     per-session computation. The sidecar records a data fingerprint
  *     (row count + max vec_id) and the index parameters; a persisted index
  *     that no longer matches the source data or the code's parameters is
  *     ignored (reads rebuild) and re-persisted on the next persist call —
  *     never served stale. Persist is idempotent: a current index is a
  *     no-op, a stale one is recomputed FROM SOURCE and swapped (the index
  *     table is never read and overwritten in the same job).
  */
object Similarity {

  private val DIM = 64
  private val K = 10
  private val N_QUERIES = 5

  /** Attach a unit-normalized double copy of `vecCol` as `outCol`: cosine
    * then reduces to the codegen'd `vec_dot` (normalize once per row, O(d);
    * pair stage pays one primitive loop).
    */
  private def withUnit(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.withColumn(
      "__nrm",
      expr(s"sqrt(aggregate($vecCol, 0D, (a, e) -> a + cast(e AS double) * cast(e AS double)))")
    ).withColumn(outCol, expr(s"transform($vecCol, x -> cast(x AS double) / __nrm)"))
      .drop("__nrm")

  /** (query_id, qraw, va) for the standard query set: the first N_QUERIES
    * corpus vectors, unit-normalized.
    */
  private def queriesOf(emb: DataFrame): DataFrame =
    withUnit(emb.filter(col("vec_id") < N_QUERIES), "embedding", "va")
      .select(col("vec_id").as("query_id"), col("embedding").as("qraw"), col("va"))

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    queriesOf(Tables.embeddings(spark, dir))

  /** Unit-normalized corpus (vec_id, vb), balanced across cores. */
  private def unitCorpus(emb: DataFrame): DataFrame =
    withUnit(Tables.balanced(emb), "embedding", "vb").select(col("vec_id"), col("vb"))

  /** The embeddings' unit corpus, materialized once per session: the one
    * vector copy that every exact re-rank joins by vec_id (q34's scan, the
    * LSH candidates of q35/q60, the q75/q76 shortlists). Index tables
    * carry ids, never vectors.
    */
  private[operators] val unitEmbeddings =
    Stage("q34_unit")((spark, dir) => unitCorpus(Tables.embeddings(spark, dir)).localCheckpoint())

  /** Exact cosine re-rank of a candidate set (query_id, va, vec_id, vb) →
    * the common tail of every top-k variant.
    */
  private def topKRanked(cands: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    cands
      .withColumn("cosine", expr("vec_dot(va, vb)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[topKRanked]] over candidate ids (query_id, va, vec_id): each
    * candidate meets its unit vector (vec_id, vb) by id — the re-rank of
    * every index-pruned variant.
    */
  private def rerankIds(cands: DataFrame, unit: DataFrame): DataFrame =
    topKRanked(cands.join(unit, "vec_id"))

  // ---------------------------------------------------------------------------
  // q34 — brute-force cosine top-k: broadcast queries × one corpus scan →
  // per-query row_number window → k rows. The exactness baseline every ANN
  // variant is measured against.
  // ---------------------------------------------------------------------------
  private def bruteTopKFrom(queries: DataFrame, corpus: DataFrame): DataFrame =
    topKRanked(
      broadcast(queries.select(col("query_id"), col("va")))
        .join(corpus, col("query_id") =!= col("vec_id"))
    )

  def q34BruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    bruteTopKFrom(queriesDf(spark, dir), unitEmbeddings(spark, dir))
  }

  val q34Oracle: String =
    s"""WITH u AS (
       |  SELECT vec_id,
       |         list_transform(embedding,
       |           x -> x::DOUBLE / sqrt(list_sum(list_transform(embedding, e -> e::DOUBLE * e::DOUBLE)))) AS unit
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, unit AS va FROM u WHERE vec_id < $N_QUERIES),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         list_sum(list_transform(list_zip(q.va, e.unit), z -> z[1] * z[2])) AS cosine
       |  FROM q JOIN u e ON e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q35 — random-hyperplane LSH ANN: T tables × P sign-bits per table.
  // Hyperplane weights are splitmix64-derived (deterministic, no stored
  // model). Candidates = corpus vectors sharing any probed table-bucket with
  // the query; exact cosine re-rank on candidates only, against the unit
  // vectors fetched by vec_id from the shared `q34_unit` stage (the index
  // rows are postings: ids and buckets, no vector).
  //
  // Index/query separation: the bucketed corpus is an INDEX — built once per
  // (session, dir) into a localCheckpoint (executor storage, lineage
  // truncated) and reused by every subsequent call. The round-1 version
  // rebuilt it per run AND inlined T×P×DIM literal doubles into the SQL
  // expressions, which made Janino compile ~seconds of generated code per
  // run; `plane_buckets` holds the plane matrix as a reference object
  // instead (one tiny callback in codegen, like CentroidRanks below).
  //
  // Multiprobe (query side only — the index stores one bucket per table):
  // per table the query also probes the buckets reached by flipping its m
  // least-confident sign bits (smallest |dot|, the planes the true neighbor
  // most plausibly landed on the other side of — Lv et al., "Multi-Probe
  // LSH", VLDB'07). Probing multiplies candidates by ≤(1+m) but multiplies
  // recall per table far more, because the flipped buckets are chosen
  // query-directed, not blindly.
  // ---------------------------------------------------------------------------
  /** Structural ANN profile — the knobs that shape the INDEX (not just the
    * query): LSH table count / sign-bits per table, IVF centroid count,
    * and each family's default probe width. Selected per session via
    * `graft.ann.profile`:
    *
    *   - `fast` (default): the near-dup/clustered-corpus operating point —
    *     planted recall 1.00/1.00 at ~0.2 scanned fraction (the knee of the
    *     published curves). On a near-uniform corpus its recall tracks its
    *     scanned fraction (~0.4-0.5), which is the declared trade.
    *   - `quality`: the uniform-corpus retrieval point — coarser buckets
    *     (fewer sign-bits, more tables) and wide probing push the scanned
    *     fraction to ~0.8, buying uniform recall >= 0.9 (SimilaritySpec
    *     floor; curves in bench_details.json via AnnTune). The honest
    *     statement: on data with NO cluster structure, recall ~ scanned
    *     fraction for ANY sub-linear method — `quality` chooses recall and
    *     pays the scan, still ~4x under brute force at 100 TB and, unlike
    *     it, still index-pruned on real (clustered) corpora.
    *
    * The profile is part of the index identity: session caches key on it
    * and persisted-index sidecars record its parameters, so switching
    * profiles can never serve the other profile's buckets.
    */
  final case class AnnProfile(
      name: String,
      lshTables: Int,
      lshPlanes: Int,
      lshProbes: Int,
      ivfC: Int,
      ivfNprobe: Int,
      lshMinHits: Int = 1
  ) {
    /** Session plane-function names are profile-qualified (the binding per
      * name is immutable — same no-rebind rule as `centroid_ranks_i`).
      */
    private[operators] def fnSuffix: String = if (name == "fast") "" else s"_$name"
  }

  /** `fast`'s probe widths:
    *   - lshProbes 1 is the knee of the published recall/scan-fraction
    *     curve (bench_details.json, sf0.1 planted corpus): it reaches
    *     planted recall 1.00 at candidate fraction 0.199. probes=2 buys NO
    *     planted recall for another 0.075 of the corpus scanned (0.274),
    *     and probes=0 gives up the last 2 points (0.98 at 0.13).
    *   - ivfNprobe 4: unlike the LSH probes, the sf0.1 curve's knee
    *     (planted 1.00 at nprobe=1) does NOT hold at smaller corpora.
    *     Measured planted recall at sf0.001/sf0.01 is 0.66/0.64 at
    *     nprobe=1 and 0.90/0.90 at nprobe=2 (boundary queries whose true
    *     cluster is not their nearest centroid), so fast probes 4 cells
    *     (planted >= 0.98 at every SF) rather than chasing the
    *     large-corpus knee.
    *   - lshMinHits 1 is plain bucket union, the planted operating point.
    */
  val Fast: AnnProfile = AnnProfile("fast", lshTables = 6, lshPlanes = 6, lshProbes = 1, ivfC = 16, ivfNprobe = 4)

  /** Sweep-chosen (tools.AnnTune, sf0.001/0.01/0.1 uniform corpus; r14
    * counting-LSH re-sweep). The r13 LSH point (T=16 x P=6, 3 probes,
    * plain bucket union) bought uniform recall 0.94 at ~0.63-0.65 scanned
    * — above the <= 0.5 target the round carried. The r14 preset adds the
    * COLLISION-COUNT filter (lshMinHits — the C2LSH counting argument:
    * a candidate reaches the exact-distance pass only with >= tau
    * distinct-table collisions, and collision count is monotone in
    * cosine, so the threshold sheds random colliders much faster than
    * true neighbors):
    *   - LSH T=24 x P=6, 5 margin-ranked probes, minHits=3: uniform
    *     recall 0.94/0.92/0.98 at 0.42/0.41/0.42 scanned across
    *     sf0.001/0.01/0.1 — under the 0.5 target at every SF, where no
    *     plain bucket-union point on the swept grid reached 0.9 recall
    *     below ~0.6 scanned. Scan fraction counts exact-distance
    *     evaluations; the count itself is per-row integer arithmetic on
    *     the already-joined bucket arrays (no extra shuffle).
    *   - IVF C=64 (finer quantizer — cell ranking by centroid distance
    *     concentrates true neighbors far better than C=16), nprobe=28:
    *     uniform recall 0.94 at 0.445 scanned at sf0.1 — and the trend
    *     improves with n, so at real corpus sizes the same constant buys
    *     more. Corpora at toy scale (<= [[QualitySmallCorpusN]] vectors)
    *     are over-quantized at C=64 (cells of ~8 points) and take the
    *     widened [[QualityNprobeSmall]] instead so the >= 0.9 floor holds
    *     there too — the FAISS practice of sizing nprobe to the corpus.
    * See the quality_curves block in bench_details.json for the measured
    * recall/fraction grid re-taken every round.
    */
  val Quality: AnnProfile =
    AnnProfile("quality", lshTables = 24, lshPlanes = 6, lshProbes = 5, ivfC = 64, ivfNprobe = 28, lshMinHits = 3)

  /** Below this corpus size the quality IVF preset widens its probes:
    * measured at n=500, nprobe=28 reads recall 0.86-0.88 (over-quantized
    * cells) while 40 restores 0.94; above it the headline constant wins
    * (n=2000: 0.94 at 0.445 scanned).
    */
  val QualitySmallCorpusN = 1024L
  val QualityNprobeSmall = 40

  private[operators] def qualityNprobeFor(corpusN: Long): Int =
    if (corpusN <= QualitySmallCorpusN) QualityNprobeSmall else Quality.ivfNprobe

  val ProfileConf = "graft.ann.profile"

  def annProfile(spark: SparkSession): AnnProfile =
    spark.conf.getOption(ProfileConf).map(_.trim.toLowerCase).filter(_.nonEmpty) match {
      case None | Some("fast") => Fast
      case Some("quality")     => Quality
      case Some(other) =>
        throw new IllegalArgumentException(s"$ProfileConf must be fast or quality, got '$other'")
    }

  /** Deterministic hyperplane weights in [-1,1] (splitmix64-derived),
    * indexed [t * planes + p][dim]. Seeded by (t, p) alone, so a profile's
    * matrix depends only on its geometry.
    */
  private[operators] def planeMatrix(tables: Int, planes: Int): Array[Array[Double]] =
    Array.tabulate(tables * planes) { tp =>
      val t = tp / planes
      val p = tp % planes
      val seed = t.toLong * 100003 + p.toLong * 1009
      Array.tabulate(DIM)(d => graft.functions.VecFunctions.mix64(seed * 8191 + d).toDouble / 9.223372036854776e18)
    }

  /** All T packed sign-bit buckets of a unit vector in ONE call:
    * element t = Σ_p (dot(plane[t,p], x) > 0 ? 2^p : 0). The plane matrix
    * rides along as a codegen reference object — constant-size generated
    * code regardless of T×P×DIM. (Sign bits are scale-invariant, so
    * hashing the unit vector equals hashing the raw vector.)
    */
  private[operators] case class PlaneBuckets(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      planes: Array[Array[Double]],
      nTables: Int,
      nPlanes: Int
  ) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    private def buckets(x: ArrayData): Array[Int] = {
      val n = x.numElements()
      val out = new Array[Int](nTables)
      var t = 0
      while (t < nTables) {
        var packed = 0
        var p = 0
        while (p < nPlanes) {
          val w = planes(t * nPlanes + p)
          var d = 0.0
          var i = 0
          val lim = math.min(n, w.length)
          while (i < lim) { d += x.getDouble(i) * w(i); i += 1 }
          if (d > 0) packed |= (1 << p)
          p += 1
        }
        out(t) = packed
        t += 1
      }
      out
    }

    override protected def nullSafeEval(a: Any): Any =
      ArrayData.toArrayData(buckets(a.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planeBuckets", this, classOf[PlaneBuckets].getName)
      nullSafeCodeGen(
        ctx,
        ev,
        a => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($a);"
      )
    }

    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression
    ): PlaneBuckets = copy(child = c)
  }

  /** Flat probe-bucket array of a unit vector: (1+extra) entries per table —
    * the exact bucket first, then the buckets reached by flipping the
    * `extra` least-confident sign bits one at a time (ranked by |dot|; the
    * planes the query sits closest to are where a true neighbor most likely
    * fell on the other side). Entry layout: probe j of table t at
    * [t*(1+extra) + j], so a posexplode position maps back to its table by
    * integer division — no nested arrays in the plan.
    */
  private[operators] case class PlaneProbes(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      extra: Int,
      planes: Array[Array[Double]],
      nTables: Int,
      nPlanes: Int
  ) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    private def probes(x: ArrayData): Array[Int] = {
      val n = x.numElements()
      val stride = extra + 1
      val out = new Array[Int](nTables * stride)
      val dots = new Array[Double](nPlanes)
      var t = 0
      while (t < nTables) {
        var packed = 0
        var p = 0
        while (p < nPlanes) {
          val w = planes(t * nPlanes + p)
          var d = 0.0
          var i = 0
          val lim = math.min(n, w.length)
          while (i < lim) { d += x.getDouble(i) * w(i); i += 1 }
          dots(p) = math.abs(d)
          if (d > 0) packed |= (1 << p)
          p += 1
        }
        out(t * stride) = packed
        val order = (0 until nPlanes).sortBy(dots)
        var j = 1
        while (j <= extra) {
          out(t * stride + j) = packed ^ (1 << order(j - 1))
          j += 1
        }
        t += 1
      }
      out
    }

    override protected def nullSafeEval(a: Any): Any =
      ArrayData.toArrayData(probes(a.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planeProbes", this, classOf[PlaneProbes].getName)
      nullSafeCodeGen(
        ctx,
        ev,
        a => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($a);"
      )
    }

    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression
    ): PlaneProbes = copy(child = c)
  }

  /** Register this profile's `plane_buckets<suffix>` / `plane_probes<suffix>`
    * session functions (idempotent: each name binds one immutable geometry,
    * so a plain functionExists guard is safe — nothing is ever rebound).
    */
  private def installPlaneBuckets(spark: SparkSession, prof: AnnProfile): Unit = {
    val bName = s"plane_buckets${prof.fnSuffix}"
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(bName)
    if (!spark.sessionState.functionRegistry.functionExists(id)) {
      val planes = planeMatrix(prof.lshTables, prof.lshPlanes)
      spark.sessionState.functionRegistry.registerFunction(
        id,
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[PlaneBuckets].getName,
          bName
        ),
        (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          PlaneBuckets(args.head, planes, prof.lshTables, prof.lshPlanes)
      )
    }
    val pName = s"plane_probes${prof.fnSuffix}"
    val pid = org.apache.spark.sql.catalyst.FunctionIdentifier(pName)
    if (!spark.sessionState.functionRegistry.functionExists(pid)) {
      val planes = planeMatrix(prof.lshTables, prof.lshPlanes)
      spark.sessionState.functionRegistry.registerFunction(
        pid,
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[PlaneProbes].getName,
          pName
        ),
        (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          PlaneProbes(
            args.head,
            // second arg: literal probe count, bound at analysis time
            math.min(
              math.max(args(1).eval().asInstanceOf[Number].intValue(), 0),
              prof.lshPlanes
            ),
            planes,
            prof.lshTables,
            prof.lshPlanes
          )
      )
    }
  }

  /** (t, b) bucket rows of `vcol`: one plane_buckets call, posexploded so
    * the table index IS the position. The full bucket array rides along as
    * `bsName` — downstream joins use it to dedup multi-table collisions
    * WITHOUT a shuffle (see firstCollision). Every input column is kept;
    * the corpus index projects `vcol` away (see [[lshPostings]]).
    */
  private[operators] def withBuckets(
      df: DataFrame,
      vcol: String,
      bsName: String = "bs",
      fnSuffix: String = ""
  ): DataFrame = {
    val withBs = df.withColumn(bsName, expr(s"plane_buckets$fnSuffix($vcol)"))
    // posexplode_OUTER: a plain posexplode makes Catalyst push
    // `size(plane_buckets(...)) > 0 AND isnotnull(plane_buckets(...))`
    // guard conjuncts down into the scan filter, re-evaluating the whole
    // bucket computation per scanned row (measured 0.48 s -> 0.06 s on the
    // 5-query side at sf0.1). plane_buckets always returns a TABLES-length
    // non-null array, so outer vs inner explode is semantically identical.
    withBs.select(withBs.columns.map(col).toSeq :+ posexplode_outer(col(bsName)).as(Seq("t", "b")): _*)
  }

  /** True iff table `t` (0-based posexplode position) is the FIRST table
    * where the two bucket arrays collide. Filtering candidate pairs on this
    * keeps exactly one copy of every colliding pair — equivalent to
    * dropDuplicates over the pair key, but as a per-row predicate instead
    * of a full shuffle. The arrays are TABLES ints, so the interpreted
    * zip_with/exists lambdas touch candidates only, never the corpus.
    */
  private[operators] def firstCollision(aBs: String, bBs: String, tCol: String = "t"): Column =
    !expr(s"exists(zip_with(slice($aBs, 1, $tCol), slice($bBs, 1, $tCol), (x, y) -> x = y), v -> v)")

  // -- session-scoped ANN index cache (see SessionCache) -----------------------
  // localCheckpoint truncates lineage and parks the index blocks in executor
  // storage (MEMORY_AND_DISK); the SessionCache sweeps entries once their
  // session stops.
  private val lshIndexCache = new SessionCache[DataFrame]
  private val ivfIndexCache = new SessionCache[(Array[Array[Double]], DataFrame)]

  /** The LSH postings of a unit corpus (vec_id, vb): one (t, b, vec_id, cbs)
    * row per table. The vector is hashed, then dropped — re-ranks fetch it
    * from the unit-corpus stage by vec_id, so the index never stores
    * `lshTables` copies of it.
    */
  private def lshPostings(unit: DataFrame, prof: AnnProfile): DataFrame =
    withBuckets(unit, "vb", bsName = "cbs", fnSuffix = prof.fnSuffix)
      .select(col("t"), col("b"), col("vec_id"), col("cbs"))

  /** LSH postings for an arbitrary embedding frame, computed from source —
    * persist writes this (a re-persist never reads the table it is about
    * to overwrite), and the append-refresh path indexes just the delta
    * through here; the planes are deterministic functions of the profile
    * geometry, so delta-hashing is bit-identical to what a full rebuild
    * would produce for those rows.
    */
  private def computeLshIndexOn(spark: SparkSession, emb: DataFrame, prof: AnnProfile): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    installPlaneBuckets(spark, prof)
    lshPostings(unitCorpus(emb), prof)
  }

  /** Build (or fetch) the LSH corpus index for the session profile: the
    * postings (t, b, vec_id, cbs), materialized — no vector column; the
    * re-rank joins [[unitEmbeddings]]. Resolution order: session cache →
    * persisted table (when `graft.ann.indexDir` is set and holds a CURRENT
    * one — sidecar fingerprint and parameters must match; anything stale
    * is skipped and the index computed fresh) → hash the unit-corpus
    * stage. Callers time this separately from the query phase.
    */
  def buildLshIndex(spark: SparkSession, dir: String): DataFrame =
    buildLshIndexWith(spark, dir, annProfile(spark))

  private[operators] def buildLshIndexWith(spark: SparkSession, dir: String, prof: AnnProfile): DataFrame =
    lshIndexCache.getOrBuild(spark, s"$dir@${prof.name}") {
      graft.functions.VecFunctions.install(spark)
      installPlaneBuckets(spark, prof)
      confIndexDir(spark)
        .flatMap(ix => resolvePersisted(spark, dir, lshTable(dir, prof), lshPath(ix, dir, prof), lshSpec(prof)))
        .getOrElse(lshPostings(unitEmbeddings(spark, dir), prof).localCheckpoint())
    }

  /** LSH candidate ids (query_id, va, vec_id) for an arbitrary query frame
    * against a postings index, deduplicated across tables and probes by a
    * first-hit predicate (no shuffle): a pair is kept only at its earliest
    * probe position, where "hit" compares the query's flat probe array
    * against the corpus row's exact per-table buckets. No vector is read:
    * the top-k callers join the unit corpus by vec_id, the counts do not.
    */
  private def lshCandidates(
      queries: DataFrame,
      idx: DataFrame,
      extra: Int,
      fnSuffix: String = "",
      minHits: Int = 1
  ): DataFrame = {
    val stride = extra + 1
    val qp = queries
      .select(col("query_id"), col("va"))
      .withColumn("ps", expr(s"plane_probes$fnSuffix(va, $extra)"))
    val exploded = qp
      .select(qp.columns.map(col).toSeq :+ posexplode_outer(col("ps")).as(Seq("pp", "b")): _*)
      .withColumn("t", expr(s"cast(pp div $stride AS int)"))
    val joined = broadcast(exploded)
      .join(idx, Seq("t", "b"))
      .filter(col("query_id") =!= col("vec_id"))
      // first-hit dedup: drop the pair unless no earlier probe position
      // already collided with this corpus row (i div stride maps a probe
      // position back to its table in the exact-bucket array)
      .filter(expr(
        s"pp = 0 OR NOT exists(sequence(0, pp - 1), " +
          s"i -> element_at(ps, i + 1) = element_at(cbs, cast(i div $stride AS int) + 1))"
      ))
    // collision-count filter (the C2LSH counting argument): a pair reaches
    // the exact-distance pass only when it collides in >= minHits DISTINCT
    // tables. Collision probability is monotone in cosine, so the count
    // concentrates on true neighbors and the filter breaks uniform LSH's
    // recall ~ scanned-fraction wall: scan fraction here counts EXACT
    // DISTANCE EVALUATIONS (the dot products that dominate at real DIM);
    // the count itself is per-row integer arithmetic over the two bucket
    // arrays already on the joined row — no extra shuffle, the postings
    // arithmetic a counting-LSH serving path does before fetching vectors.
    val filtered =
      if (minHits <= 1) joined
      else
        joined.filter(expr(
          s"size(filter(sequence(0, size(cbs) - 1), " +
            s"t -> exists(slice(ps, t * $stride + 1, $stride), pb -> pb = element_at(cbs, t + 1)))) >= $minHits"
        ))
    filtered.select(col("query_id"), col("va"), col("vec_id"))
  }

  def q35LshTopK(spark: SparkSession, dir: String): DataFrame = {
    val prof = annProfile(spark)
    lshTopKWith(spark, dir, prof, prof.lshProbes, prof.lshMinHits)
  }

  // ---------------------------------------------------------------------------
  // q36 — IVF ANN: k-means coarse quantizer (C centroids; 3 Lloyd iterations
  // over a bounded deterministic hash-prefix sample, init = the sample's
  // first C), then probe the nprobe nearest cells per query and exact-rank
  // inside them. Only the bounded sample and centroid summaries touch the
  // driver.
  // ---------------------------------------------------------------------------
  /** Fast-profile centroid count, kept as a named constant because the
    * planted-eval and spec floors are calibrated against it.
    */
  private val C = Fast.ivfC

  /** Centroid indexes of `child` sorted by L2 distance, with the centroid
    * table held as a REFERENCE OBJECT: inlining 16×64 literal doubles into
    * the SQL expression made Janino compile ~10 s of generated code on
    * first use (dominating any single run); this expression generates a
    * one-line callback instead. Assignment = ranks[0]; probing = first
    * nprobe entries.
    */
  private[operators] case class CentroidRanks(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      cents: Array[Array[Double]]
  ) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    private def ranks(x: ArrayData): Array[Int] = {
      val n = math.min(x.numElements(), DIM)
      val scored = cents.indices.map { ci =>
        val c = cents(ci)
        var d = 0.0
        var i = 0
        while (i < n) { val diff = x.getDouble(i) - c(i); d += diff * diff; i += 1 }
        (d, ci)
      }
      scored.sorted.map(_._2).toArray
    }

    override protected def nullSafeEval(a: Any): Any =
      ArrayData.toArrayData(ranks(a.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroidRanks", this, classOf[CentroidRanks].getName)
      nullSafeCodeGen(
        ctx,
        ev,
        a => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($a);"
      )
    }

    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression
    ): CentroidRanks = copy(child = c)
  }

  /** Per-session list of centroid tables already registered, in
    * registration order — binding i is served by the session function
    * `centroid_ranks_i`. One name per distinct table means a binding is
    * registered exactly once and NEVER replaced (a single mutable
    * `centroid_ranks` name would either log a replaced-function warning on
    * every corpus switch — q36 and the planted eval alternate tables inside
    * one bench run — or, with a plain functionExists guard, silently pin
    * the first corpus's centroids for the whole session). Weak keys:
    * entries die with their session; the list stays tiny (one entry per
    * distinct corpus a session touches).
    */
  private val centroidBindings =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.ArrayBuffer[Array[Array[Double]]]]()

  /** Register (or find) the session function bound to this centroid table
    * and return its name — callers splice the name into their expressions.
    */
  private[operators] def installCentroidRanks(spark: SparkSession, cs: Array[Array[Double]]): String =
    centroidBindings.synchronized {
      val list = centroidBindings.computeIfAbsent(
        spark,
        _ => scala.collection.mutable.ArrayBuffer.empty[Array[Array[Double]]]
      )
      val existing = list.indexWhere(b =>
        (b eq cs) || java.util.Arrays.deepEquals(b.asInstanceOf[Array[AnyRef]], cs.asInstanceOf[Array[AnyRef]])
      )
      val i =
        if (existing >= 0) existing
        else {
          val idx = list.size
          val name = s"centroid_ranks_$idx"
          spark.sessionState.functionRegistry.registerFunction(
            org.apache.spark.sql.catalyst.FunctionIdentifier(name),
            new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
              classOf[CentroidRanks].getName,
              name
            ),
            (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => CentroidRanks(args.head, cs)
          )
          list += cs
          idx
        }
      s"centroid_ranks_$i"
    }

  private val toDouble: String => String = v => s"transform($v, x -> cast(x AS double))"

  /** Training-sample size: O(C × oversample), INDEPENDENT of corpus size —
    * at 100 TB the sample is the same 4096 vectors (~2 MB), which is what
    * makes driver-side Lloyd below legitimate (mini-batch k-means shape:
    * the quantizer trains on a bounded sample; the corpus is only ever
    * touched by the single distributed assignment pass in buildIvfIndex).
    */
  private val TRAIN_SAMPLE = 4096

  /** Train the coarse quantizer from any (vec_id, embedding) frame — once
    * per file snapshot and `c`: IVF and IVF-PQ train the same centroids.
    */
  def trainCentroidsFrom(emb: DataFrame, c: Int = C): Array[Array[Double]] = {
    graft.functions.VecFunctions.install(emb.sparkSession)
    Tables.memoOnFiles(emb, s"ivf centroids c=$c")(trainCentroidsOnce(emb, c)).map(_.clone)
  }

  private def trainCentroidsOnce(emb: DataFrame, c: Int): Array[Array[Double]] = {
    // Deterministic hash-prefix sample: the TRAIN_SAMPLE vectors with the
    // smallest xxhash64(vec_id) — planned as a TakeOrdered top-k, ONE corpus
    // scan with no shuffle (vs the previous 3 full-corpus Lloyd iterations,
    // each a 65-aggregate scan: 5.6 s → <1 s build at sf0.1). vec_id
    // tiebreak keeps the sample total-ordered.
    val sample: Array[Array[Double]] = emb
      .select(col("vec_id"), expr(toDouble("embedding")).as("emb_d"))
      .orderBy(expr("xxhash64(vec_id)"), col("vec_id"))
      .limit(TRAIN_SAMPLE)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    // init = first c of the hash-ordered sample (deterministic); Lloyd on
    // the sample is microseconds of driver arithmetic
    var cents = sample.take(c).map(_.clone)
    for (_ <- 1 to 3) {
      val counts = Array.fill(cents.length)(0L)
      val sums = Array.fill(cents.length, DIM)(0.0)
      sample.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0
          var i = 0
          val lim = math.min(v.length, cents(c).length)
          while (i < lim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        val lim = math.min(v.length, DIM)
        while (i < lim) { sums(best)(i) += v(i); i += 1 }
      }
      // empty cluster keeps its previous centroid (same rule as before)
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0L) cents(c)
        else Array.tabulate(DIM)(i => sums(c)(i) / counts(c))
      }
    }
    cents
  }

  /** Cluster-assigned unit corpus (vec_id, vb, cluster) — the IVF index
    * rows, computed fresh (no cache/persistence resolution; see
    * computeLshIndexOn for why persist needs this).
    */
  private def ivfAssign(spark: SparkSession, emb: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    // cluster assignment + probe distances in RAW space (matching the
    // trained centroids); exact re-rank on unit vectors via vec_dot.
    val fn = installCentroidRanks(spark, cents)
    withUnit(Tables.balanced(emb), "embedding", "vb")
      .withColumn("emb_d", expr(toDouble("embedding")))
      .withColumn("cluster", expr(s"element_at($fn(emb_d), 1)"))
      .select(col("vec_id"), col("vb"), col("cluster"))
  }

  private def computeIvfIndexFrom(
      spark: SparkSession,
      emb: DataFrame,
      c: Int = C
  ): (Array[Array[Double]], DataFrame) = {
    val cents = trainCentroidsFrom(emb, c)
    (cents, ivfAssign(spark, emb, cents).localCheckpoint())
  }

  /** Build (or fetch) the IVF index for the session profile: the trained
    * centroids + the corpus with cluster assignment and unit vectors,
    * materialized. Resolution order: session cache → persisted table (when
    * `graft.ann.indexDir` is set and holds a current one) → train + assign.
    * The quantizer is trained ONCE per (session, dir, profile) — queries
    * only pay the probe join.
    */
  def buildIvfIndex(spark: SparkSession, dir: String): (Array[Array[Double]], DataFrame) =
    buildIvfIndexWith(spark, dir, annProfile(spark))

  private[operators] def buildIvfIndexWith(
      spark: SparkSession,
      dir: String,
      prof: AnnProfile
  ): (Array[Array[Double]], DataFrame) =
    ivfIndexCache.getOrBuild(spark, s"$dir@${prof.name}") {
      graft.functions.VecFunctions.install(spark)
      readPersistedIvf(spark, dir, prof).getOrElse(
        computeIvfIndexFrom(spark, Tables.embeddings(spark, dir), prof.ivfC)
      )
    }

  /** IVF probe join for an arbitrary query frame: explode each query's
    * nprobe nearest cells, equi-join the cluster-keyed index, exact-rank.
    */
  private def ivfTopKFrom(
      spark: SparkSession,
      queries: DataFrame,
      cents: Array[Array[Double]],
      corpus: DataFrame,
      nprobe: Int
  ): DataFrame = {
    val fn = installCentroidRanks(spark, cents)
    val probes = queries
      .withColumn("qraw_d", expr(toDouble("qraw")))
      .withColumn("cluster", explode(expr(s"slice($fn(qraw_d), 1, $nprobe)")))
      .select(col("query_id"), col("va"), col("cluster"))
    topKRanked(
      broadcast(probes)
        .join(corpus, Seq("cluster"))
        .filter(col("query_id") =!= col("vec_id"))
    )
  }

  def q36IvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val prof = annProfile(spark)
    // quality sizes nprobe to the corpus (over-quantized toy corpora take
    // the widened constant)
    val np =
      if (prof.name == Quality.name) qualityNprobeFor(buildIvfIndexWith(spark, dir, prof)._2.count())
      else prof.ivfNprobe
    ivfTopKWith(spark, dir, prof, np)
  }

  // ---------------------------------------------------------------------------
  // q75 — product-quantization (PQ) ANN: the MEMORY-bound scale path the
  // LSH/IVF families don't cover (Jégou et al., "Product Quantization for
  // Nearest Neighbor Search", TPAMI'11). The corpus is encoded once into
  // 8-bit-per-subspace codes — 8 subspaces over 64 dims → ONE 64-bit long
  // per vector, 32x smaller than the float32 embedding — and queries scan
  // the CODES with an asymmetric-distance (ADC) lookup table instead of the
  // vectors: at 100 TB of embeddings the code table is ~3 TB and fits a
  // cluster's memory/NVMe tier, which is the entire point. Per query:
  //   1. LUT: dot(query-subvector, codeword) for all M x K codewords —
  //      M*K = 2048 doubles, computed once per query (PqLut).
  //   2. ADC scan: approximate cosine of every corpus code = sum of M table
  //      lookups (PqAdc — codegen'd; no float math against the corpus).
  //   3. Shortlist top PQ_SHORTLIST by ADC, then exact re-rank on the
  //      ORIGINAL unit vectors fetched by vec_id (one keyed join touching
  //      shortlist-many rows) — returned cosines are exact, PQ error only
  //      affects which candidates make the shortlist.
  // Codebooks train on the same bounded hash-prefix sample as IVF (Lloyd
  // per subspace over 4096 unit vectors — driver cost is microseconds,
  // corpus cost is the single encode pass). Like q35/q36 the result is
  // model-based → rows-only gate; SimilaritySpec floors planted recall at
  // 0.9 and pins exact-cosine parity; the bench reports recall + build
  // phase every round.
  // ---------------------------------------------------------------------------
  private val PQ_M = 8 // subspaces
  private val PQ_SUB = DIM / PQ_M // dims per subspace
  private val PQ_K = 256 // codewords per subspace -> 8-bit codes (standard PQ)

  /** ADC candidates per query before exact re-rank (the PQ
    * recall/re-rank-cost lever, like LSH probes / IVF nprobe). 64 measures
    * planted recall 0.98/0.96/1.00 and uniform 0.98/1.00/0.84 at
    * sf0.001/0.01/0.1 — a CONSTANT shortlist dilutes on uniform data as
    * the corpus grows (it is 3% of sf0.1's corpus), which is the honest
    * trade; the `shortlist` arguments of the sweep entries measure wider
    * ones.
    */
  private val PQ_SHORTLIST_DEFAULT = 64

  /** Lloyd over an in-memory sample (init = first k, empty cluster keeps
    * its centroid — the trainCentroidsFrom conventions, generalized).
    */
  private def lloydOn(sample: Array[Array[Double]], k: Int, dim: Int, iters: Int): Array[Array[Double]] = {
    var cents = sample.take(k).map(_.clone)
    for (_ <- 1 to iters) {
      val counts = Array.fill(cents.length)(0L)
      val sums = Array.fill(cents.length, dim)(0.0)
      sample.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0
          var i = 0
          val lim = math.min(v.length, cents(c).length)
          while (i < lim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        val lim = math.min(v.length, dim)
        while (i < lim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0L) cents(c) else Array.tabulate(dim)(i => sums(c)(i) / counts(c))
      }
    }
    cents
  }

  /** PQ codebooks from any (vec_id, embedding) frame: per subspace j,
    * PQ_K codewords trained over the UNIT-normalized bounded sample's
    * j-th subvectors (codes quantize unit vectors, so ADC approximates
    * cosine directly). books(j)(k) is a PQ_SUB-dim codeword. Trained once
    * per file snapshot: PQ and IVF-PQ train the same codebooks.
    */
  def trainPqBooksFrom(emb: DataFrame): Array[Array[Array[Double]]] = {
    graft.functions.VecFunctions.install(emb.sparkSession)
    Tables.memoOnFiles(emb, "pq codebooks")(trainPqBooksOnce(emb)).map(_.map(_.clone))
  }

  private def trainPqBooksOnce(emb: DataFrame): Array[Array[Array[Double]]] = {
    val sample: Array[Array[Double]] = withUnit(emb, "embedding", "u")
      .select(col("vec_id"), col("u"))
      .orderBy(expr("xxhash64(vec_id)"), col("vec_id"))
      .limit(TRAIN_SAMPLE)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    Array.tabulate(PQ_M) { j =>
      val subs = sample.map(v => v.slice(j * PQ_SUB, math.min((j + 1) * PQ_SUB, v.length)))
      lloydOn(subs, PQ_K, PQ_SUB, iters = 3)
    }
  }

  /** 8-bit-packed PQ code of a unit vector: bits [8j, 8j+8) hold the
    * argmin-distance codeword index of subspace j — one LONG per vector.
    * Codebooks ride as a codegen reference object (the CentroidRanks
    * pattern).
    */
  private[operators] case class PqEncode(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      books: Array[Array[Array[Double]]]
  ) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._

    override def dataType: DataType = LongType

    private def encode(x: ArrayData): Long = {
      val n = x.numElements()
      var packed = 0L
      var j = 0
      while (j < books.length) {
        val book = books(j)
        val off = j * PQ_SUB
        var best = 0
        var bestD = Double.MaxValue
        var k = 0
        while (k < book.length) {
          val cw = book(k)
          var d = 0.0
          var i = 0
          val lim = math.min(cw.length, math.max(0, n - off))
          while (i < lim) { val t = x.getDouble(off + i) - cw(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = k }
          k += 1
        }
        packed |= best.toLong << (8 * j)
        j += 1
      }
      packed
    }

    override protected def nullSafeEval(a: Any): Any = encode(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = (Long) $ref.nullSafeEval($a);")
    }

    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression
    ): PqEncode = copy(child = c)
  }

  /** Per-query ADC lookup table: element [j * PQ_K + k] = dot(query
    * subvector j, codeword k of subspace j). Computed once per query row;
    * the corpus-side scan then never touches float vectors.
    */
  private[operators] case class PqLut(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      books: Array[Array[Array[Double]]]
  ) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._

    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    private def lut(q: ArrayData): Array[Double] = {
      val n = q.numElements()
      val out = new Array[Double](books.length * PQ_K)
      var j = 0
      while (j < books.length) {
        val book = books(j)
        val off = j * PQ_SUB
        var k = 0
        while (k < book.length) {
          val cw = book(k)
          var d = 0.0
          var i = 0
          val lim = math.min(cw.length, math.max(0, n - off))
          while (i < lim) { d += q.getDouble(off + i) * cw(i); i += 1 }
          out(j * PQ_K + k) = d
          k += 1
        }
        j += 1
      }
      out
    }

    override protected def nullSafeEval(a: Any): Any =
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(lut(a.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqLut", this, classOf[PqLut].getName)
      nullSafeCodeGen(
        ctx,
        ev,
        a => s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($a);"
      )
    }

    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression
    ): PqLut = copy(child = c)
  }

  /** ADC score = Σ_j lut[j * PQ_K + code-byte-j]: M array reads + adds per
    * corpus row, zero float-vector math. Stateless — registered once per
    * session under one immutable name.
    */
  private[operators] case class PqAdc(
      left: org.apache.spark.sql.catalyst.expressions.Expression,
      right: org.apache.spark.sql.catalyst.expressions.Expression
  ) extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._

    override def dataType: DataType = DoubleType

    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val lut = l.asInstanceOf[ArrayData]
      val code = r.asInstanceOf[Long]
      var s = 0.0
      var j = 0
      while (j * PQ_K < lut.numElements()) {
        s += lut.getDouble(j * PQ_K + ((code >>> (8 * j)) & 0xffL).toInt)
        j += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
      nullSafeCodeGen(
        ctx,
        ev,
        (l, r) => s"${ev.value} = (Double) $ref.nullSafeEval($l, $r);"
      )
    }

    override protected def withNewChildrenInternal(
        newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
        newRight: org.apache.spark.sql.catalyst.expressions.Expression
    ): PqAdc = copy(left = newLeft, right = newRight)
  }

  /** Per-session registry of codebook bindings (the centroid_ranks pattern:
    * one immutable indexed name per distinct binding, never rebound).
    * Returns the index i: callers use `pq_encode_i` / `pq_lut_i`.
    */
  private val pqBindings =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.ArrayBuffer[Array[Array[Array[Double]]]]]()

  private def installPq(spark: SparkSession, books: Array[Array[Array[Double]]]): Int =
    pqBindings.synchronized {
      val list = pqBindings.computeIfAbsent(
        spark,
        _ => scala.collection.mutable.ArrayBuffer.empty[Array[Array[Array[Double]]]]
      )
      val existing = list.indexWhere(b =>
        (b eq books) || (b.length == books.length && b.indices.forall(j =>
          java.util.Arrays.deepEquals(b(j).asInstanceOf[Array[AnyRef]], books(j).asInstanceOf[Array[AnyRef]])
        ))
      )
      val i =
        if (existing >= 0) existing
        else {
          val idx = list.size
          def reg(
              name: String,
              builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] => org.apache.spark.sql.catalyst.expressions.Expression
          ): Unit =
            spark.sessionState.functionRegistry.registerFunction(
              org.apache.spark.sql.catalyst.FunctionIdentifier(name),
              new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(getClass.getName, name),
              builder
            )
          reg(s"pq_encode_$idx", args => PqEncode(args.head, books))
          reg(s"pq_lut_$idx", args => PqLut(args.head, books))
          list += books
          idx
        }
      // the stateless ADC combiner registers once per session
      val adcId = org.apache.spark.sql.catalyst.FunctionIdentifier("pq_adc")
      if (!spark.sessionState.functionRegistry.functionExists(adcId)) {
        spark.sessionState.functionRegistry.registerFunction(
          adcId,
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(getClass.getName, "pq_adc"),
          (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => PqAdc(args(0), args(1))
        )
      }
      i
    }

  private val pqIndex = Stage("q75_build") { (spark, dir) =>
    readPersistedPq(spark, dir).getOrElse(
      computePqIndexFrom(spark, Tables.embeddings(spark, dir))
    )
  }
  private val plantedPqIndex =
    Stage("q75_planted_index")((spark, dir) => computePqIndexFrom(spark, plantedCorpus(spark, dir)))

  /** Build (or fetch) the PQ index: trained codebooks + the (vec_id, code)
    * table — 8 bytes of code per corpus vector, the whole point. Same
    * resolution order as LSH/IVF: session cache → persisted table (current
    * sidecar only) → train + encode.
    */
  def buildPqIndex(spark: SparkSession, dir: String): (Array[Array[Array[Double]]], DataFrame) = pqIndex(spark, dir)

  private def computePqIndexFrom(
      spark: SparkSession,
      emb: DataFrame
  ): (Array[Array[Array[Double]]], DataFrame) = {
    graft.functions.VecFunctions.install(spark)
    val books = trainPqBooksFrom(emb)
    val i = installPq(spark, books)
    val codes = withUnit(Tables.balanced(emb), "embedding", "vb")
      .withColumn("code", expr(s"pq_encode_$i(vb)"))
      .select(col("vec_id"), col("code"))
      .localCheckpoint()
    (books, codes)
  }

  /** PQ top-k over any (queries, codes, corpus) triple: LUT per query →
    * ADC scan of the codes → shortlist → exact re-rank on the original
    * unit vectors (fetched by vec_id — shortlist-many rows).
    */
  private def pqTopKFrom(
      spark: SparkSession,
      queries: DataFrame,
      books: Array[Array[Array[Double]]],
      codes: DataFrame,
      corpus: DataFrame,
      shortlist: Int
  ): DataFrame = {
    val i = installPq(spark, books)
    val shortlistN = math.max(shortlist, K)
    val q = queries
      .withColumn("lut", expr(s"pq_lut_$i(va)"))
      .select(col("query_id"), col("va"), col("lut"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("vec_id"))
    val shortlisted = broadcast(q)
      .join(codes, col("query_id") =!= col("vec_id"))
      .withColumn("adc", expr("pq_adc(lut, code)"))
      .withColumn("srank", row_number().over(w))
      .filter(col("srank") <= shortlistN)
      .select(col("query_id"), col("va"), col("vec_id"))
    rerankIds(broadcast(shortlisted), corpus)
  }

  def q75PqTopK(spark: SparkSession, dir: String): DataFrame = pqTopKWith(spark, dir, PQ_SHORTLIST_DEFAULT)

  /** Uniform-corpus PQ top-k at an arbitrary shortlist width. */
  def pqTopKWith(spark: SparkSession, dir: String, shortlist: Int): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val (books, codes) = buildPqIndex(spark, dir)
    pqTopKFrom(spark, queriesDf(spark, dir), books, codes, unitEmbeddings(spark, dir), shortlist)
  }

  /** q75 on the planted clustered corpus — the recall yardstick. */
  def plantedPqTopK(spark: SparkSession, dir: String, shortlist: Int = PQ_SHORTLIST_DEFAULT): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val (books, codes) = plantedPqIndex(spark, dir)
    pqTopKFrom(spark, plantedQueries(spark, dir), books, codes, plantedUnit(spark, dir), shortlist)
  }

  // ---------------------------------------------------------------------------
  // q76 — IVF-PQ ANN: the production composition (the FAISS "IVFPQ" shape)
  // of the two indexes above. The corpus is coarse-quantized into C cells
  // (IVF) AND 8-bit PQ-encoded in ONE pass; a query probes its nprobe
  // nearest cells and ADC-scans only THOSE cells' 8-byte codes, then
  // exact-re-ranks the shortlist. Cuts both axes at once: the IVF prune
  // reads nprobe/C of the corpus, and what it reads is codes, not vectors —
  // at 100 TB of embeddings a query touches ~nprobe/C x 3 TB of codes
  // instead of either full axis. The cell scan is a broadcast EQUI-join on
  // (cluster), so unlike flat PQ there is no exhaustive-scan BNLJ anywhere
  // in the plan. Same honest trades as its parents: cell-boundary misses
  // (IVF) and shortlist dilution (PQ) — planted recall is spec-floored at
  // 0.9, uniform reported per round.
  //
  // Knob curve (AnnTune grid, sf0.1, n=2000): the SHORTLIST is the binding
  // knob on clustered data — planted recall jumps 0.44 -> 1.00 at
  // shortlist 32 -> 64 for EVERY nprobe in {2,4,6} — while nprobe buys
  // uniform recall roughly linearly (0.36/0.48/0.60 at np=2/4/6,
  // shortlist 64). q76 runs nprobe = Fast.ivfNprobe (4) and shortlist =
  // PQ_SHORTLIST_DEFAULT (64), exactly the planted knee; raising nprobe
  // past it only helps cluster-free corpora, where the `quality` profile
  // is the documented path.
  // ---------------------------------------------------------------------------
  private val ivfPqIndex = Stage("q76_build") { (spark, dir) =>
    readPersistedIvfPq(spark, dir).getOrElse(
      computeIvfPqIndexFrom(spark, Tables.embeddings(spark, dir))
    )
  }
  private val plantedIvfPqIndex =
    Stage("q76_planted_index")((spark, dir) => computeIvfPqIndexFrom(spark, plantedCorpus(spark, dir)))

  private def computeIvfPqIndexFrom(
      spark: SparkSession,
      emb: DataFrame
  ): (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    graft.functions.VecFunctions.install(spark)
    val cents = trainCentroidsFrom(emb)
    val books = trainPqBooksFrom(emb)
    val fn = installCentroidRanks(spark, cents)
    val i = installPq(spark, books)
    val index = withUnit(Tables.balanced(emb), "embedding", "vb")
      .withColumn("emb_d", expr(toDouble("embedding")))
      .withColumn("cluster", expr(s"element_at($fn(emb_d), 1)"))
      .withColumn("code", expr(s"pq_encode_$i(vb)"))
      .select(col("vec_id"), col("cluster"), col("code"))
      .localCheckpoint()
    (cents, books, index)
  }

  /** Build (or fetch) the composed index: coarse centroids + PQ codebooks +
    * the (vec_id, cluster, code) table — 12 bytes of index per vector.
    * Same resolution order as the other families: session cache →
    * persisted table (current sidecar only) → train + assign + encode.
    */
  def buildIvfPqIndex(
      spark: SparkSession,
      dir: String
  ): (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = ivfPqIndex(spark, dir)

  /** Materialize the composed index: the (vec_id, cluster, code) table
    * BUCKETED ON CLUSTER — a cold session's probe join reads only the
    * probed cells' buckets shuffle-free — plus centroid and codebook
    * parquet. Same idempotent/sidecar-last contract as the other families.
    */
  def persistIvfPqIndex(spark: SparkSession, dir: String, indexDir: String): PersistOutcome = {
    val path = ivfPqPath(indexDir, dir)
    val table = ivfPqTable(dir)
    val centsPath = ivfPqCentroidsPath(indexDir, dir)
    val booksPath = ivfPqBooksPath(indexDir, dir)
    persistFamily(
      spark,
      dir,
      table,
      path,
      ivfPqSpec,
      invalidate = () => ivfPqIndex.invalidate(spark, dir),
      computeDeltaRows = delta =>
        ivfPqRowsFor(spark, delta, readCentroidsAt(spark, centsPath), readBooksAt(spark, booksPath)),
      rebuild = () => {
        deletePath(spark, booksPath)
        deletePath(spark, centsPath)
        val (cents, books, index) = computeIvfPqIndexFrom(spark, Tables.embeddings(spark, dir))
        writeCentroids(spark, cents, centsPath)
        writeBooks(spark, books, booksPath)
        graft.sources.Layouts.writeBucketed(index, table, ivfPqSpec.keys, ivfPqSpec.buckets, path)
      }
    )
  }

  def persistIvfPqIndex(spark: SparkSession, dir: String): PersistOutcome =
    persistIvfPqIndex(spark, dir, confIndexDir(spark).getOrElse {
      throw new IllegalStateException(s"set $IndexDirConf or pass indexDir explicitly")
    })

  private def readPersistedIvfPq(
      spark: SparkSession,
      dir: String
  ): Option[(Array[Array[Double]], Array[Array[Array[Double]]], DataFrame)] =
    confIndexDir(spark).flatMap { ix =>
      resolvePersisted(spark, dir, ivfPqTable(dir), ivfPqPath(ix, dir), ivfPqSpec).map { index =>
        (
          readCentroidsAt(spark, ivfPqCentroidsPath(ix, dir)),
          readBooksAt(spark, ivfPqBooksPath(ix, dir)),
          index
        )
      }
    }

  private def ivfPqTopKFrom(
      spark: SparkSession,
      queries: DataFrame,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      index: DataFrame,
      corpus: DataFrame,
      nprobe: Int,
      shortlist: Int
  ): DataFrame = {
    val fnC = installCentroidRanks(spark, cents)
    val i = installPq(spark, books)
    val np = math.min(math.max(nprobe, 1), C)
    val shortlistN = math.max(shortlist, K)
    val probes = queries
      .withColumn("qraw_d", expr(toDouble("qraw")))
      .withColumn("lut", expr(s"pq_lut_$i(va)"))
      .withColumn("cluster", explode(expr(s"slice($fnC(qraw_d), 1, $np)")))
      .select(col("query_id"), col("va"), col("lut"), col("cluster"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc").desc, col("vec_id"))
    val shortlisted = broadcast(probes)
      .join(index, Seq("cluster"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adc", expr("pq_adc(lut, code)"))
      .withColumn("srank", row_number().over(w))
      .filter(col("srank") <= shortlistN)
      .select(col("query_id"), col("va"), col("vec_id"))
    rerankIds(broadcast(shortlisted), corpus)
  }

  def q76IvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopKWith(spark, dir, Fast.ivfNprobe, PQ_SHORTLIST_DEFAULT)

  /** Uniform-corpus IVF-PQ top-k at an arbitrary nprobe and shortlist. */
  def ivfPqTopKWith(spark: SparkSession, dir: String, nprobe: Int, shortlist: Int): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val (cents, books, index) = buildIvfPqIndex(spark, dir)
    ivfPqTopKFrom(
      spark,
      queriesDf(spark, dir),
      cents,
      books,
      index,
      unitEmbeddings(spark, dir),
      nprobe,
      shortlist
    )
  }

  /** q76 on the planted clustered corpus — the recall yardstick. */
  def plantedIvfPqTopK(
      spark: SparkSession,
      dir: String,
      nprobe: Int = Fast.ivfNprobe,
      shortlist: Int = PQ_SHORTLIST_DEFAULT
  ): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val (cents, books, index) = plantedIvfPqIndex(spark, dir)
    ivfPqTopKFrom(
      spark,
      plantedQueries(spark, dir),
      cents,
      books,
      index,
      plantedUnit(spark, dir),
      nprobe,
      shortlist
    )
  }

  // ---------------------------------------------------------------------------
  // Structural tuning API — the sweep entries tools.AnnTune uses to measure
  // recall/scan-fraction under ARBITRARY geometry (that is how the profile
  // presets above were chosen). Each geometry gets its own session-cached
  // index and its own immutable plane functions; nothing here is on the
  // registered-query path.
  // ---------------------------------------------------------------------------

  /** An ad-hoc profile for sweeps: name (and thus function/cache identity)
    * derived from the geometry.
    */
  def sweepProfile(tables: Int, planes: Int, c: Int = C): AnnProfile =
    AnnProfile(s"sweep_t${tables}p${planes}c$c", tables, planes, lshProbes = 0, ivfC = c, ivfNprobe = 1)

  /** Uniform-corpus LSH top-k under an arbitrary geometry + probe width +
    * collision-count threshold.
    */
  def lshTopKWith(spark: SparkSession, dir: String, prof: AnnProfile, extra: Int, minHits: Int = 1): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    installPlaneBuckets(spark, prof)
    val m = math.min(math.max(extra, 0), prof.lshPlanes)
    val cands = lshCandidates(queriesDf(spark, dir), buildLshIndexWith(spark, dir, prof), m, prof.fnSuffix, minHits)
    rerankIds(cands, unitEmbeddings(spark, dir))
  }

  /** Uniform-corpus LSH candidate count (scan-fraction numerator: pairs
    * that reach the exact-distance pass).
    */
  def lshCandidateCountWith(spark: SparkSession, dir: String, prof: AnnProfile, extra: Int, minHits: Int = 1): Long = {
    graft.functions.VecFunctions.install(spark)
    installPlaneBuckets(spark, prof)
    val m = math.min(math.max(extra, 0), prof.lshPlanes)
    lshCandidates(queriesDf(spark, dir), buildLshIndexWith(spark, dir, prof), m, prof.fnSuffix, minHits).count()
  }

  /** Uniform-corpus IVF top-k under an arbitrary centroid count + nprobe. */
  def ivfTopKWith(spark: SparkSession, dir: String, prof: AnnProfile, nprobe: Int): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val (cents, corpus) = buildIvfIndexWith(spark, dir, prof)
    ivfTopKFrom(spark, queriesDf(spark, dir), cents, corpus, math.min(math.max(nprobe, 1), prof.ivfC))
  }

  /** Uniform-corpus IVF probed-candidate count (scan-fraction numerator). */
  def ivfCandidateCountWith(spark: SparkSession, dir: String, prof: AnnProfile, nprobe: Int): Long = {
    graft.functions.VecFunctions.install(spark)
    val (cents, corpus) = buildIvfIndexWith(spark, dir, prof)
    val fn = installCentroidRanks(spark, cents)
    val probes = queriesDf(spark, dir)
      .withColumn("qraw_d", expr(toDouble("qraw")))
      .withColumn("cluster", explode(expr(s"slice($fn(qraw_d), 1, ${math.min(math.max(nprobe, 1), prof.ivfC)})")))
      .select(col("query_id"), col("cluster"))
    broadcast(probes).join(corpus, Seq("cluster")).filter(col("query_id") =!= col("vec_id")).count()
  }

  // ---------------------------------------------------------------------------
  // Planted-clusters eval corpus — the recall yardstick. The driver's
  // embeddings are near-uniform (max pairwise cos ≈ 0.51): true top-10
  // neighbors are barely closer than random vectors, so ANY sub-linear
  // method's recall necessarily tracks its scanned fraction, which measures
  // the data, not the algorithm. Real embedding corpora are the opposite —
  // they cluster — so the recall eval derives a deterministic clustered
  // corpus FROM the same table: vector j is pulled toward center c_{j mod G}
  // (the unit vector of corpus row j mod G):
  //
  //   planted_j = c_{j mod G} + 0.3 · unit(v_j)
  //
  // Within-cluster cosine lands ≈ 0.9 (near-orthogonal corpus directions),
  // cross-cluster stays at the uniform baseline — so each query's true
  // top-10 are its cluster-mates, and a CORRECT ANN finds them while probing
  // ~1/G of the corpus. G scales with corpus size (≥ 64 rows per cluster so
  // top-10 stays within-cluster). Everything below is expression-level and
  // deterministic: one broadcast join of G center rows onto the corpus.
  // ---------------------------------------------------------------------------
  /** Derived clustered corpus (vec_id, embedding: array<double>). */
  private[graft] val plantedCorpus = Stage("q35_planted") { (spark, dir) =>
    val base = withUnit(Tables.balanced(Tables.embeddings(spark, dir)), "embedding", "u")
      .select(col("vec_id"), col("u"))
    val n = base.count()
    val g = math.max(4L, math.min(64L, n / 64L))
    val centers = base.filter(col("vec_id") < g).select(col("vec_id").as("cid"), col("u").as("cu"))
    base
      .withColumn("cid", pmod(col("vec_id"), lit(g)))
      .join(broadcast(centers), "cid")
      // 3e-1 not 0.3: decimal-point literals are DECIMAL in Spark SQL text
      .withColumn("embedding", expr("zip_with(cu, u, (c, x) -> c + 3e-1 * x)"))
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
  }

  private def plantedQueries(spark: SparkSession, dir: String): DataFrame =
    queriesOf(plantedCorpus(spark, dir))

  /** The planted corpus's unit vectors (vec_id, vb), materialized once per
    * session — the planted twin of [[unitEmbeddings]], shared by every
    * planted re-rank and by the planted near-dup eval.
    */
  private[operators] val plantedUnit =
    Stage("q35_planted_unit")((spark, dir) => unitCorpus(plantedCorpus(spark, dir)).localCheckpoint())

  /** Exact top-k ground truth on the planted corpus. */
  def plantedBruteTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    bruteTopKFrom(plantedQueries(spark, dir), plantedUnit(spark, dir))
  }

  /** LSH index over the planted corpus (session-cached, never persisted —
    * it is an eval artifact). Shared with Dedup's planted near-dup eval.
    * Pinned to the `fast` profile: the planted corpus IS the clustered
    * operating point that profile is calibrated for, and the published
    * planted floors/curves must not move when a session flips profiles.
    */
  private[operators] val plantedLshIndex = Stage("q35_planted_index") { (spark, dir) =>
    graft.functions.VecFunctions.install(spark)
    installPlaneBuckets(spark, Fast)
    lshPostings(plantedUnit(spark, dir), Fast).localCheckpoint()
  }

  /** q35's pipeline on the planted corpus. Same index, same probe
    * predicate — only the data differs.
    */
  def plantedLshTopK(spark: SparkSession, dir: String, extra: Int = Fast.lshProbes): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    installPlaneBuckets(spark, Fast)
    val m = math.min(extra, Fast.lshPlanes)
    val cands = lshCandidates(plantedQueries(spark, dir), plantedLshIndex(spark, dir), m)
    rerankIds(cands, plantedUnit(spark, dir))
  }

  /** LSH candidate count on the planted corpus — the measured scanned
    * fraction companion to a recall number (candidates / (queries × n)).
    */
  def plantedLshCandidateCount(spark: SparkSession, dir: String, extra: Int): Long = {
    graft.functions.VecFunctions.install(spark)
    installPlaneBuckets(spark, Fast)
    lshCandidates(plantedQueries(spark, dir), plantedLshIndex(spark, dir), math.min(extra, Fast.lshPlanes))
      .count()
  }

  private val plantedIvfIndex = Stage("q36_planted_index") { (spark, dir) =>
    graft.functions.VecFunctions.install(spark)
    computeIvfIndexFrom(spark, plantedCorpus(spark, dir))
  }

  /** q36's pipeline on the planted corpus. Fast-profile geometry, same
    * pinning rationale as the planted LSH eval.
    */
  def plantedIvfTopK(spark: SparkSession, dir: String, nprobe: Int = Fast.ivfNprobe): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val (cents, corpus) = plantedIvfIndex(spark, dir)
    ivfTopKFrom(spark, plantedQueries(spark, dir), cents, corpus, math.min(nprobe, C))
  }

  /** IVF probed-candidate count on the planted corpus (scan fraction). */
  def plantedIvfCandidateCount(spark: SparkSession, dir: String, nprobe: Int): Long = {
    graft.functions.VecFunctions.install(spark)
    val (cents, corpus) = plantedIvfIndex(spark, dir)
    val fn = installCentroidRanks(spark, cents)
    val probes = plantedQueries(spark, dir)
      .withColumn("qraw_d", expr(toDouble("qraw")))
      .withColumn("cluster", explode(expr(s"slice($fn(qraw_d), 1, ${math.min(nprobe, C)})")))
      .select(col("query_id"), col("cluster"))
    broadcast(probes).join(corpus, Seq("cluster")).filter(col("query_id") =!= col("vec_id")).count()
  }

  // ---------------------------------------------------------------------------
  // Persisted ANN indexes — the 100 TB shape: an index is a materialized
  // TABLE, not a per-session computation. persistLshIndex/persistIvfIndex
  // write the index through sources.Layouts.writeBucketed — LSH postings
  // (t, b, vec_id, cbs) bucketed+sorted on (t, b), IVF on (cluster) — so
  // index-side joins on those keys plan shuffle-free, and a COLD session
  // (or a different JVM) reads the table back instead of rebuilding. The
  // LSH table stores no vectors: the exact re-rank joins the session's
  // unit-corpus stage by vec_id, one copy per vector instead of one per
  // LSH table. Discovery is via the spark
  // conf `graft.ann.indexDir`: when set, build*Index consults the persisted
  // layout first (the session cache stays on top as the read-through layer).
  //
  // Commit protocol: the sidecar `_graft_index.json` is written LAST, so its
  // presence means the index files are complete (a crashed persist leaves no
  // sidecar and readers fall back to building). It records the bucket spec
  // (for cold-catalog re-registration), the index parameters, and a DATA
  // FINGERPRINT — source row count + max vec_id — checked on every persisted
  // read: regenerated source data or changed index parameters make the
  // sidecar mismatch, the reader rebuilds fresh, and the next persist call
  // rewrites the table (never a stale serve, never an overwrite of a table
  // the same job is reading — the rewrite recomputes from source parquet).
  // ---------------------------------------------------------------------------
  val IndexDirConf = "graft.ann.indexDir"

  /** Refresh policy for `persist*Index` over a stale persisted index:
    * `rebuild` (default) always retrains + rewrites; `append` extends the
    * existing layout in place when the data change is append-only (same
    * rows at vec_id <= the indexed maxId, new rows above it) — new rows are
    * hashed/assigned/encoded under the PERSISTED geometry (LSH planes are
    * deterministic so the result is bit-identical to a full rebuild; IVF
    * centroids and PQ codebooks are frozen, the standard add-without-
    * retrain trade) and appended as new bucket files, so a 100 TB ingest
    * tick pays one delta-sized write instead of a corpus-sized retrain.
    * Any non-append change still falls back to a full rebuild.
    */
  val RefreshConf = "graft.ann.refresh"

  /** What a `persist*Index` call did. */
  sealed trait PersistOutcome { def wrote: Boolean }
  /** Sidecar already matches this data + geometry; nothing touched. */
  case object Current extends PersistOutcome { def wrote = false }
  /** Full retrain + rewrite (first build, non-append change, or the
    * default `rebuild` refresh policy).
    */
  case object Rebuilt extends PersistOutcome { def wrote = true }
  /** Append-only refresh: `newRows` rows indexed under the persisted
    * geometry and appended; everything already indexed was left in place.
    */
  final case class Appended(newRows: Long) extends PersistOutcome { def wrote = true }

  private val LSH_BUCKETS = 16
  private val IVF_BUCKETS = 8
  private val PQ_BUCKETS = 8

  /** Bucket spec + parameter string of one persisted index flavor. The
    * params string carries the profile geometry, so a persisted index from
    * one profile can never satisfy a read under another (sidecar mismatch
    * → rebuild), even if paths were somehow crossed.
    */
  private[operators] final case class IndexSpec(buckets: Int, keys: Seq[String], params: String)
  private def lshSpec(prof: AnnProfile) =
    IndexSpec(LSH_BUCKETS, Seq("t", "b"), s"lsh:t${prof.lshTables}:p${prof.lshPlanes}:postings")
  private def ivfSpec(prof: AnnProfile) = IndexSpec(IVF_BUCKETS, Seq("cluster"), s"ivf:c${prof.ivfC}")
  private def pqSpec = IndexSpec(PQ_BUCKETS, Seq("vec_id"), s"pq:m$PQ_M:k$PQ_K")
  // bucketed on cluster: the probe equi-join reads only the probed cells'
  // buckets shuffle-free straight off the persisted layout
  private def ivfPqSpec = IndexSpec(IVF_BUCKETS, Seq("cluster"), s"ivfpq:c$C:m$PQ_M:k$PQ_K")

  /** Stable cross-JVM key for a data dir (first 8 md5 hex chars). */
  private[operators] def indexKey(dir: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(4)
      .map(b => f"$b%02x")
      .mkString

  private def confIndexDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(IndexDirConf).filter(_.nonEmpty)

  // fast keeps the historical un-suffixed path/table names; other profiles
  // get their own artifacts (a profile switch must never overwrite or serve
  // the other profile's buckets)
  private def lshPath(indexDir: String, dir: String, prof: AnnProfile) =
    s"$indexDir/lsh_${indexKey(dir)}${prof.fnSuffix}"
  private def ivfPath(indexDir: String, dir: String, prof: AnnProfile) =
    s"$indexDir/ivf_${indexKey(dir)}${prof.fnSuffix}"
  private def ivfCentroidsPath(indexDir: String, dir: String, prof: AnnProfile) =
    s"${ivfPath(indexDir, dir, prof)}_centroids"
  private[operators] def lshTable(dir: String, prof: AnnProfile) =
    s"graft_lsh_${indexKey(dir)}${prof.fnSuffix}"
  private[operators] def ivfTable(dir: String, prof: AnnProfile) =
    s"graft_ivf_${indexKey(dir)}${prof.fnSuffix}"
  // PQ geometry is profile-independent (M/K are the compression contract)
  private def pqPath(indexDir: String, dir: String) = s"$indexDir/pq_${indexKey(dir)}"
  private def pqBooksPath(indexDir: String, dir: String) = s"${pqPath(indexDir, dir)}_books"
  private[operators] def pqTable(dir: String) = s"graft_pq_${indexKey(dir)}"
  private def ivfPqPath(indexDir: String, dir: String) = s"$indexDir/ivfpq_${indexKey(dir)}"
  private def ivfPqBooksPath(indexDir: String, dir: String) = s"${ivfPqPath(indexDir, dir)}_books"
  private def ivfPqCentroidsPath(indexDir: String, dir: String) = s"${ivfPqPath(indexDir, dir)}_centroids"
  private[operators] def ivfPqTable(dir: String) = s"graft_ivfpq_${indexKey(dir)}"

  private def hadoopPath(spark: SparkSession, p: String) = {
    val path = new org.apache.hadoop.fs.Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  /** Source-data fingerprint recorded in the sidecar: (row count,
    * max vec_id). One 1-column scan — negligible next to an index build,
    * and what turns "md5 of the path" into an identity that actually
    * changes when the data does.
    */
  private def dataFingerprint(spark: SparkSession, dir: String): (Long, Long) =
    fingerprintOf(Tables.embeddings(spark, dir), "vec_id")

  /** Generalized fingerprint over any source table with a monotone LONG id
    * column — lets other index families (Retrieval's BM25 postings index
    * over `documents`) reuse this file's persist/serve/append machinery
    * instead of growing a parallel copy. One scan per file snapshot: the
    * index families of one build share it.
    */
  private[operators] def fingerprintOf(source: DataFrame, idCol: String): (Long, Long) =
    Tables.memoOnFiles(source, s"fingerprint $idCol") {
      val r = source.agg(count(lit(1)), max(col(idCol))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    }

  private[operators] final case class Sidecar(buckets: Int, keys: Seq[String], rows: Long, maxId: Long, params: String)

  /** Sidecar marker: bucket spec + data fingerprint + index params, written
    * LAST so its presence means the index files are complete.
    */
  private[operators] def writeSidecar(spark: SparkSession, dataPath: String, spec: IndexSpec, fp: (Long, Long)): Unit = {
    val (fs, p) = hadoopPath(spark, s"$dataPath/_graft_index.json")
    val out = fs.create(p, true)
    try out.write(
      (s"""{"buckets":${spec.buckets},"keys":[${spec.keys.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""rows":${fp._1},"maxId":${fp._2},"params":"${spec.params}"}""").getBytes("UTF-8")
    )
    finally out.close()
  }

  private[operators] def deleteSidecar(spark: SparkSession, dataPath: String): Unit = {
    val (fs, p) = hadoopPath(spark, s"$dataPath/_graft_index.json")
    if (fs.exists(p)) fs.delete(p, false)
  }

  private[operators] def readSidecar(spark: SparkSession, dataPath: String): Option[Sidecar] = {
    val (fs, p) = hadoopPath(spark, s"$dataPath/_graft_index.json")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val buckets = "\"buckets\":(\\d+)".r.findFirstMatchIn(text).map(_.group(1).toInt)
      val keys = "\"keys\":\\[([^\\]]*)\\]".r
        .findFirstMatchIn(text)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
      val rows = "\"rows\":(-?\\d+)".r.findFirstMatchIn(text).map(_.group(1).toLong)
      val maxId = "\"maxId\":(-?\\d+)".r.findFirstMatchIn(text).map(_.group(1).toLong)
      val params = "\"params\":\"([^\"]*)\"".r.findFirstMatchIn(text).map(_.group(1))
      // pre-fingerprint sidecars parse incomplete → None → treated as stale
      for (b <- buckets; k <- keys; r <- rows; m <- maxId; pa <- params)
        yield Sidecar(b, k, r, m, pa)
    }
  }

  /** Serve the persisted bucketed index as a catalog table, re-registering
    * the metadata over the existing files when this session's catalog has
    * never seen it (the truly-cold path: bucket spec from the sidecar,
    * schema from the parquet footers — Spark then trusts the bucket-encoded
    * file names and plans (t, b)/(cluster) joins shuffle-free). Returns
    * None unless the sidecar matches BOTH the expected spec and the current
    * source-data fingerprint — a stale index is never served.
    */
  private def resolvePersisted(
      spark: SparkSession,
      dir: String,
      table: String,
      dataPath: String,
      spec: IndexSpec
  ): Option[DataFrame] =
    resolvePersistedFor(spark, Tables.embeddings(spark, dir), "vec_id", table, dataPath, spec)

  /** Source-generalized persisted-index resolution (see [[fingerprintOf]]). */
  private[operators] def resolvePersistedFor(
      spark: SparkSession,
      source: DataFrame,
      idCol: String,
      table: String,
      dataPath: String,
      spec: IndexSpec
  ): Option[DataFrame] =
    readSidecar(spark, dataPath)
      .filter { s =>
        s.buckets == spec.buckets && s.keys == spec.keys && s.params == spec.params && {
          val (rows, maxId) = fingerprintOf(source, idCol)
          s.rows == rows && s.maxId == maxId
        }
      }
      .map { s =>
        registerBucketedTable(spark, table, dataPath, s.buckets, s.keys)
        spark.table(table)
      }

  /** Re-register catalog metadata over existing bucketed index files (the
    * truly-cold path: bucket spec from the sidecar, schema from the parquet
    * footers); refresh the cached file listing when the table is already
    * known (it may have been re-persisted by another session).
    */
  private[operators] def registerBucketedTable(
      spark: SparkSession,
      table: String,
      dataPath: String,
      buckets: Int,
      keys: Seq[String]
  ): Unit = {
    // the table NAME keys on the data dir only, so an existing entry may
    // still point at a DIFFERENT index dir's files (built there earlier in
    // this session); refresh alone would then serve the old location's
    // postings under the new location's validated sidecar — re-point by
    // drop+recreate (metadata-only for an external table)
    val mismatched = spark.catalog.tableExists(table) && {
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location
      val want = hadoopPath(spark, dataPath)._2.toUri.getPath
      new org.apache.hadoop.fs.Path(loc).toUri.getPath != want
    }
    if (mismatched) spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (!spark.catalog.tableExists(table)) {
      val schemaDdl = Tables.parquet(spark, dataPath).schema.toDDL
      val keyList = keys.map(k => s"`$k`").mkString(", ")
      spark.sql(
        s"CREATE TABLE `$table` ($schemaDdl) USING PARQUET " +
          s"CLUSTERED BY ($keyList) SORTED BY ($keyList) INTO $buckets BUCKETS " +
          s"LOCATION '$dataPath'"
      )
    } else spark.catalog.refreshTable(table)
  }

  /** The (delta rows, fingerprint-to-commit, new-row count) when the
    * current data is an APPEND-ONLY extension of what `s` indexed — every
    * already-indexed row still present (same count at `idCol` <= s.maxId)
    * and at least one new row above it. None for any other change
    * (rewrite, shrink): those need a full rebuild.
    *
    * All three values come from ONE aggregate snapshot, and the delta is
    * bounded to (s.maxId, snapshot max]: rows that land mid-append carry
    * ids above the snapshot max (the monotone-id ingest contract), so they
    * are excluded from this append and the committed fingerprint describes
    * exactly what was indexed — the next tick picks them up instead of
    * this one double-counting them. The contract's blind spot is honest:
    * a count-preserving in-place EDIT below s.maxId is not detectable
    * from (rows, maxId) — append mode trusts that indexed rows are
    * immutable; keep the default `rebuild` policy when they can mutate.
    * Any source with a monotone id column (see [[fingerprintOf]]).
    */
  private[operators] def appendOnlyDeltaFor(
      source: DataFrame,
      idCol: String,
      s: Sidecar
  ): Option[(DataFrame, (Long, Long), Long)] = {
    val r = Tables.memoOnFiles(source, s"append probe $idCol <= ${s.maxId}") {
      source.agg(count(lit(1)), max(col(idCol)), count(when(col(idCol) <= s.maxId, 1))).collect()(0)
    }
    val total = r.getLong(0)
    val maxId = if (r.isNullAt(1)) -1L else r.getLong(1)
    if (maxId > s.maxId && r.getLong(2) == s.rows)
      Some(
        (
          source.filter(col(idCol) > s.maxId && col(idCol) <= maxId),
          (total, maxId),
          total - s.rows
        )
      )
    else None
  }

  /** The persisted sidecar at `path` iff it matches `spec`'s geometry AND
    * the session opted into append refresh — the precondition for trying
    * [[appendOnlyDeltaFor]] instead of a rebuild.
    */
  private[operators] def appendableSidecar(
      spark: SparkSession,
      path: String,
      spec: IndexSpec,
      refreshConf: String = RefreshConf
  ): Option[Sidecar] =
    if (spark.conf.get(refreshConf, "rebuild") != "append") None
    else
      readSidecar(spark, path).filter(s =>
        s.buckets == spec.buckets && s.keys == spec.keys && s.params == spec.params
      )

  /** Shared append-path tail: sidecar off (crash-safe), session cache
    * invalidated, table metadata re-pointed at THIS index dir's files (the
    * table name keys on the data dir only, so a previous persist to a
    * different index dir may have left it at the other location — a
    * location-blind append would write there and stamp this sidecar with
    * rows it never received), delta rows appended as new bucket files,
    * fresh sidecar committed last.
    */
  private def appendToIndex(
      spark: SparkSession,
      deltaRows: DataFrame,
      table: String,
      path: String,
      spec: IndexSpec,
      fp: (Long, Long),
      invalidate: () => Unit,
      onAppend: () => Unit
  ): Unit = {
    deleteSidecar(spark, path)
    invalidate()
    // drop + recreate is metadata-only (external table) and guarantees the
    // append lands under `path` whatever location the name pointed at
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    registerBucketedTable(spark, table, path, spec.buckets, spec.keys)
    graft.sources.Layouts.appendBucketed(deltaRows, table, spec.keys, spec.buckets)
    spark.catalog.refreshTable(table)
    // family-specific append-time extras (e.g. BM25's corpus-stats slice)
    // land BEFORE the sidecar: a crash mid-extra leaves no sidecar, readers
    // build fresh
    onAppend()
    writeSidecar(spark, path, spec, fp)
  }

  /** Geometry-preserving compaction of a persisted index: rewrite the
    * accumulated append files (one per bucket per tick under the streaming
    * maintainer) into ONE file set per bucket, without touching geometry
    * (planes / centroids / codebooks) or content — the maintenance step
    * between full rebuilds once append files dominate scan/listing time.
    * No-op (false) unless the sidecar is CURRENT (a stale index's remedy
    * is persist/rebuild, not compaction) and the file count exceeds one
    * per bucket. Swap protocol: compacted copy written beside the live
    * index, sidecar off, old files dropped, copy renamed into place,
    * sidecar re-committed — a crash at any point leaves readers building
    * fresh rather than serving a torn index.
    */
  private def compactFamily(
      spark: SparkSession,
      dir: String,
      table: String,
      path: String,
      spec: IndexSpec,
      invalidate: () => Unit
  ): Boolean =
    compactFamilyFor(spark, dataFingerprint(spark, dir), table, path, spec, invalidate)

  /** Source-generalized compaction: caller supplies the current source
    * fingerprint (see [[fingerprintOf]]); everything else is unchanged.
    */
  private[operators] def compactFamilyFor(
      spark: SparkSession,
      fp: (Long, Long),
      table: String,
      path: String,
      spec: IndexSpec,
      invalidate: () => Unit
  ): Boolean = {
    if (!sidecarCurrent(spark, path, spec, fp)) false
    else {
      val (fs, p) = hadoopPath(spark, path)
      val dataFiles = fs
        .listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      if (dataFiles.length <= spec.buckets) false
      else {
        val tmpPath = s"${path}_compacting"
        val tmpTable = s"${table}_compacting"
        deletePath(spark, tmpPath)
        spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
        // read the files as PLAIN parquet (pinned to THIS path, and without
        // bucket metadata): reading through the catalog table would let the
        // optimizer elide the repartition on the strength of the table's
        // declared bucketing while the scan itself may execute non-bucketed
        // (autoBucketedScan), leaving the writer with arbitrary splits and
        // a files-per-bucket count no better than before
        val raw = Tables.parquet(spark, path)
        graft.sources.Layouts.writeBucketed(
          raw.repartition(spec.buckets, spec.keys.map(raw.col): _*),
          tmpTable,
          spec.keys,
          spec.buckets,
          tmpPath
        )
        deleteSidecar(spark, path)
        invalidate()
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
        deletePath(spark, path)
        val (tfs, tp) = hadoopPath(spark, tmpPath)
        tfs.rename(tp, p)
        registerBucketedTable(spark, table, path, spec.buckets, spec.keys)
        writeSidecar(spark, path, spec, fp)
        true
      }
    }
  }

  /** Compact each family's persisted bucketed table (geometry untouched). */
  def compactLshIndex(spark: SparkSession, dir: String, indexDir: String): Boolean = {
    val prof = annProfile(spark)
    compactFamily(
      spark,
      dir,
      lshTable(dir, prof),
      lshPath(indexDir, dir, prof),
      lshSpec(prof),
      () => lshIndexCache.invalidate(spark, s"$dir@${prof.name}")
    )
  }

  def compactIvfIndex(spark: SparkSession, dir: String, indexDir: String): Boolean = {
    val prof = annProfile(spark)
    compactFamily(
      spark,
      dir,
      ivfTable(dir, prof),
      ivfPath(indexDir, dir, prof),
      ivfSpec(prof),
      () => ivfIndexCache.invalidate(spark, s"$dir@${prof.name}")
    )
  }

  def compactPqIndex(spark: SparkSession, dir: String, indexDir: String): Boolean =
    compactFamily(
      spark,
      dir,
      pqTable(dir),
      pqPath(indexDir, dir),
      pqSpec,
      () => pqIndex.invalidate(spark, dir)
    )

  def compactIvfPqIndex(spark: SparkSession, dir: String, indexDir: String): Boolean =
    compactFamily(
      spark,
      dir,
      ivfPqTable(dir),
      ivfPqPath(indexDir, dir),
      ivfPqSpec,
      () => ivfPqIndex.invalidate(spark, dir)
    )

  /** Shared persist orchestration for every index family: [[Current]] on a
    * matching sidecar; bounded append under `graft.ann.refresh=append` for
    * an append-only change; full retrain otherwise. `computeDeltaRows`
    * maps the bounded delta embeddings to index rows under the PERSISTED
    * geometry; `rebuild` retrains from source and writes the table +
    * geometry artifacts — everything except the sidecar, which this driver
    * commits last (sidecar-last: a crash mid-write leaves readers building
    * fresh rather than serving a torn index).
    */
  private def persistFamily(
      spark: SparkSession,
      dir: String,
      table: String,
      path: String,
      spec: IndexSpec,
      invalidate: () => Unit,
      computeDeltaRows: DataFrame => DataFrame,
      rebuild: () => Unit
  ): PersistOutcome =
    persistFamilyFor(
      spark,
      Tables.embeddings(spark, dir),
      "vec_id",
      RefreshConf,
      table,
      path,
      spec,
      // the re-ranks join the unit corpus by vec_id: an index refreshed
      // over changed embeddings must not meet this session's old vectors
      () => { invalidate(); unitEmbeddings.invalidate(spark, dir) },
      computeDeltaRows,
      rebuild
    )

  /** Source-generalized persist orchestration (see [[fingerprintOf]]):
    * same Current / Appended / Rebuilt contract over any source table with
    * a monotone LONG id. `onAppend` runs with the RAW delta rows after the
    * bucketed append and before the sidecar commit — the hook a family
    * uses to extend non-bucketed artifacts (BM25's corpus-stats slices)
    * under the same crash-safety envelope.
    */
  private[operators] def persistFamilyFor(
      spark: SparkSession,
      source: DataFrame,
      idCol: String,
      refreshConf: String,
      table: String,
      path: String,
      spec: IndexSpec,
      invalidate: () => Unit,
      computeDeltaRows: DataFrame => DataFrame,
      rebuild: () => Unit,
      onAppend: DataFrame => Unit = _ => ()
  ): PersistOutcome = {
    val fp = fingerprintOf(source, idCol)
    if (sidecarCurrent(spark, path, spec, fp)) Current
    else
      appendableSidecar(spark, path, spec, refreshConf)
        .flatMap(s => appendOnlyDeltaFor(source, idCol, s)) match {
        case Some((delta, snapFp, nNew)) =>
          appendToIndex(spark, computeDeltaRows(delta), table, path, spec, snapFp, invalidate, () => onAppend(delta))
          Appended(nNew)
        case None =>
          deleteSidecar(spark, path)
          invalidate()
          spark.sql(s"DROP TABLE IF EXISTS `$table`")
          deletePath(spark, path)
          rebuild()
          writeSidecar(spark, path, spec, fp)
          Rebuilt
      }
  }

  /** True when the sidecar at `dataPath` already describes exactly this
    * spec over exactly this data — the idempotent-persist fast path.
    */
  private[operators] def sidecarCurrent(
      spark: SparkSession,
      dataPath: String,
      spec: IndexSpec,
      fp: (Long, Long)
  ): Boolean =
    readSidecar(spark, dataPath).exists(s =>
      s.buckets == spec.buckets && s.keys == spec.keys && s.params == spec.params &&
        s.rows == fp._1 && s.maxId == fp._2
    )

  private[operators] def deletePath(spark: SparkSession, p: String): Unit = {
    val (fs, path) = hadoopPath(spark, p)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Materialize the LSH index as a bucketed table under `indexDir`
    * (default: the `graft.ann.indexDir` conf) — one write, then every
    * session (this JVM or another) reads it back via [[buildLshIndex]]
    * instead of rebuilding. The table holds postings only,
    * (t, b, vec_id, cbs): the vectors stay in the source embeddings, read
    * once per session into [[unitEmbeddings]]. A table persisted with a
    * vector column carries the old params string, so it never matches a
    * sidecar check and is rebuilt, never served or appended to.
    *
    * Idempotent: returns [[Current]] without touching anything when the
    * persisted index already matches the current data and parameters.
    * Under `graft.ann.refresh=append` an append-only data change hashes
    * just the new rows with the same deterministic planes and appends them
    * ([[Appended]] — bit-identical to a rebuild). Otherwise recomputes FROM
    * SOURCE (never reading the index table it is about to replace) and
    * rewrites ([[Rebuilt]]). Sidecar-last commit: the old sidecar is
    * deleted first, so a crash mid-write leaves readers building fresh
    * rather than reading a torn index.
    */
  def persistLshIndex(spark: SparkSession, dir: String, indexDir: String): PersistOutcome = {
    val prof = annProfile(spark)
    val spec = lshSpec(prof)
    val path = lshPath(indexDir, dir, prof)
    val table = lshTable(dir, prof)
    persistFamily(
      spark,
      dir,
      table,
      path,
      spec,
      invalidate = () => lshIndexCache.invalidate(spark, s"$dir@${prof.name}"),
      computeDeltaRows = delta => computeLshIndexOn(spark, delta, prof),
      rebuild = () =>
        graft.sources.Layouts.writeBucketed(
          computeLshIndexOn(spark, Tables.embeddings(spark, dir), prof),
          table,
          spec.keys,
          spec.buckets,
          path
        )
    )
  }

  def persistLshIndex(spark: SparkSession, dir: String): PersistOutcome =
    persistLshIndex(spark, dir, confIndexDir(spark).getOrElse {
      throw new IllegalStateException(s"set $IndexDirConf or pass indexDir explicitly")
    })

  /** Materialize the IVF index: the assigned corpus as a table bucketed on
    * (cluster) plus the centroid table (C rows — tiny) as plain parquet.
    * Cold sessions read both back via [[buildIvfIndex]]. Same idempotent /
    * sidecar-last contract as [[persistLshIndex]]; under
    * `graft.ann.refresh=append` an append-only change assigns just the new
    * rows to the PERSISTED centroids (no retrain — the standard
    * add-without-retrain trade; rebuild periodically if the data
    * distribution drifts) and appends them to the cluster-bucketed layout.
    */
  def persistIvfIndex(spark: SparkSession, dir: String, indexDir: String): PersistOutcome = {
    val prof = annProfile(spark)
    val spec = ivfSpec(prof)
    val path = ivfPath(indexDir, dir, prof)
    val table = ivfTable(dir, prof)
    val centsPath = ivfCentroidsPath(indexDir, dir, prof)
    persistFamily(
      spark,
      dir,
      table,
      path,
      spec,
      invalidate = () => ivfIndexCache.invalidate(spark, s"$dir@${prof.name}"),
      computeDeltaRows = delta => ivfAssign(spark, delta, readCentroidsAt(spark, centsPath)),
      rebuild = () => {
        deletePath(spark, centsPath)
        val emb = Tables.embeddings(spark, dir)
        val cents = trainCentroidsFrom(emb, prof.ivfC)
        writeCentroids(spark, cents, centsPath)
        graft.sources.Layouts.writeBucketed(
          ivfAssign(spark, emb, cents),
          table,
          spec.keys,
          spec.buckets,
          path
        )
      }
    )
  }

  def persistIvfIndex(spark: SparkSession, dir: String): PersistOutcome =
    persistIvfIndex(spark, dir, confIndexDir(spark).getOrElse {
      throw new IllegalStateException(s"set $IndexDirConf or pass indexDir explicitly")
    })

  /** Materialize the PQ index: the (vec_id, code) table — 8 bytes of code
    * per vector, the artifact a 100 TB deployment persists INSTEAD of
    * re-reading embeddings — plus the codebooks (M x K x sub doubles,
    * ~130 KB) as plain parquet. Same idempotent/sidecar-last contract as
    * [[persistLshIndex]]; under `graft.ann.refresh=append` an append-only
    * change encodes just the new rows with the PERSISTED codebooks (no
    * retrain) and appends their 8-byte codes.
    */
  def persistPqIndex(spark: SparkSession, dir: String, indexDir: String): PersistOutcome = {
    val path = pqPath(indexDir, dir)
    val table = pqTable(dir)
    val booksPath = pqBooksPath(indexDir, dir)
    persistFamily(
      spark,
      dir,
      table,
      path,
      pqSpec,
      invalidate = () => pqIndex.invalidate(spark, dir),
      computeDeltaRows = delta => pqCodesFor(spark, delta, readBooksAt(spark, booksPath)),
      rebuild = () => {
        deletePath(spark, booksPath)
        val (books, codes) = computePqIndexFrom(spark, Tables.embeddings(spark, dir))
        writeBooks(spark, books, booksPath)
        graft.sources.Layouts.writeBucketed(codes, table, pqSpec.keys, pqSpec.buckets, path)
      }
    )
  }

  def persistPqIndex(spark: SparkSession, dir: String): PersistOutcome =
    persistPqIndex(spark, dir, confIndexDir(spark).getOrElse {
      throw new IllegalStateException(s"set $IndexDirConf or pass indexDir explicitly")
    })

  /** The centroid / codebook parquet sidecars of the persisted IVF / PQ /
    * IVF-PQ families — tiny (C rows / M x K rows), written once per
    * (re)build, read back by cold sessions and by the append-refresh path
    * (which must encode new rows under EXACTLY the persisted geometry).
    */
  private def writeCentroids(spark: SparkSession, cents: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }
      .toSeq
      .toDF("cluster", "centroid")
      .coalesce(1)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path)
  }

  private def writeBooks(spark: SparkSession, books: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex
      .flatMap { case (book, j) => book.zipWithIndex.map { case (cw, k) => (j, k, cw.toSeq) } }
      .toSeq
      .toDF("subspace", "k", "codeword")
      .coalesce(1)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path)
  }

  /** Stored geometry is a few rows: one collect, sorted on the driver,
    * memoized per file snapshot. Callers get copies, as from
    * [[trainCentroidsFrom]].
    */
  private def readCentroidsAt(spark: SparkSession, path: String): Array[Array[Double]] = {
    val stored = Tables.parquet(spark, path)
    Tables
      .memoOnFiles(stored, "stored centroids") {
        stored.collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      }
      .map(_.clone)
  }

  private def readBooksAt(spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    val stored = Tables.parquet(spark, path)
    Tables
      .memoOnFiles(stored, "stored codebooks") {
        val rows = stored.collect().sortBy(r => (r.getInt(0), r.getInt(1)))
        Array.tabulate(PQ_M)(j => rows.filter(_.getInt(0) == j).map(_.getSeq[Double](2).toArray))
      }
      .map(_.map(_.clone))
  }

  /** PQ codes for an arbitrary embedding frame under GIVEN codebooks — the
    * append-refresh encode (no retrain).
    */
  private def pqCodesFor(
      spark: SparkSession,
      emb: DataFrame,
      books: Array[Array[Array[Double]]]
  ): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val i = installPq(spark, books)
    withUnit(Tables.balanced(emb), "embedding", "vb")
      .withColumn("code", expr(s"pq_encode_$i(vb)"))
      .select(col("vec_id"), col("code"))
  }

  /** IVF-PQ (vec_id, cluster, code) rows for an arbitrary embedding frame
    * under GIVEN centroids + codebooks — the append-refresh assign+encode.
    */
  private def ivfPqRowsFor(
      spark: SparkSession,
      emb: DataFrame,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]
  ): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val fn = installCentroidRanks(spark, cents)
    val i = installPq(spark, books)
    withUnit(Tables.balanced(emb), "embedding", "vb")
      .withColumn("emb_d", expr(toDouble("embedding")))
      .withColumn("cluster", expr(s"element_at($fn(emb_d), 1)"))
      .withColumn("code", expr(s"pq_encode_$i(vb)"))
      .select(col("vec_id"), col("cluster"), col("code"))
  }

  private def readPersistedPq(
      spark: SparkSession,
      dir: String
  ): Option[(Array[Array[Array[Double]]], DataFrame)] =
    confIndexDir(spark).flatMap { ix =>
      resolvePersisted(spark, dir, pqTable(dir), pqPath(ix, dir), pqSpec).map { codes =>
        (readBooksAt(spark, pqBooksPath(ix, dir)), codes)
      }
    }

  private def readPersistedIvf(
      spark: SparkSession,
      dir: String,
      prof: AnnProfile
  ): Option[(Array[Array[Double]], DataFrame)] =
    confIndexDir(spark).flatMap { ix =>
      resolvePersisted(spark, dir, ivfTable(dir, prof), ivfPath(ix, dir, prof), ivfSpec(prof)).map { corpus =>
        (readCentroidsAt(spark, ivfCentroidsPath(ix, dir, prof)), corpus)
      }
    }

  // ---------------------------------------------------------------------------
  // q64 — symmetric int8 quantization of the embedding column with
  // per-vector reconstruction-error stats: the compression step a training
  // pipeline applies before shipping embeddings to an ANN index or feature
  // store (4× smaller than float32, 8× than float64). Per-row expression
  // pipeline — embarrassingly parallel, no shuffle until the final sort.
  //
  // Determinism: scale/quantize/error arithmetic is written with IDENTICAL
  // double expressions in the oracle (floor-form rounding, exponent
  // literals); the guard `greatest(..., 1e-12)` keeps a zero vector from
  // dividing by zero in both engines.
  // ---------------------------------------------------------------------------
  def q64EmbeddingQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables
      .balanced(Tables.embeddings(spark, dir))
      .withColumn("emb_d", expr("transform(embedding, x -> cast(x AS double))"))
      .withColumn("scale", expr("greatest(array_max(transform(emb_d, x -> abs(x))) / 127.0, 1e-12)"))
      .withColumn(
        "q",
        expr("transform(emb_d, x -> least(greatest(floor(x / scale + 5e-1), -127), 127))")
      )
      .withColumn("err", expr("zip_with(emb_d, q, (x, v) -> abs(x - v * scale))"))
      .select(
        col("vec_id"),
        expr("floor(scale * 1e9 + 5e-1) / 1e9").as("scale"),
        expr("floor(array_max(err) * 1e9 + 5e-1) / 1e9").as("max_err"),
        expr("floor(aggregate(err, 0D, (a, e) -> a + e) / size(err) * 1e9 + 5e-1) / 1e9").as("mean_err")
      )
      .orderBy(col("vec_id"))

  val q64Oracle: String =
    """WITH t AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> x::DOUBLE) AS emb_d,
      |         greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0, 1e-12) AS scale
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, scale,
      |         list_transform(list_zip(emb_d,
      |           list_transform(emb_d, x -> least(greatest(floor(x / scale + 5e-1), -127), 127))),
      |           z -> abs(z[1] - z[2] * scale)) AS err
      |  FROM t)
      |SELECT vec_id,
      |       floor(scale * 1e9 + 5e-1) / 1e9 AS scale,
      |       floor(list_max(err) * 1e9 + 5e-1) / 1e9 AS max_err,
      |       floor(list_sum(err) / len(err) * 1e9 + 5e-1) / 1e9 AS mean_err
      |FROM q
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q79 — per-label embedding centroids + cohesion: for each label, the mean
  // vector's norm and the member-to-centroid cosine spread. This is the
  // cluster-quality readout an embedding-curation pipeline runs after any
  // labeling/clustering step (is this label a tight semantic cluster or a
  // grab-bag?), and the exact-aggregation complement to the IVF centroids
  // (those are k-means approximations; these are closed-form per-group
  // means, so DuckDB can reproduce them bit-for-bit at 6 dp).
  //
  // Scale shape: the centroid is computed by posexplode → groupBy(label,
  // pos) avg — the explode multiplies rows by dim, but partial aggregation
  // combines map-side, so the shuffle carries only |labels|×dim rows. The
  // per-vector cosines then come from ONE broadcast join of the assembled
  // |labels|-row centroid table back onto the corpus, with the dot/norm as
  // codegen'd vec_dot — no second explode, no corpus self-join.
  //
  // Free invariant: on a unit-normalized corpus, mean_cos == centroid_norm
  // (avg(v·c/|c|) = (c·c)/|c| = |c| when |v|=1) — the two columns agreeing
  // at 6 dp is an internal consistency check the oracle re-proves.
  // ---------------------------------------------------------------------------
  def q79LabelCentroids(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val emb = Tables
      .embeddings(spark, dir)
      .withColumn("vd", col("embedding").cast("array<double>"))
    val cent = emb
      .select(col("label"), posexplode(col("vd")).as(Seq("pos", "e")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("e")).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)").as("cent"))
    emb
      .join(broadcast(cent), "label")
      .withColumn("dot", expr("vec_dot(vd, cent)"))
      .withColumn("nv", expr("vec_dot(vd, vd)"))
      .withColumn("nc", expr("vec_dot(cent, cent)"))
      .withColumn("cos", col("dot") / (sqrt(col("nv")) * sqrt(col("nc"))))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        expr("floor(sqrt(first(nc)) * 1e6 + 5e-1) / 1e6").as("centroid_norm"),
        expr("floor(avg(cos) * 1e6 + 5e-1) / 1e6").as("mean_cos"),
        expr("floor(min(cos) * 1e6 + 5e-1) / 1e6").as("min_cos"),
        expr("floor(max(cos) * 1e6 + 5e-1) / 1e6").as("max_cos")
      )
      .orderBy(col("label"))
  }

  val q79Oracle: String =
    """WITH pos AS (
      |  SELECT label, vec_id, pos, embedding[pos]::DOUBLE AS e
      |  FROM (SELECT label, vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS pos FROM embeddings)),
      |cent AS (SELECT label, pos, avg(e) AS c FROM pos GROUP BY 1, 2),
      |nc AS (SELECT label, sum(c * c) AS nc FROM cent GROUP BY 1),
      |dots AS (
      |  SELECT p.label AS label, p.vec_id AS vec_id, sum(p.e * c.c) AS dot, sum(p.e * p.e) AS nv
      |  FROM pos p JOIN cent c ON p.label = c.label AND p.pos = c.pos
      |  GROUP BY 1, 2),
      |cos AS (
      |  SELECT d.label AS label, d.vec_id AS vec_id, dot / (sqrt(nv) * sqrt(nc.nc)) AS cos
      |  FROM dots d JOIN nc ON d.label = nc.label)
      |SELECT c.label AS label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  floor(sqrt(any_value(nc.nc)) * 1e6 + 5e-1) / 1e6 AS centroid_norm,
      |  floor(avg(cos) * 1e6 + 5e-1) / 1e6 AS mean_cos,
      |  floor(min(cos) * 1e6 + 5e-1) / 1e6 AS min_cos,
      |  floor(max(cos) * 1e6 + 5e-1) / 1e6 AS max_cos
      |FROM cos c JOIN nc ON c.label = nc.label
      |GROUP BY c.label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------------------
  // q93 — FILTERED vector search: top-k under a metadata predicate (label =
  // 3) — the "where" clause every production vector store has to support
  // alongside similarity. Exact form: pre-filter the corpus, then
  // brute-force rank (oracle-gated — it's q34's plan over the filtered
  // corpus, and the label predicate reaches the parquet scan). A scale path
  // would PRE-filter the IVF index by label before the probe join — the
  // candidate set shrinks with predicate selectivity. (Post-filtering the
  // top-k instead would return < k rows under selective predicates — the
  // classic filtered-ANN failure mode.)
  // ---------------------------------------------------------------------------
  private val FILTER_LABEL = 3

  def q93FilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    bruteTopKFrom(
      queriesDf(spark, dir),
      unitCorpus(Tables.embeddings(spark, dir).filter(col("label") === FILTER_LABEL))
    )
  }

  val q93Oracle: String =
    s"""WITH u AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding,
       |           x -> x::DOUBLE / sqrt(list_sum(list_transform(embedding, e -> e::DOUBLE * e::DOUBLE)))) AS unit
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, unit AS va FROM u WHERE vec_id < $N_QUERIES),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         list_sum(list_transform(list_zip(q.va, e.unit), z -> z[1] * z[2])) AS cosine
       |  FROM q JOIN u e ON e.vec_id <> q.query_id AND e.label = $FILTER_LABEL),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cosine, 6) AS cosine
       |FROM ranked WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------------
  // q119 — contrastive TRIPLET mining: for each anchor vector, the nearest
  // SAME-label neighbor (the positive) and the nearest DIFFERENT-label
  // neighbor (the hard negative), with the margin between them — the
  // (anchor, positive, hard-negative) examples an embedding-model training
  // run mines from its own corpus (in-batch negatives are easy; the
  // valuable negatives are the nearest cross-label ones). A small or
  // negative margin flags anchors whose hardest negative beats their best
  // positive — exactly the triplets a contrastive loss learns most from.
  //
  // Scale shape: broadcast the |anchors| unit vectors over ONE corpus scan
  // (q34's declared brute-force contract — at 100 TB the candidate supply
  // swaps to an ANN index, the selection logic is unchanged), then per-side
  // argmax via ONE map-side-combined groupBy on the anchor key: max over a
  // (cosine, -vec_id) struct = highest 6dp-floored cosine with smallest-id
  // tiebreak, no corpus-sized window. Margin is a subtraction of two
  // already-6dp doubles — identical IEEE ops in both engines.
  // ---------------------------------------------------------------------------
  def q119TripletMining(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val emb = Tables.embeddings(spark, dir)
    val anchors = queriesOf(emb)
      .join(emb.select(col("vec_id").as("query_id"), col("label").as("a_label")), Seq("query_id"))
      .select(col("query_id"), col("a_label"), col("va"))
    val corpus = unitCorpus(emb)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    val scored = broadcast(anchors)
      .join(corpus, col("query_id") =!= col("vec_id"))
      .withColumn("c6", floor(expr("vec_dot(va, vb)") * lit(1e6) + lit(0.5)) / lit(1e6))
      // (c6, -vec_id) struct max = best cosine, smallest vec_id on ties
      .withColumn("pick", struct(col("c6"), (-col("vec_id")).as("nid")))
    scored
      .groupBy(col("query_id"), col("a_label"))
      .agg(
        max(when(col("label") === col("a_label"), col("pick"))).as("pos"),
        max(when(col("label") =!= col("a_label"), col("pick"))).as("neg")
      )
      .select(
        col("query_id").as("anchor_id"),
        col("a_label").as("anchor_label"),
        (-col("pos.nid")).as("pos_id"),
        col("pos.c6").as("pos_cos"),
        (-col("neg.nid")).as("neg_id"),
        col("neg.c6").as("neg_cos"),
        round(col("pos.c6") - col("neg.c6"), 6).as("margin")
      )
      .orderBy(col("anchor_id"))
  }

  /** Oracle: the q34 unit/cosine chain with per-side argmax via
    * (c6 DESC, vec_id) row_number — same floor-6dp-before-pick rule.
    */
  val q119Oracle: String =
    s"""WITH u AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding,
       |           x -> x::DOUBLE / sqrt(list_sum(list_transform(embedding, e -> e::DOUBLE * e::DOUBLE)))) AS unit
       |  FROM embeddings),
       |a AS (SELECT vec_id AS anchor_id, label AS a_label, unit AS va FROM u WHERE vec_id < $N_QUERIES),
       |scored AS (
       |  SELECT a.anchor_id, a.a_label, e.vec_id, e.label,
       |         floor(list_sum(list_transform(list_zip(a.va, e.unit), z -> z[1] * z[2])) * 1e6 + 0.5) / 1e6 AS c6
       |  FROM a JOIN u e ON e.vec_id <> a.anchor_id),
       |ranked AS (
       |  SELECT anchor_id, a_label, vec_id, c6,
       |         CASE WHEN label = a_label THEN 'pos' ELSE 'neg' END AS side,
       |         row_number() OVER (PARTITION BY anchor_id, CASE WHEN label = a_label THEN 'pos' ELSE 'neg' END
       |                            ORDER BY c6 DESC, vec_id) AS rn
       |  FROM scored),
       |best AS (SELECT * FROM ranked WHERE rn = 1)
       |SELECT a.anchor_id, CAST(a.a_label AS INT) AS anchor_label,
       |       p.vec_id AS pos_id, p.c6 AS pos_cos,
       |       n.vec_id AS neg_id, n.c6 AS neg_cos,
       |       round(p.c6 - n.c6, 6) AS margin
       |FROM a
       |LEFT JOIN (SELECT * FROM best WHERE side = 'pos') p USING (anchor_id)
       |LEFT JOIN (SELECT * FROM best WHERE side = 'neg') n USING (anchor_id)
       |ORDER BY anchor_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q136 — kNN label purity: for every vector, the fraction of its k=5
  // exact nearest neighbors (cosine) sharing its label — the
  // cleanlab/dataset-cartography label-noise diagnostic: a vector whose
  // neighborhood votes against its own label (purity <= 0.2) is either
  // mislabeled or sits on a class boundary, and both are exactly the
  // examples a curator re-audits before training a classifier on the
  // corpus. Complements q79 (centroid cohesion — a class-level average
  // that cannot localize which vectors are wrong) and q126 (AUC of an
  // external score — no embedding geometry).
  //
  // Scale shape: the all-anchors x corpus block is q34's declared
  // brute-force contract (at 100 TB the candidate supply swaps to the IVF
  // index, the purity logic is unchanged); top-5 is a row_number window
  // over each anchor's candidate rows — keyed by anchor, never
  // corpus-wide. Cosines floor-6dp before ranking (q62 rule) with
  // smallest-vec_id tiebreak, so the neighbor set — hence every purity —
  // is engine-exact and the query is fully oracle-gated.
  // ---------------------------------------------------------------------------
  val PURITY_K = 5

  /** Per-anchor top-K purity tail over any scored candidate frame
    * (anchor_id, a_label, vec_id, label, c6) — shared by exact q136 and
    * the IVF-candidate q138 so the two spec-compared paths use one
    * selection-and-rollup arithmetic and the index can only restrict the
    * candidate SET (the q125 discipline).
    */
  private def purityFromScored(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("anchor_id")).orderBy(col("c6").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PURITY_K)
      .groupBy(col("anchor_id"), col("a_label"))
      .agg(sum(when(col("label") === col("a_label"), 1L).otherwise(0L)).as("n_same_label"))
      .select(
        col("anchor_id").as("vec_id"),
        col("a_label").as("label"),
        col("n_same_label"),
        expr(s"cast(n_same_label AS double) / ${PURITY_K}e0").as("purity"),
        (col("n_same_label") <= 1L).as("suspect")
      )
      .orderBy(col("vec_id"))
  }

  def q136KnnPurity(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val emb = Tables.embeddings(spark, dir)
    val corpus = unitCorpus(emb).join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    val anchors = corpus.select(col("vec_id").as("anchor_id"), col("vb").as("va"), col("label").as("a_label"))
    purityFromScored(
      broadcast(anchors)
        .join(corpus, col("anchor_id") =!= col("vec_id"))
        .withColumn("c6", floor(expr("vec_dot(va, vb)") * lit(1e6) + lit(0.5)) / lit(1e6))
        .select(col("anchor_id"), col("a_label"), col("vec_id"), col("label"), col("c6"))
    )
  }

  // ---------------------------------------------------------------------------
  // q138 — kNN label purity over IVF CANDIDATES: q136's declared 100 TB
  // path, shipped (the q125 discipline applied to the purity diagnostic).
  // Each anchor probes its PURITY_NPROBE nearest IVF cells in raw space
  // (the trained quantizer's geometry, q36's rule) and meets only the
  // co-cell vectors via a keyed cluster equi-join — never the all-pairs
  // block — then the SAME purityFromScored tail selects top-5 and rolls up,
  // so the index restricts the candidate set, never the arithmetic.
  //
  // The approximation is honest and selfcheck-gated: per-vector purity
  // agreement (within one neighbor) vs the exact q136 at floor 0.9, plus
  // full anchor coverage — a cell layout that dropped anchors or drifted
  // purities past a neighbor would fail the gate, not ship silently.
  // ---------------------------------------------------------------------------
  val PURITY_NPROBE = 4

  def q138KnnPurityIvf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecFunctions.install(spark)
    val (cents, corpus) = buildIvfIndex(spark, dir) // (vec_id, vb, cluster)
    val fn = installCentroidRanks(spark, cents)
    val emb = Tables.embeddings(spark, dir)
    val labels = emb.select(col("vec_id"), col("label"))
    val probes = Tables
      .balanced(emb.select(col("vec_id").as("anchor_id"), col("embedding")))
      .select(
        col("anchor_id"),
        explode(expr(s"slice($fn(transform(embedding, x -> cast(x AS double))), 1, $PURITY_NPROBE)"))
          .as("cluster")
      )
    val anchorSide = corpus
      .select(col("vec_id").as("anchor_id"), col("vb").as("va"))
      .join(labels.select(col("vec_id").as("anchor_id"), col("label").as("a_label")), Seq("anchor_id"))
    purityFromScored(
      probes
        .join(corpus, Seq("cluster")) // keyed equi-join: only co-cell pairs
        .filter(col("vec_id") =!= col("anchor_id"))
        .join(anchorSide, Seq("anchor_id"))
        .join(labels, Seq("vec_id"))
        .withColumn("c6", floor(expr("vec_dot(va, vb)") * lit(1e6) + lit(0.5)) / lit(1e6))
        .select(col("anchor_id"), col("a_label"), col("vec_id"), col("label"), col("c6"))
    )
  }

  /** Oracle: the q119 unit/cosine chain with a rn<=K window and the same
    * floor-6dp-before-rank + smallest-id tiebreak rule.
    */
  val q136Oracle: String =
    s"""WITH u AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding,
       |           x -> x::DOUBLE / sqrt(list_sum(list_transform(embedding, e -> e::DOUBLE * e::DOUBLE)))) AS unit
       |  FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS anchor_id, a.label AS a_label, e.vec_id AS n_id, e.label AS n_label,
       |         floor(list_sum(list_transform(list_zip(a.unit, e.unit), z -> z[1] * z[2])) * 1e6 + 0.5) / 1e6 AS c6
       |  FROM u a JOIN u e ON e.vec_id <> a.vec_id),
       |topk AS (
       |  SELECT anchor_id, a_label, n_label FROM (
       |    SELECT anchor_id, a_label, n_label,
       |           row_number() OVER (PARTITION BY anchor_id ORDER BY c6 DESC, n_id) AS rn
       |    FROM scored) WHERE rn <= $PURITY_K)
       |SELECT anchor_id AS vec_id, CAST(a_label AS INT) AS label,
       |       CAST(sum(CASE WHEN n_label = a_label THEN 1 ELSE 0 END) AS BIGINT) AS n_same_label,
       |       CAST(sum(CASE WHEN n_label = a_label THEN 1 ELSE 0 END) AS DOUBLE) / ${PURITY_K}e0 AS purity,
       |       sum(CASE WHEN n_label = a_label THEN 1 ELSE 0 END) <= 1 AS suspect
       |FROM topk GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q34_bruteforce_topk" -> (q34BruteForceTopK _),
    "q35_lsh_topk" -> (q35LshTopK _),
    "q36_ivf_topk" -> (q36IvfTopK _),
    "q64_embedding_quantize" -> (q64EmbeddingQuantize _),
    "q75_pq_topk" -> (q75PqTopK _),
    "q76_ivfpq_topk" -> (q76IvfPqTopK _),
    "q79_label_centroids" -> (q79LabelCentroids _),
    "q93_filtered_topk" -> (q93FilteredTopK _),
    "q119_triplet_mining" -> (q119TripletMining _),
    "q136_knn_purity" -> (q136KnnPurity _),
    "q138_knn_purity_ivf" -> (q138KnnPurityIvf _)
  )

  /** q35/q36/q75/q76 are hash/model-based — rows-only driver check. */
  val oracles: Map[String, String] = Map(
    "q34_bruteforce_topk" -> q34Oracle,
    "q64_embedding_quantize" -> q64Oracle,
    "q79_label_centroids" -> q79Oracle,
    "q93_filtered_topk" -> q93Oracle,
    "q119_triplet_mining" -> q119Oracle,
    "q136_knn_purity" -> q136Oracle
  )
}
