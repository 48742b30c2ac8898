package graft.tools

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Similarity}

/** ANN recall/scan-fraction sweep — the tuning companion to Bench's
  * `quality` numbers. Prints, for the uniform corpus AND the planted
  * clustered corpus, recall@10 vs the exact baseline at each multiprobe /
  * nprobe / shortlist setting, with the measured candidate fraction. Each
  * swept value is passed to a `Similarity` entry that takes it as an
  * argument (`lshTopKWith`, `ivfTopKWith`, `pqTopKWith`, `ivfPqTopKWith`
  * and the `planted*` evals). Run:
  *
  *   sbt "runMain graft.tools.AnnTune /root/testdata/sf0.1"
  *   (or SPARK_GRAFT_SF_DIR=... with no argument)
  */
object AnnTune {
  private def topkSet(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private def recall(got: Set[(Long, Long)], want: Set[(Long, Long)]): Double =
    if (want.isEmpty) Double.NaN else got.intersect(want).size.toDouble / want.size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    // optional section filter (second arg): run only the named sweep —
    // "clsh" for the counting-LSH grid, "all" (default) for everything
    val only = args.drop(1).headOption.getOrElse("all")
    val spark = graft.core.Sessions.local("graft-ann-tune")
    if (only == "clsh") { clshSweep(spark, sfDir); spark.stop(); return }

    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val n = graft.core.Tables.embeddings(spark, sfDir).count()
    println(s"corpus n=$n dir=$sfDir")

    val exactU = topkSet(Similarity.q34BruteForceTopK(spark, sfDir))
    val exactP = topkSet(Similarity.plantedBruteTopK(spark, sfDir))
    // uniform legs under the session profile's geometry, as q35/q36 serve
    val prof = Similarity.annProfile(spark)
    for (m <- 0 to 4) {
      val ru = recall(topkSet(Similarity.lshTopKWith(spark, sfDir, prof, m, prof.lshMinHits)), exactU)
      val rp = recall(topkSet(Similarity.plantedLshTopK(spark, sfDir, m)), exactP)
      val frac = Similarity.plantedLshCandidateCount(spark, sfDir, m).toDouble / (5.0 * n)
      println(f"lsh m=$m uniform=$ru%.3f planted=$rp%.3f planted_cand_frac=$frac%.3f")
    }

    for (np <- 1 to 6) {
      val ru = recall(topkSet(Similarity.ivfTopKWith(spark, sfDir, prof, np)), exactU)
      val rp = recall(topkSet(Similarity.plantedIvfTopK(spark, sfDir, np)), exactP)
      val frac = Similarity.plantedIvfCandidateCount(spark, sfDir, np).toDouble / (5.0 * n)
      println(f"ivf np=$np uniform=$ru%.3f planted=$rp%.3f planted_cand_frac=$frac%.3f")
    }

    val exactPairsP = pairSet(Dedup.plantedExactNearDup(spark, sfDir))
    val lshPairsP = pairSet(Dedup.plantedLshNearDup(spark, sfDir))
    println(f"q60 planted pairs exact=${exactPairsP.size} lsh_recall=${recall(lshPairsP, exactPairsP)}%.3f")
    val exactPairsU = pairSet(Dedup.q33EmbeddingNearDup(spark, sfDir))
    val lshPairsU = pairSet(Dedup.q60LshNearDup(spark, sfDir))
    println(f"q60 uniform pairs exact=${exactPairsU.size} lsh_recall=${recall(lshPairsU, exactPairsU)}%.3f")

    // PQ: recall vs shortlist width (the ADC pass always scans every 8-byte
    // code; the shortlist is the exact-re-rank budget).
    for (sl <- Seq(16, 32, 64, 128)) {
      val ru = recall(topkSet(Similarity.pqTopKWith(spark, sfDir, sl)), exactU)
      val rp = recall(topkSet(Similarity.plantedPqTopK(spark, sfDir, sl)), exactP)
      println(f"pq shortlist=$sl uniform=$ru%.3f planted=$rp%.3f rerank_frac=${sl.toDouble / n}%.3f")
    }

    // IVF-PQ: the production composition's 2-D grid — nprobe sets how much
    // of the code table the ADC pass reads (nprobe/C), shortlist the exact
    // re-rank budget (q76 serves nprobe 4, shortlist 64).
    for {
      np <- Seq(2, 4, 6)
      sl <- Seq(32, 64, 128)
    } {
      val ru = recall(topkSet(Similarity.ivfPqTopKWith(spark, sfDir, np, sl)), exactU)
      val rp = recall(topkSet(Similarity.plantedIvfPqTopK(spark, sfDir, np, sl)), exactP)
      println(f"ivfpq np=$np shortlist=$sl uniform=$ru%.3f planted=$rp%.3f")
    }

    // Structural sweep (uniform corpus): the grid the profile presets were
    // chosen from. Tables x planes x probes for LSH, nprobe (x centroid
    // count) for IVF — uniform recall vs measured scanned fraction, the
    // quantity that actually buys recall on cluster-free data.
    println("-- structural sweep (uniform corpus): lsh tables/planes/probes --")
    for {
      (t, p) <- Seq((6, 6), (8, 5), (8, 4), (12, 4), (12, 5), (16, 5), (16, 6))
      m <- Seq(1, 2, 3, 4)
    } {
      val prof = Similarity.sweepProfile(t, p)
      val r = recall(topkSet(Similarity.lshTopKWith(spark, sfDir, prof, m)), exactU)
      val frac = Similarity.lshCandidateCountWith(spark, sfDir, prof, m).toDouble / (5.0 * n)
      println(f"lsh t=$t p=$p m=$m uniform=$r%.3f cand_frac=$frac%.3f")
    }
    clshSweep(spark, sfDir)
    println("-- structural sweep (uniform corpus): ivf c/nprobe --")
    for {
      c <- Seq(8, 16, 32, 64)
      np <- Seq(c / 4, c * 3 / 8, c / 2, (c * 3) / 4, (c * 7) / 8).distinct.filter(_ >= 1)
    } {
      val prof = Similarity.sweepProfile(Similarity.Fast.lshTables, Similarity.Fast.lshPlanes, c)
      val r = recall(topkSet(Similarity.ivfTopKWith(spark, sfDir, prof, np)), exactU)
      val frac = Similarity.ivfCandidateCountWith(spark, sfDir, prof, np).toDouble / (5.0 * n)
      println(f"ivf c=$c np=$np uniform=$r%.3f cand_frac=$frac%.3f")
    }

    // The chosen presets, measured end-to-end through the profile conf —
    // the numbers SimilaritySpec floors (uniform >= 0.9 for quality).
    for (profName <- Seq("fast", "quality")) {
      spark.conf.set(Similarity.ProfileConf, profName)
      val r35 = recall(topkSet(Similarity.q35LshTopK(spark, sfDir)), exactU)
      val r36 = recall(topkSet(Similarity.q36IvfTopK(spark, sfDir)), exactU)
      println(f"profile=$profName q35_uniform=$r35%.3f q36_uniform=$r36%.3f")
    }
    spark.conf.unset(Similarity.ProfileConf)

    spark.stop()
  }

  /** Counting-LSH sweep: collision-count threshold tau over the quality
    * geometry family — the knob that breaks the uniform recall ~ scan
    * wall (collision count is monotone in cosine, so requiring >= tau
    * distinct-table hits drops random colliders much faster than true
    * neighbors). scan fraction = exact-distance evaluations.
    */
  private def clshSweep(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    val n = graft.core.Tables.embeddings(spark, sfDir).count()
    val exactU = topkSet(Similarity.q34BruteForceTopK(spark, sfDir))
    println("-- counting-lsh sweep (uniform corpus): tables x probes x minhits --")
    for {
      (t, p) <- Seq((16, 6), (24, 6), (16, 5))
      m <- Seq(2, 3, 4, 5).filter(_ <= p)
      tau <- Seq(2, 3, 4)
    } {
      val prof = Similarity.sweepProfile(t, p)
      val r = recall(topkSet(Similarity.lshTopKWith(spark, sfDir, prof, m, tau)), exactU)
      val frac = Similarity.lshCandidateCountWith(spark, sfDir, prof, m, tau).toDouble / (5.0 * n)
      println(f"clsh t=$t p=$p m=$m tau=$tau uniform=$r%.3f cand_frac=$frac%.3f")
    }
  }
}
