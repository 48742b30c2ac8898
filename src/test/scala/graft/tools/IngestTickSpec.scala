package graft.tools

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.core.Tables
import graft.operators.{Curation, Dedup}
import graft.streaming.{StreamingCorpus, StreamingSpanDedup}

/** The composite per-drop pass: after each ingest tick, EVERY maintained
  * surface must equal its batch twin over the corpus landed so far — the
  * whole point of the one-command entry. Each tick also keeps a Spark job
  * budget and runs no parquet schema-inference job.
  */
class IngestTickSpec extends SparkSpec {

  /** Job budgets of the first tick (bootstrap over the first half) and the
    * second (the second half as a delta), a few jobs above the measured
    * counts (111 and 134).
    */
  private val BootstrapJobs = 115
  private val DeltaJobs = 137

  /** `body`'s result and the long call site of every Spark job it ran,
    * bracketed by marker jobs in their own job group (listener delivery is
    * asynchronous).
    */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        seen += group -> e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
        ()
      }
    }
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.synchronized(seen.exists(_._1 == name)) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.synchronized(seen.exists(_._1 == name)), s"marker job $name was not delivered")
    }
    sc.addSparkListener(listener)
    val out =
      try {
        marker("jobs-before")
        val r = body
        marker("jobs-after")
        r
      } finally sc.removeSparkListener(listener)
    val sites = seen.synchronized(seen.toSeq)
    (out, sites.slice(sites.indexWhere(_._1 == "jobs-before") + 1, sites.indexWhere(_._1 == "jobs-after")).map(_._2))
  }

  /** A parquet schema-inference job: its call site enters Spark through the
    * reader (a scan with a given schema runs no job there).
    */
  private def infersSchema(site: String): Boolean =
    Seq("inferSchema", "mergeSchemasInParallel", "DataFrameReader.parquet(", "DataFrameReader.load(").exists(site.contains)

  /** Every directory under `root` that holds parquet data files directly. */
  private def parquetDirs(root: String): Seq[String] = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try
      s.iterator().asScala.toSeq.collect {
        case p: Path if Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") => p.getParent.toString
      }.distinct.sorted
    finally s.close()
  }

  test("the schema-inference detector sees a plain parquet read") {
    val (_, sites) = jobsOf(spark.read.parquet(s"$sfDir/region.parquet"))
    assert(sites.exists(infersSchema), sites.mkString("\n---\n"))
    val (_, none) = jobsOf(Tables.parquet(spark, s"$sfDir/region.parquet"))
    assert(none.isEmpty, none.mkString("\n---\n"))
  }

  private def copyHalf(srcDir: String, dstDir: String, table: String, idCol: String, firstHalf: Boolean): Unit = {
    val df = spark.read.parquet(s"$srcDir/$table.parquet")
    val mid = df.agg(org.apache.spark.sql.functions.expr(s"percentile($idCol, 0.5)")).head().getDouble(0)
    val part =
      if (firstHalf) df.filter(org.apache.spark.sql.functions.col(idCol) <= mid)
      else df.filter(org.apache.spark.sql.functions.col(idCol) > mid)
    part.write.mode("append").parquet(s"$dstDir/$table.parquet")
  }

  /** Bytes of the parquet data files of the one `<family>_<key>` index
    * table under `annDir` (geometry side tables such as `_centroids` and
    * local-FS `.crc` shadows excluded).
    */
  private def indexBytes(annDir: String, family: String): Long = {
    val dirs = new java.io.File(annDir).listFiles().filter(_.getName.matches(s"${family}_[0-9a-f]+")).toSeq
    assert(dirs.size === 1, s"expected one $family table under $annDir: $dirs")
    dirs.head.listFiles().filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).map(_.length).sum
  }

  private def labelSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def statSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.collect()
      .map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Long]("dup_tokens"), r.getAs[Long]("longest_span"))
      )
      .toSet

  private def stageMap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(3)).toMap

  test("ingest-tick: two drops; clusters, spans, corpus stages and ANN all current after each") {
    val dataDir = Files.createTempDirectory("it_data").toString
    val stateDir = Files.createTempDirectory("it_state").toString

    for (first <- Seq(true, false)) {
      copyHalf(sfDir, dataDir, "documents", "doc_id", first)
      copyHalf(sfDir, dataDir, "embeddings", "vec_id", first)
      val (o, sites) = jobsOf(IngestTick.run(spark, dataDir, stateDir))
      val budget = if (first) BootstrapJobs else DeltaJobs
      info(s"drop first=$first: ${sites.size} Spark jobs")
      assert(sites.size <= budget, s"drop first=$first: IngestTick.run ran ${sites.size} Spark jobs, budget $budget")
      assert(!sites.exists(infersSchema), s"drop first=$first: schema inference ran: ${sites.filter(infersSchema)}")
      assert(o.corpus.mode === "incremental" && o.corpus.nDelta > 0)
      assert(o.clusterDelta > 0 && o.spanDelta > 0)

      // every maintained surface equals its batch twin over the landed corpus
      assert(
        labelSet(
          spark.read
            .parquet(s"$stateDir/clusters/labels/current")
            .select("doc_id", "cluster", "cluster_size")
        ) === labelSet(Dedup.q101LshDupClusters(spark, dataDir).select("doc_id", "cluster", "cluster_size")),
        s"drop first=$first: maintained clusters != batch q101"
      )
      assert(
        statSet(StreamingSpanDedup.readStats(spark, s"$stateDir/spans")) ===
          statSet(Curation.q110SpanDedup(spark, dataDir)),
        s"drop first=$first: maintained span stats != batch q110"
      )
      assert(
        stageMap(StreamingCorpus.finalStages(spark, s"$stateDir/corpus")) ===
          stageMap(Curation.corpusBuildStages(spark, dataDir)),
        s"drop first=$first: maintained corpus stages != batch build"
      )
      // the cross-family inputs of the q142/q185 syndication tail: the
      // cluster labels (above) and the corpus maintainer's source
      // attribution, which must equal the landed corpus's
      assert(
        StreamingCorpus.readStages(spark, s"$stateDir/corpus").select("doc_id", "source").collect().toSet ===
          Tables.documents(spark, dataDir).select("doc_id", "source").collect().toSet,
        s"drop first=$first: maintained source attribution != landed corpus"
      )
      assert(o.driftDelta > 0, s"drop first=$first: drift tick must see the delta")
      assert(
        graft.streaming.StreamingDriftWatch.driftTable(spark, s"$stateDir/drift").collect().toSeq.map(_.toSeq) ===
          graft.operators.Importance.q128SourceDrift(spark, dataDir).collect().toSeq.map(_.toSeq),
        s"drop first=$first: maintained drift table != batch q128"
      )
      assert(o.sketchDelta > 0, s"drop first=$first: sketch tick must see the delta")
      assert(
        graft.streaming.StreamingSourceSketch.sketchTable(spark, s"$stateDir/sketch").collect().toSeq.map(_.toSeq) ===
          Curation.q134SourceSketch(spark, dataDir).collect().toSeq.map(_.toSeq),
        s"drop first=$first: maintained sketch table != batch q134"
      )
      assert(o.sampleDelta > 0, s"drop first=$first: sample tick must see the delta")
      assert(
        graft.streaming.StreamingSample.sampleTable(spark, s"$stateDir/sample").collect().toSeq.map(_.toSeq) ===
          graft.operators.Sampling.q145WeightedSample(spark, dataDir).collect().toSeq.map(_.toSeq),
        s"drop first=$first: maintained reservoir != batch q145"
      )
      assert(o.bloomDelta > 0, s"drop first=$first: bloom tick must see the delta")
      assert(
        graft.streaming.StreamingBloomScreen
          .screenTable(spark, s"$stateDir/bloom").collect().toSeq.map(_.toSeq) ===
          Curation.q166BloomScreen(spark, dataDir).collect().toSeq.map(_.toSeq),
        s"drop first=$first: maintained bloom screen != batch q166"
      )
      assert(o.packDelta > 0, s"drop first=$first: pack tick must see the delta")
      assert(
        graft.streaming.StreamingPack
          .manifestTable(spark, s"$stateDir/pack").collect().toSeq.map(_.toSeq) ===
          Curation.q170PackManifest(spark, dataDir).collect().toSeq.map(_.toSeq),
        s"drop first=$first: maintained pack manifest != batch q170"
      )
      assert(o.mediaDelta > 0, s"drop first=$first: media tick must see the delta")
      assert(
        graft.streaming.StreamingMediaFps.fpTable(spark, s"$stateDir/media", "video").collect().toSet ===
          graft.operators.Multimodal.videoFpsRaw(spark, dataDir).collect().toSet,
        s"drop first=$first: maintained media index (video fps) != batch q115 stage"
      )
      assert(o.winnowDelta > 0, s"drop first=$first: winnow tick must see the delta")
      assert(
        graft.streaming.StreamingWinnow
          .fpTable(spark, s"$stateDir/winnow").collect().toSeq.map(_.toSeq).sortBy(_.mkString("|")) ===
          Dedup.winnowFingerprints(spark, dataDir).collect().toSeq.map(_.toSeq).sortBy(_.mkString("|")),
        s"drop first=$first: maintained winnow index != batch fingerprints"
      )
      // ANN: every family persisted something on drop 1; drop 2 must reuse
      // geometry (Appended) or legitimately rebuild — never silently skip a
      // GROWN corpus as Current
      assert(o.ann.nonEmpty, "embeddings present: ann refresh must run")
      o.ann.foreach { case (fam, out) =>
        assert(out.wrote, s"drop first=$first: ann $fam did not write for a grown corpus ($out)")
      }
      // the LSH table is postings only: it holds fewer bytes than the IVF
      // table, which stores each vector once
      if (first) {
        val (lsh, ivf) = (indexBytes(s"$stateDir/ann", "lsh"), indexBytes(s"$stateDir/ann", "ivf"))
        info(s"bootstrap: LSH table $lsh bytes, IVF table $ivf bytes")
        assert(lsh < ivf, s"bootstrap: LSH table $lsh bytes, IVF table $ivf bytes")
      }
      if (!first)
        assert(
          o.ann.exists { case (_, out) => out.isInstanceOf[graft.operators.Similarity.Appended] },
          s"append refresh: at least one family must extend in place, got ${o.ann}"
        )
      // BM25 postings: drop 1 rebuilds, drop 2 (grown corpus, monotone ids)
      // appends; the served ranking equals the scan path over the landed data
      assert(o.bm25.wrote, s"drop first=$first: bm25 did not write for a grown corpus (${o.bm25})")
      if (!first) assert(o.bm25.isInstanceOf[graft.operators.Similarity.Appended], s"got ${o.bm25}")
      val serve = spark.newSession()
      serve.conf.set(graft.operators.Retrieval.Bm25IndexDirConf, s"$stateDir/bm25")
      assert(
        graft.operators.Retrieval.q122Bm25Indexed(serve, dataDir).collect().toSeq ===
          graft.operators.Retrieval.q103Bm25(spark.newSession(), dataDir).collect().toSeq,
        s"drop first=$first: maintained bm25 index != scan path"
      )
    }

    // redelivery: a tick with nothing new is a no-op everywhere
    val o3 = IngestTick.run(spark, dataDir, stateDir)
    assert(
      o3.corpus.mode === "noop" && o3.clusterDelta === 0L && o3.spanDelta === 0L &&
        o3.driftDelta === 0L && o3.sketchDelta === 0L && o3.winnowDelta === 0L &&
        o3.sampleDelta === 0L && o3.bloomDelta === 0L && o3.packDelta === 0L &&
        o3.mediaDelta === 0L
    )
    info(s"two drops + noop tick verified against batch twins")

    // every parquet dir the ticks left opens with the schema Spark infers
    val dirs = parquetDirs(stateDir) ++ parquetDirs(dataDir)
    assert(dirs.size > 20, dirs)
    dirs.foreach(d => assert(Tables.parquet(spark, d).schema === spark.read.parquet(d).schema, d))
  }
}
