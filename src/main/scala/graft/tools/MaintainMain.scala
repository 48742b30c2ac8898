package graft.tools

import graft.streaming.{StreamingBloomScreen, StreamingCorpus, StreamingDriftWatch, StreamingMediaFps, StreamingPack, StreamingDupClusters, StreamingSample, StreamingScd2, StreamingSourceSketch, StreamingSpanDedup, StreamingWinnow}

/** CLI entry points for the incremental maintainers — one tick per
  * invocation (the cron / entrypoint shape).
  *
  *   bin/graft.sh scd2-maintain    <eventsDir> <historyDir>
  *   bin/graft.sh corpus-maintain  <docsDir>   <stateDir>
  *   bin/graft.sh cluster-maintain <docsDir>   <stateDir>
  *   bin/graft.sh span-maintain    <docsDir>   <stateDir>
  */
object Scd2MaintainMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: Scd2MaintainMain <eventsDir> <historyDir>")
      sys.exit(2)
    }
    val spark = graft.core.Sessions.local("graft-scd2-maintain")
    try {
      val o = StreamingScd2.tick(spark, args(0), args(1))
      println(s"[scd2-maintain] mode=${o.mode} history_rows=${o.historyRows} watermark=${o.watermark}")
    } finally spark.stop()
  }
}

object CorpusMaintainMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: CorpusMaintainMain <docsDir> <stateDir>")
      sys.exit(2)
    }
    val spark = graft.core.Sessions.local("graft-corpus-maintain")
    try {
      val o = StreamingCorpus.tick(spark, args(0), args(1))
      println(
        s"[corpus-maintain] mode=${o.mode} delta_docs=${o.nDelta} retro_contaminated=${o.retro} watermark=${o.watermark}"
      )
      StreamingCorpus
        .finalStages(spark, args(1))
        .groupBy("final_stage")
        .count()
        .orderBy("final_stage")
        .collect()
        .foreach(r => println(s"[corpus-maintain] ${r.getString(0)}=${r.getLong(1)}"))
    } finally spark.stop()
  }
}

object ClusterMaintainMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: ClusterMaintainMain <docsDir> <stateDir>")
      sys.exit(2)
    }
    val spark = graft.core.Sessions.local("graft-cluster-maintain")
    try {
      val n = StreamingDupClusters.tick(spark, args(0), args(1))
      val labels = StreamingDupClusters.readLabels(spark, args(1))
      val nClusters = labels.select("cluster").distinct().count()
      println(s"[cluster-maintain] delta_docs=$n labeled_docs=${labels.count()} clusters=$nClusters")
    } finally spark.stop()
  }
}

object SpanMaintainMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: SpanMaintainMain <docsDir> <stateDir>")
      sys.exit(2)
    }
    val spark = graft.core.Sessions.local("graft-span-maintain")
    try {
      val (n, retro) = StreamingSpanDedup.tick(spark, args(0), args(1))
      val stats = StreamingSpanDedup.readStats(spark, args(1))
      val dup = stats.filter(org.apache.spark.sql.functions.col("dup_tokens") > 0).count()
      println(s"[span-maintain] delta_docs=$n retro_recomputed=$retro tracked_docs=${stats.count()} docs_with_spans=$dup")
    } finally spark.stop()
  }
}

/** The composite per-drop maintenance pass: ONE invocation brings every
  * incremental surface current after a data drop lands — the command a
  * cron/orchestrator actually runs per ingest tick, instead of four. Order
  * matters only for reporting; each maintainer derives its own delta from
  * its own watermark, so a crash mid-pass resumes wherever it stopped and
  * already-ticked maintainers no-op on the rerun.
  *
  *   bin/graft.sh ingest-tick <dataDir> <stateDir> [annProfile ...]
  *
  * Expects the standard layout under dataDir (`documents.parquet`, and
  * optionally `embeddings.parquet` — the ANN append-refresh is skipped when
  * absent). State lands under
  * stateDir/{corpus,clusters,spans,drift,sketch,winnow,sample,bloom,pack,media,ann,bm25}.
  */
object IngestTick {

  final case class Outcome(
      corpus: StreamingCorpus.TickOutcome,
      clusterDelta: Long,
      spanDelta: Long,
      spanRetro: Long,
      driftDelta: Long,
      sketchDelta: Long,
      winnowDelta: Long,
      sampleDelta: Long,
      bloomDelta: Long,
      packDelta: Long,
      mediaDelta: Long,
      ann: Seq[(String, graft.operators.Similarity.PersistOutcome)],
      bm25: graft.operators.Similarity.PersistOutcome
  )

  def run(
      spark: org.apache.spark.sql.SparkSession,
      dataDir: String,
      stateDir: String,
      annProfiles: Seq[String] = Seq("fast")
  ): Outcome = {
    val corpus = StreamingCorpus.tick(spark, s"$dataDir/documents.parquet", s"$stateDir/corpus")
    val clusterDelta = StreamingDupClusters.tick(spark, dataDir, s"$stateDir/clusters")
    val (spanDelta, spanRetro) = StreamingSpanDedup.tick(spark, dataDir, s"$stateDir/spans")
    val driftDelta = StreamingDriftWatch.tick(spark, dataDir, s"$stateDir/drift")
    val sketchDelta = StreamingSourceSketch.tick(spark, dataDir, s"$stateDir/sketch")
    val winnowDelta = StreamingWinnow.tick(spark, dataDir, s"$stateDir/winnow")
    val sampleDelta = StreamingSample.tick(spark, dataDir, s"$stateDir/sample")
    val bloomDelta = StreamingBloomScreen.tick(spark, dataDir, s"$stateDir/bloom")
    val packDelta = StreamingPack.tick(spark, dataDir, s"$stateDir/pack")
    val mediaDelta = StreamingMediaFps.tick(spark, dataDir, s"$stateDir/media")
    val ann =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dataDir, "embeddings.parquet"))) {
        // refresh conf on a DEDICATED session clone, so a serving session's
        // conf is never mutated mid-query
        val m = spark.newSession()
        m.conf.set(graft.operators.Similarity.IndexDirConf, s"$stateDir/ann")
        m.conf.set(graft.operators.Similarity.RefreshConf, "append")
        AnnBuild.run(m, dataDir, s"$stateDir/ann", annProfiles)
      } else Seq.empty
    val bm25 = {
      // same dedicated-session discipline as the ANN refresh
      val m = spark.newSession()
      m.conf.set(graft.operators.Retrieval.Bm25RefreshConf, "append")
      graft.operators.Retrieval.persistBm25Index(m, dataDir, s"$stateDir/bm25")
    }
    Outcome(corpus, clusterDelta, spanDelta, spanRetro, driftDelta, sketchDelta, winnowDelta, sampleDelta, bloomDelta, packDelta, mediaDelta, ann, bm25)
  }
}

object IngestTickMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: IngestTickMain <dataDir> <stateDir> [annProfile ...]")
      sys.exit(2)
    }
    val profiles = if (args.length > 2) args.drop(2).toSeq else Seq("fast")
    val spark = graft.core.Sessions.local("graft-ingest-tick")
    try {
      val o = IngestTick.run(spark, args(0), args(1), profiles)
      println(
        s"[ingest-tick] corpus mode=${o.corpus.mode} delta=${o.corpus.nDelta} retro=${o.corpus.retro} watermark=${o.corpus.watermark}"
      )
      println(s"[ingest-tick] clusters delta=${o.clusterDelta}")
      println(s"[ingest-tick] spans delta=${o.spanDelta} retro=${o.spanRetro}")
      println(s"[ingest-tick] drift delta=${o.driftDelta}")
      println(s"[ingest-tick] sketch delta=${o.sketchDelta}")
      println(s"[ingest-tick] winnow delta=${o.winnowDelta}")
      println(s"[ingest-tick] sample delta=${o.sampleDelta}")
      println(s"[ingest-tick] bloom delta=${o.bloomDelta}")
      println(s"[ingest-tick] pack delta=${o.packDelta}")
      println(s"[ingest-tick] media delta=${o.mediaDelta}")
      if (o.ann.isEmpty) println("[ingest-tick] ann skipped (no embeddings.parquet)")
      else o.ann.foreach { case (fam, out) => println(s"[ingest-tick] ann $fam -> $out") }
      println(s"[ingest-tick] bm25 -> ${o.bm25}")
    } finally spark.stop()
  }
}

/** The decontamination family's SERVE side as one command — the read
  * half of [[IngestTick]]: after a tick, render the decision table
  * summary (q163), the per-source cost ledger (q172), the cross-modal
  * surface (q179), the method-overlap matrix (q184), and the mask-export
  * summary (q182) entirely from maintained state under the ingest-tick
  * layout, touching no corpus file. The cron shape a real pipeline runs:
  * `ingest-tick && decontam-serve`.
  *
  *   bin/graft.sh decontam-serve <stateDir>
  *
  * `render` is the testable core (the main only adds the session
  * lifecycle); every number comes from the same StreamingDecontam serve
  * entries the specs pin ==batch.
  */
object DecontamServe {
  def render(spark: org.apache.spark.sql.SparkSession, stateRoot: String): Seq[String] = {
    import graft.streaming.StreamingDecontam
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val decisions = StreamingDecontam.decisionTable(spark, stateRoot)
    val byAction = decisions
      .groupBy("action")
      .count()
      .orderBy("action")
      .collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}")
    out += s"[decontam-serve] decisions (q163): ${byAction.mkString(" ")}"
    StreamingDecontam.ledger(spark, stateRoot).collect().foreach { r =>
      out += f"[decontam-serve] ledger (q172): ${r.getString(0)}%-8s ${r.getString(1)}%-13s " +
        f"docs=${r.getLong(2)}%6d tokens=${r.getLong(3)}%9d share=${if (r.isNullAt(4)) "-" else f"${r.getDouble(4)}%6.4f"}"
    }
    StreamingDecontam.surface(spark, stateRoot).collect().foreach { r =>
      out += f"[decontam-serve] surface (q179): ${r.getString(0)}%-14s flagged=${r.getLong(3)}%6d/${r.getLong(1)}%6d " +
        f"chars=${r.getLong(4)}%9d/${r.getLong(2)}%9d"
    }
    StreamingDecontam.overlap(spark, stateRoot).collect().foreach { r =>
      out += f"[decontam-serve] overlap (q184): ${r.getString(0)}%-14s ∩ ${r.getString(1)}%-14s " +
        f"both=${r.getLong(4)}%5d of ${r.getLong(2)}%5d/${r.getLong(3)}%5d"
    }
    val masks = StreamingDecontam.maskExport(spark, stateRoot).collect()
    out += s"[decontam-serve] mask export (q182): ${masks.length} intervals over " +
      s"${masks.map(_.getLong(0)).distinct.length} mask_spans docs"
    out.toSeq
  }
}

object DecontamServeMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 1) {
      System.err.println("usage: DecontamServeMain <stateDir>")
      sys.exit(2)
    }
    val spark = graft.core.Sessions.local("graft-decontam-serve")
    try DecontamServe.render(spark, args(0)).foreach(println)
    finally spark.stop()
  }
}
