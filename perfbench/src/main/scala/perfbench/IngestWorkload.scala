package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}

import graft.operators.{Curation, Dedup}
import graft.streaming.{StreamingCorpus, StreamingSpanDedup}
import graft.tools.IngestTick

/** `ingest_tick`: one timed operation is one `IngestTick.run` over a delta
  * drop of `documents`/`embeddings`. Drops are id-ordered slices (the
  * maintainers' monotone-landing contract) with seed-jittered boundaries.
  * The cold call bootstraps the state over the first ~60 %; before every
  * warm call the state is restored from that snapshot and the same ~5 %
  * drop lands again.
  */
final class IngestWorkload(env: Env, documents: Long, embeddings: Long) extends Workload {
  import IngestWorkload._

  private val Env(spark, root, seed, checks, _) = env
  private val source = root.resolve("slices")
  private val data = root.resolve("data")
  private val state = root.resolve("state")
  private val stateSnap = root.resolve("state.snap")

  private val rnd = Gen.random(seed)
  private def cut(n: Long, share: Double, jitter: Double): Long = (n * (share + jitter * (2 * rnd.nextDouble() - 1))).toLong
  private val (bootDocs, dropDocs) = (cut(documents, 0.6, 0.04), cut(documents, 0.05, 0.01))
  private val (bootVecs, dropVecs) = (cut(embeddings, 0.6, 0.04), cut(embeddings, 0.05, 0.01))

  private def sliced(df: DataFrame, id: String, boot: Long, drop: Long): DataFrame =
    df.filter(col(id) < boot + drop)
      .withColumn("slice", when(col(id) < boot, lit("boot.parquet")).otherwise(lit("drop.parquet")))

  def generate(): Unit = {
    Gen.parallel(Seq(
      () => Gen.writeFilePerKey(sliced(TableGen.documents(spark, seed, documents), "doc_id", bootDocs, dropDocs), "slice",
        Seq("doc_id"), source.resolve("documents.parquet")),
      () => Gen.writeFilePerKey(sliced(TableGen.embeddings(spark, seed, embeddings), "vec_id", bootVecs, dropVecs), "slice",
        Seq("vec_id"), source.resolve("embeddings.parquet"))
    ))
    checks.expect(spark.read.parquet(source.resolve("documents.parquet").toString).count() == bootDocs + dropDocs,
      "generated documents differ from the plan")
  }

  /** Land the bootstrap slice, or the bootstrap plus the drop. */
  private def land(withDrop: Boolean): Unit = {
    Fs.delete(data)
    for (t <- Seq("documents.parquet", "embeddings.parquet")) {
      Fs.link(source.resolve(t), data.resolve(t))
      if (!withDrop) java.nio.file.Files.delete(data.resolve(t).resolve("drop.parquet"))
    }
  }

  // the cold call bootstraps the maintained state from empty over the first
  // slice; every warm call is a delta tick from that state
  private def tickCall(group: String) = Call("IngestTick.run", group, () => IngestTick.run(spark, data.toString, state.toString))
  def coldPass: Seq[Call] = Seq(tickCall("bootstrap"))
  def nextWarm(): Seq[Call] = Seq(tickCall("tick"))
  // a delta tick costs about 20 s, most of it per-job overhead; only the
  // traced run times it, so an untraced run fits the benchmark's time budget
  override def warmPassesUntraced: Int = 0

  override def reset(call: Call): Unit =
    if (call.group == "bootstrap") land(withDrop = false)
    else {
      land(withDrop = true)
      Fs.delete(state)
      Fs.copy(stateSnap, state)
    }

  def check(call: Call, result: Any): (Long, Long) = {
    val o = result.asInstanceOf[IngestTick.Outcome]
    val landed = if (call.group == "tick") dropDocs else bootDocs
    checks.expect(o.corpus.nDelta == landed, s"${call.group} staged ${o.corpus.nDelta} docs, landed $landed")
    checks.expect(o.clusterDelta == landed, s"${call.group} clustered ${o.clusterDelta} docs, landed $landed")
    if (call.group == "bootstrap") Fs.copy(state, stateSnap)
    (1L, 0L)
  }

  /** In the traced run, the maintained clusters, span stats and corpus
    * stages must equal their batch twins over the landed corpus.
    */
  def finish(traced: Boolean): Unit = if (traced) {
    val d = data.toString
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    checks.expect(
      rows(spark.read.parquet(state.resolve("clusters/labels/current").toString).select("doc_id", "cluster", "cluster_size")) ==
        rows(Dedup.q101LshDupClusters(spark, d).select("doc_id", "cluster", "cluster_size")),
      "maintained clusters differ from batch q101")
    val statCols = Seq("doc_id", "n_tokens", "n_dup_spans", "dup_tokens", "longest_span")
    checks.expect(
      rows(StreamingSpanDedup.readStats(spark, state.resolve("spans").toString).select(statCols.map(col): _*)) ==
        rows(Curation.q110SpanDedup(spark, d).select(statCols.map(col): _*)),
      "maintained span stats differ from batch q110")
    def stageMap(df: DataFrame): Map[Long, String] = df.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    checks.expect(
      stageMap(StreamingCorpus.finalStages(spark, state.resolve("corpus").toString)) ==
        stageMap(Curation.buildCorpusStages(spark, d)),
      "maintained corpus stages differ from the batch build")
  }

  def storedBytes(): Long = Fs.bytes(state)

  private val stateWrites = scala.collection.mutable.ArrayBuffer.empty[Double]
  override def afterTraced(call: Call, t: Timed): Unit =
    stateWrites += Fs.bytesSince(state, t.startMs) / (1024.0 * 1024.0)

  def attributed(call: Call, job: Job): Boolean = maintainerOf(job).isDefined

  def layers(traced: Seq[(Timed, Seq[Job])], all: Seq[Timed]): Map[String, Double] = {
    val calls = traced.filterNot(_._1.cold) // a traced run always traces a warm pass
    val n = calls.size.toDouble
    val per = Maintainers.values.toSeq.flatMap { m =>
      val a = LayerAgg.of(calls.map(_._2.filter(maintainerOf(_).contains(m))))
      Seq(s"tick.$m.busy_s" -> a.busyMs / 1e3 / n, s"tick.$m.jobs" -> a.jobs / n)
    }
    val total = LayerAgg.of(calls.map(_._2))
    val driver = calls.map { case (t, js) => Workload.driverS(t, js) }.sum / n
    per.toMap ++ Map(
      "tick.cpu_s" -> total.cpuS / n,
      "tick.driver_s" -> driver,
      "tick.state_write_mb" -> (if (stateWrites.isEmpty) 0.0 else Stats.median(stateWrites.toSeq))
    )
  }

  override def details: Map[String, Any] = Map(
    "bootstrap_docs" -> bootDocs,
    "drop_docs" -> dropDocs,
    "bootstrap_vectors" -> bootVecs,
    "drop_vectors" -> dropVecs
  )
}

object IngestWorkload {

  /** The maintainer each `IngestTick.run` step belongs to, by the class of
    * the program frame directly under it.
    */
  val Maintainers: Map[String, String] = Map(
    "StreamingCorpus" -> "corpus",
    "StreamingDupClusters" -> "clusters",
    "StreamingSpanDedup" -> "spans",
    "StreamingDriftWatch" -> "drift",
    "StreamingSourceSketch" -> "sketch",
    "StreamingWinnow" -> "winnow",
    "StreamingSample" -> "sample",
    "StreamingBloomScreen" -> "bloom",
    "StreamingPack" -> "pack",
    "StreamingMediaFps" -> "media",
    "AnnBuild" -> "ann",
    "Retrieval" -> "bm25"
  )

  def maintainerOf(job: Job): Option[String] =
    if (!job.attribution.entry.contains("IngestTick.run")) None
    else job.attribution.step.flatMap(k => Maintainers.get(k.split('.').head))
}
