package graft

/** Conf keys that once re-shaped registered queries are ignored: each query
  * has one plan, whatever the session sets. Setting every retired key to a
  * non-default value must leave the rows of the queries that read it
  * unchanged — q66 at 32 shards, for one, would pack different bins.
  */
class RetiredConfSpec extends SparkSpec {

  private val retired = Seq(
    "graft.q12.rankBuckets" -> "64",
    "graft.curation.shards" -> "32",
    "graft.curation.ctx" -> "128",
    "graft.ann.lsh.probes" -> "0",
    "graft.ann.lsh.minhits" -> "3",
    "graft.ann.ivf.nprobe" -> "1",
    "graft.ann.pq.shortlist" -> "16"
  )

  private val readers = Seq(
    "q12_stats",
    "q66_context_pack",
    "q170_pack_manifest",
    "q35_lsh_topk",
    "q36_ivf_topk",
    "q75_pq_topk",
    "q76_ivfpq_topk"
  )

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString).toSeq.sorted

  test("retired graft.* keys set to non-default values change no registered query's rows") {
    val unset = readers.map(n => n -> rows(n)).toMap
    retired.foreach { case (k, v) => spark.conf.set(k, v) }
    try readers.foreach(n => assert(rows(n) === unset(n), s"$n changed under the retired keys"))
    finally retired.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
