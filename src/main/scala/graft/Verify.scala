package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir> [queryName...]"
  *   python3 tools/check_oracle.py <outDir> <sfDir>
  *
  * Named queries restrict the dump, oracle_sql.json and selfcheck.json to
  * those queries — the quick loop for one query. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val (sfDir, outDir, named) = (args(0), args(1), args.drop(2).toSeq)
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val queries = SparkEntry.queries.toSeq.filter { case (n, _) => named.isEmpty || named.contains(n) }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The oracle SQL below is pinned to each query's DEFAULT knobs; a
    // semantics-changing conf leaked into this session (e.g. a curation
    // shard/ctx override or an ANN probe/index setting from an earlier
    // tuning run sharing the getOrCreate session) would make the gate
    // compare two different queries and fail opaquely — gated runs always
    // execute at the defaults, so every `graft.` key is unset.
    spark.conf.getAll.keys.filter(_.startsWith("graft.")).foreach(spark.conf.unset)
    new java.io.File(outDir).mkdirs()
    // Queries that throw are recorded in _errors.json (query -> first error
    // line) in addition to stderr: a missing result dir then reads as
    // "errored, here's why" instead of silently absent from the compare.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = String.valueOf(e.getMessage).linesIterator
          .find(_.trim.nonEmpty).getOrElse(e.getClass.getSimpleName).trim
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => named.isEmpty || named.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // Data-derived pass/fail for the no-oracle queries (SelfCheck): gives
    // the driver a numeric gate where DuckDB can't express the semantics.
    // Always written, so a stale file from an earlier run never survives.
    val selfJson = SelfCheck
      .run(spark, sfDir, named)
      .map { case (name, r) =>
        // Locale.ROOT: a comma-decimal default locale would emit 0,997 —
        // invalid JSON — and crash the oracle gate's json.load instead of reporting
        s"${q(name)}: {${q("check")}: ${q(r.check)}, ${q("metric")}: ${String.format(java.util.Locale.ROOT, "%.6f", Double.box(r.metric))}, " +
          s"${q("violations")}: ${r.violations}, ${q("pass")}: ${r.pass}}"
      }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/selfcheck.json"), selfJson)
    spark.stop()
  }
}
