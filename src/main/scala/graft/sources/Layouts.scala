package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical table layouts for shuffle avoidance and small-file compaction —
  * the storage-side half of the 100 TB design (SURVEY §4: the reference
  * leans on Catalyst defaults; a real deployment co-locates its big joins).
  *
  *   - **Bucketed tables**: `bucketBy(n, key)` + `sortBy(key)` persists a
  *     hash-partitioned, sorted layout. A join of two tables bucketed on the
  *     same key with the same bucket count plans as a SortMergeJoin with NO
  *     Exchange on either side — the shuffle is paid once at write time and
  *     amortized over every subsequent join/aggregation on that key.
  *
  * Bucket counts should match downstream parallelism (a multiple of
  * executor-core count); the layout is plain parquet readable by any
  * engine.
  */
object Layouts {

  /** Persist `df` bucketed+sorted on `key` as managed-table metadata backed
    * by `path`. The table is immediately joinable shuffle-free against any
    * other table bucketed on the same key with the same `buckets`.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int,
      path: String
  ): Unit = writeBucketed(df, table, Seq(key), buckets, path)

  /** Composite-key variant (e.g. an LSH index bucketed on (table, bucket)). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      buckets: Int,
      path: String
  ): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(table)

  /** Append rows to an EXISTING bucketed table (same keys/bucket count —
    * Spark validates the spec against the catalog entry). The rows are
    * first repartitioned on the bucket keys into `buckets` partitions —
    * the same hash the bucketed writer uses — so each append adds AT MOST
    * one file per bucket instead of one per (task, bucket); without this a
    * frequent append cadence (the ingest tick's index refresh) multiplies
    * file counts by core count every tick. Bucket pruning and co-located
    * joins keep working across appends (Spark unions a bucket's files; it
    * inserts a sort above the scan when per-bucket sortedness can no
    * longer be assumed). A periodic full rewrite (`writeBucketed`) remains
    * the compaction path once accumulated append files dominate scan time.
    */
  def appendBucketed(
      df: DataFrame,
      table: String,
      keys: Seq[String],
      buckets: Int
  ): Unit =
    df.repartition(buckets, keys.map(df.col): _*)
      .write
      .mode(SaveMode.Append)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  final case class CompactionReport(
      filesBefore: Int,
      bytesBefore: Long,
      filesAfter: Int,
      bytesAfter: Long
  )

  /** Compact a directory of small parquet files into ~`targetBytes` outputs —
    * the small-files problem: a 100 TB table ingested in thousands of
    * micro-batches accumulates millions of KB-sized files, and every scan
    * then pays file-open/footer-parse/scheduling cost per file instead of
    * per row group. Output file count = ceil(totalBytes / targetBytes),
    * materialized with `coalesce` — a NARROW dependency (tasks concatenate
    * input partitions, no shuffle), which is what makes compaction cheap
    * enough to run continuously. Use `repartition` instead only when input
    * sizes are so skewed that bin-packing by partition order misbalances
    * outputs (that is a full shuffle of the table).
    */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long = 128L << 20
  ): CompactionReport = {
    val (nBefore, bytesBefore) = dirStats(spark, inDir)
    val nOut = math.max(1, math.ceil(bytesBefore.toDouble / targetBytes).toInt)
    graft.core.Tables.parquet(spark, inDir).coalesce(nOut).write.mode(SaveMode.Overwrite).parquet(outDir)
    val (nAfter, bytesAfter) = dirStats(spark, outDir)
    CompactionReport(nBefore, bytesBefore, nAfter, bytesAfter)
  }

  /** (parquet file count, total bytes) under `dir`. */
  def dirStats(spark: SparkSession, dir: String): (Int, Long) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var n = 0
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }
}
