package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Physical table layouts for shuffle avoidance —
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
}
