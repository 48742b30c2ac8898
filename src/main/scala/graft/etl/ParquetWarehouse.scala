package graft.etl

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.StagedTable

/** Warehouse load semantics (SURVEY §2.1 S10-S13, §2.3 J2-J3, §3.2)
  * re-expressed Spark-first over parquet tables.
  *
  * The reference loads into Postgres with: archive overlapped rows
  * (`NOT EXISTS` anti-join, `warehouse.py:427-443`) → `DELETE` the incoming
  * [min,max] datetime range (`:448-455`) → bulk insert (`:458-466`) → verify
  * counts (`:469-473`), all inside one transaction; invalid rows go through a
  * staging table + `ON CONFLICT (datetime, source_file) DO UPDATE` upsert
  * (`:258-329`).
  *
  * This container ships no SQL JDBC driver (only hive-jdbc), so the same
  * semantics run against parquet directories:
  *   - transaction  → [[graft.core.StagedTable]]: each table version is
  *     fully written to `<table>.staging` as one parquet file, then swapped
  *     in by two renames. A crash at any point leaves a complete version
  *     where [[readTable]] looks (the table, or its retired `.old` copy),
  *     and the next commit heals that state before deleting anything. (On
  *     HDFS/S3 this becomes a rename/commit; with a real JDBC sink the seam
  *     is `load()` below — swap the writer, keep the plan.)
  *   - DELETE range → filter NOT BETWEEN on rewrite (range, not per-date —
  *     preserving the reference's min..max semantics, SURVEY §7.4.6).
  *   - archive anti-join → left_anti on datetime, append.
  *   - upsert       → union + row_number over (datetime, source_file) keeping
  *     the newest audit timestamp.
  *
  * A rewrite reads the version it replaces. No snapshot of that version is
  * taken: the staging write finishes before the swap moves the old files,
  * so the lazy read never sees them change. Row counts of a rewrite are
  * observed on the write itself ([[org.apache.spark.sql.Observation]])
  * rather than by reading the new version back.
  *
  * Tables are read with their declared schemas, so no read runs a parquet
  * schema-inference job, and a column a table version lacks (the quarantine
  * counts, added after the first layout) reads as null.
  *
  * Scale notes: report tables are hour-grained aggregates (tiny relative to
  * raw events), so full-rewrite-on-load is proportional to the table, not the
  * raw data, and one file per version is the right layout. At true warehouse
  * scale the same logical plan lands on a transactional table format
  * (Delta/Iceberg MERGE) — the operators here (anti-join, range filter,
  * keyed last-writer-wins) are exactly the ones those formats execute.
  */
class ParquetWarehouse(spark: SparkSession, baseDir: String) extends WarehouseSink {

  import ParquetWarehouse._

  override def loadPrepared(prepared: DataFrame): Long = load(prepared).rowsLoaded
  override def storeInvalidRows(invalid: DataFrame): Unit = { storeInvalid(invalid); () }

  private def tableDir(name: String): String = Paths.get(baseDir, name).toString

  def readTable(name: String): Option[DataFrame] =
    StagedTable.current(tableDir(name)).map(spark.read.schema(Schemas(name)).parquet(_))

  /** Stages `df` as the next version of table `name`, in one parquet file,
    * and returns how many rows `counted` (a part of `df`'s plan) produced.
    */
  private def stageTable(df: DataFrame, name: String, counted: Observation): Long = {
    StagedTable.stage(df.coalesce(1), tableDir(name))
    counted.get(RowsMetric).asInstanceOf[Long]
  }

  /** Commits `df` as the next version of table `name`; returns its rows. */
  private def writeTable(df: DataFrame, name: String): Long = {
    val rows = Observation()
    val n = stageTable(observeRows(df, rows), name, rows)
    StagedTable.promote(tableDir(name))
    n
  }

  /** Prepare a report frame for load (reference `warehouse.py:331-389`):
    * datetime key = date + hour:00:00, counts cast long, audit stamp.
    */
  def prepare(report: DataFrame): DataFrame = ParquetWarehouse.prepare(report)

  final case class LoadReport(
      rowsLoaded: Long,
      rowsArchived: Long,
      minDatetime: java.sql.Timestamp,
      maxDatetime: java.sql.Timestamp,
      totalImpressions: Long,
      totalClicks: Long
  )

  /** Archive → delete range → insert → verify (one logical transaction).
    * The [lo, hi] bounds come from the prepared rows on the driver: a report
    * is hour-grained, and over a driver-local frame the collect runs no job.
    */
  def load(prepared: DataFrame): LoadReport = {
    val keys = CsvWriter.collectSmall(prepared.select(col("datetime"))).flatMap(r => Option(r.getTimestamp(0)))
    require(keys.nonEmpty, "cannot load an empty report")
    val (lo, hi) = (keys.minBy(_.getTime), keys.maxBy(_.getTime))
    val inRange = col("datetime").between(lo, hi)

    // archive rows not already archived (anti-join on the key; J2): the new
    // archive version is staged, and committed only when it adds rows
    val existing = readTable(ClientReport)
    val archived = existing.fold(0L) { report =>
      val archive = readTable(ClientReportArchive)
      val overlapped = report.filter(inRange)
      val freshRows = Observation()
      val fresh = observeRows(
        archive.fold(overlapped)(a => overlapped.join(a.select("datetime"), Seq("datetime"), "left_anti")),
        freshRows
      )
      val n = stageTable(archive.fold(fresh)(_.unionByName(fresh)), ClientReportArchive, freshRows)
      val dir = tableDir(ClientReportArchive)
      if (n > 0) StagedTable.promote(dir) else StagedTable.discard(dir)
      n
    }

    // delete range + insert, as one rewritten version
    writeTable(existing.fold(prepared)(_.filter(!inRange).unionByName(prepared)), ClientReport)

    val stats = readTable(ClientReport).get
      .filter(inRange)
      .agg(
        count(lit(1)),
        coalesce(sum(col("impression_count")), lit(0L)),
        coalesce(sum(col("click_count")), lit(0L))
      )
      .collect()
      .head
    LoadReport(stats.getLong(0), archived, lo, hi, stats.getLong(1), stats.getLong(2))
  }

  /** Quarantine upsert keyed on (datetime, source_file), last writer (by
    * audit timestamp) wins — the reference's staged `ON CONFLICT DO UPDATE`
    * (`warehouse.py:258-329`). Returns the quarantine table's row count.
    */
  def storeInvalid(invalid: DataFrame): Long = {
    if (invalid.isEmpty) return 0L
    val incoming = ParquetWarehouse.shapeInvalid(invalid)
    val all = readTable(ClientReportInvalid).fold(incoming)(_.unionByName(incoming))
    // Upsert on (datetime, source_file), last writer by audit ts — but ONLY
    // for non-null keys: SQL ON CONFLICT never fires on NULLs (Postgres
    // treats them as distinct), so null-datetime quarantine rows (e.g.
    // unparseable hours) accumulate rather than collapsing to one.
    val w = Window
      .partitionBy(col("datetime"), col("source_file"))
      .orderBy(col("audit_loaded_datetime").desc)
    val keyed = all
      .filter(col("datetime").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    writeTable(keyed.unionByName(all.filter(col("datetime").isNull)), ClientReportInvalid)
  }

  /** Load verification summary (reference `warehouse.py:487-531`). */
  def verify(): Map[String, Any] =
    readTable(ClientReport) match {
      case None => Map("row_count" -> 0L)
      case Some(df) =>
        val r = df
          .agg(
            count(lit(1)),
            min(col("datetime")),
            max(col("datetime")),
            coalesce(sum(col("impression_count")), lit(0L)),
            coalesce(sum(col("click_count")), lit(0L))
          )
          .collect()
          .head
        Map(
          "row_count" -> r.getLong(0),
          "min_datetime" -> r.get(1),
          "max_datetime" -> r.get(2),
          "total_impressions" -> r.getLong(3),
          "total_clicks" -> r.getLong(4)
        )
    }
}

object ParquetWarehouse {
  val ClientReport = "client_report"
  val ClientReportArchive = "client_report_archive"
  val ClientReportInvalid = "client_report_invalid"

  /** The tables' declared schemas: the columns of the SQL sink's DDL
    * ([[JdbcWarehouse]]), as Spark types.
    */
  val Schemas: Map[String, StructType] = {
    val sparkType = Map("TIMESTAMP" -> TimestampType, "BIGINT" -> LongType, "TEXT" -> StringType)
    def schema(cols: Seq[(String, String, Boolean)]) =
      StructType(cols.map { case (name, sqlType, _) => StructField(name, sparkType(sqlType)) })
    Map(
      ClientReport -> schema(JdbcWarehouse.ReportCols),
      ClientReportArchive -> schema(JdbcWarehouse.ReportCols),
      ClientReportInvalid -> schema(JdbcWarehouse.InvalidCols)
    )
  }

  private val RowsMetric = "rows"

  private def observeRows(df: DataFrame, rows: Observation): DataFrame =
    df.observe(rows, count(lit(1)).as(RowsMetric))

  /** Prepare a report frame for load (reference `warehouse.py:331-389`):
    * datetime key = date + hour:00:00, counts cast long, audit stamp.
    * Shared by the parquet and JDBC sinks — the load plan is identical,
    * only the writer differs.
    */
  def prepare(report: DataFrame): DataFrame =
    report
      .withColumn(
        "datetime",
        to_timestamp(concat(col("date"), lit(" "), lpad(col("hour").cast("string"), 2, "0")), "yyyy-MM-dd HH")
      )
      .withColumn("impression_count", col("impression_count").cast("long"))
      .withColumn("click_count", col("click_count").cast("long"))
      .withColumn("audit_loaded_datetime", current_timestamp())
      .select(col("datetime"), col("impression_count"), col("click_count"), col("audit_loaded_datetime"))

  /** Canonical quarantine frame, shared by both sinks (the reference's
    * client_report_invalid shape, `warehouse.py:67-76`): the offending
    * counts ride along so a quarantined row stays auditable — you can see
    * WHY it was rejected. Structural-failure quarantines (V1: the column
    * itself is missing) carry null counts instead.
    */
  def shapeInvalid(invalid: DataFrame): DataFrame = {
    def countCol(name: String) =
      if (invalid.columns.contains(name)) col(name).cast("long").as(name)
      else lit(null).cast("long").as(name)
    invalid.select(
      col("datetime"),
      countCol("impression_count"),
      countCol("click_count"),
      col("audit_loaded_datetime"),
      col("validation_error"),
      col("source_file")
    )
  }
}
