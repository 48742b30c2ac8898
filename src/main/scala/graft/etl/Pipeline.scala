package graft.etl

import java.nio.file.Paths

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** End-to-end orchestration (SURVEY §2.11 L3-L5, §3.1-3.2): route files →
  * per-date rollup (error-isolated) → single-file CSVs → consume-delete →
  * validate → quarantine → warehouse load → verification summary.
  *
  * Failure-mode parity (SURVEY §7.4.5): CSV write → input delete → warehouse
  * load, in that order. A crash after delete loses that file's contribution
  * (at-most-once), a crash before it reprocesses (at-least-once) — the
  * reference's exact semantics, preserved rather than silently "fixed"
  * (the streaming module offers the checkpointed alternative).
  */
object Pipeline {

  final case class DateResult(date: String, csvPath: String, rows: Long)
  final case class RunResult(
      processedDates: Seq[DateResult],
      failedDates: Seq[(String, String)],
      filesDeleted: Int,
      loaded: Seq[(String, Long)],
      quarantinedRows: Long,
      warehouseSummary: Map[String, Any]
  ) {
    def success: Boolean = processedDates.nonEmpty || failedDates.isEmpty
  }

  val csvSchema: StructType = StructType(
    Seq(
      StructField("date", StringType),
      StructField("hour", IntegerType),
      StructField("impression_count", LongType),
      StructField("click_count", LongType)
    )
  )

  def run(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      warehouseDir: String,
      userAgent: String,
      deleteInputs: Boolean = true
  ): RunResult =
    run(spark, inputDir, outputDir, new ParquetWarehouse(spark, warehouseDir), userAgent, deleteInputs)

  /** Sink-generic form: the same plan loads parquet directories or a SQL
    * warehouse ([[JdbcWarehouse]]) — the sink is constructor choice.
    */
  def run(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      sink: WarehouseSink,
      userAgent: String,
      deleteInputs: Boolean
  ): RunResult = {
    val routed = FileRouter.route(FileRouter.listParquet(inputDir))

    // Task 1: per-date rollup with error isolation (reference L3: continue on
    // failure, succeed iff >= 1 date processed). Consume-once deletion is
    // PER DATE, after that date's CSV write — a failed date keeps its input
    // files for reprocessing (reference `data_processing.py:183-185`
    // deletes inside the per-date loop, never globally).
    var deleted = 0
    val results = routed.dates.map { date =>
      date -> Try {
        val df = HourlyRollup.forDate(
          spark,
          date,
          routed.impressionsByDate.getOrElse(date, Seq.empty),
          routed.clicksByDate.getOrElse(date, Seq.empty),
          userAgent
        )
        val out = Paths.get(outputDir, CsvWriter.taskOutputName(date)).toString
        val rows = CsvWriter.writeSingleFile(df, out)
        if (deleteInputs)
          deleted += FileRouter.deleteFiles(
            routed.impressionsByDate.getOrElse(date, Seq.empty) ++
              routed.clicksByDate.getOrElse(date, Seq.empty)
          )
        DateResult(date, out, rows)
      }
    }
    val ok = results.collect { case (_, Success(r)) => r }
    val failed = results.collect { case (d, Failure(e)) => (d, e.toString) }

    // Task 2: load each CSV into the warehouse with validation + quarantine —
    // per-file error isolation, mirroring Task 1 (one bad load must not
    // discard the run's results). The CSV is read once into a driver-local
    // frame, so validation, quarantine keying and load preparation are
    // evaluated on the driver; the quarantine rows are collected once and
    // the same rows go to the sink.
    var quarantined = 0L
    val loadResults = ok.map { r =>
      r.csvPath -> Try {
        val report = CsvWriter.readSingleFile(spark, r.csvPath, csvSchema)
        val v = QualityRules.validate(report, Paths.get(r.csvPath).getFileName.toString)
        val invalid = prepareInvalid(v.quarantined)
        val invalidRows = invalid.collect()
        quarantined += invalidRows.length
        sink.storeInvalidRows(spark.createDataFrame(invalidRows.toSeq.asJava, invalid.schema))
        sink.loadPrepared(ParquetWarehouse.prepare(v.cleaned))
      }
    }
    val loaded = loadResults.collect { case (p, Success(n)) => (p, n) }
    val loadFailed = loadResults.collect { case (p, Failure(e)) => (p, e.toString) }

    RunResult(ok, failed ++ loadFailed, deleted, loaded, quarantined, sink.verify())
  }

  /** Quarantine rows carry the report's (date,hour); key them like the
    * report for the upsert. try_to_timestamp: quarantined rows can hold
    * invalid hours (that's why they're quarantined) → null key, not error.
    */
  private def prepareInvalid(q: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    q.withColumn(
        "datetime",
        org.apache.spark.sql.functions.try_to_timestamp(
          org.apache.spark.sql.functions.concat(
            col("date"),
            org.apache.spark.sql.functions.lit(" "),
            org.apache.spark.sql.functions.lpad(col("hour").cast("string"), 2, "0")
          ),
          org.apache.spark.sql.functions.lit("yyyy-MM-dd HH")
        )
      )
}
