package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Exact-name single-file CSV sink (SURVEY §2.1 S8): the reference coalesces
  * to 1 and writes `task1_output_<date>.csv` via pandas
  * (`data_processing.py:179`, `381-413`). The report is ≤24 rows by
  * construction, so a driver-side collect + java.io write is the right
  * tool — a distributed writer would produce part-files needing a rename,
  * for 24 rows. (For large frames use `df.write.csv`; this sink is
  * deliberately small-report-only.) Task 2 reads the file back the same
  * way: one collect, then a driver-local frame.
  */
object CsvWriter {

  val MaxCollectRows = 10000

  /** Collects a small frame to the driver. Refuses frames larger than
    * MaxCollectRows, so a large one fails loudly instead of being pulled
    * into driver memory.
    */
  private[etl] def collectSmall(df: DataFrame): Array[Row] = {
    val rows = df.limit(MaxCollectRows + 1).collect()
    require(rows.length <= MaxCollectRows, s"small-report step; got > $MaxCollectRows rows")
    rows
  }

  /** Writes df as a single CSV with header; returns the number of rows
    * written. Refuses frames larger than MaxCollectRows — this sink is for
    * small final reports only.
    */
  def writeSingleFile(df: DataFrame, outPath: String): Long = {
    val rows = collectSmall(df)
    val header = df.columns.mkString(",")
    val body = rows.map(_.toSeq.map(csvCell).mkString(","))
    val content = (header +: body).mkString("", "\n", "\n")
    val p = Paths.get(outPath)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    rows.length.toLong
  }

  /** Reads a single CSV with header back as a driver-local frame (a
    * LocalRelation): one Spark job parses the file with Spark's CSV reader,
    * and every later plan over the frame that only filters and projects is
    * evaluated on the driver without a job. Refuses files larger than
    * MaxCollectRows.
    */
  def readSingleFile(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val rows = collectSmall(spark.read.option("header", "true").schema(schema).csv(path))
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  private def csvCell(v: Any): String = v match {
    case null => ""
    case s: String if s.exists(c => c == ',' || c == '"' || c == '\n') =>
      "\"" + s.replace("\"", "\"\"") + "\""
    case other => other.toString
  }

  def taskOutputName(date: String): String = s"task1_output_$date.csv"
}
