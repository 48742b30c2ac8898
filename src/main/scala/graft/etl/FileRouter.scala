package graft.etl

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** File routing + filename parsing (SURVEY §2.1 S2-S5): the reference buckets
  * raw parquet files by event type and by the date embedded in the filename
  * (`data_processing.py:43-78`, `368-379`; `src/utils.py:26-43`), e.g.
  * `impressions_processed_dk_20220526193204695_172756391-172756397_0.parquet`.
  *
  * Pure driver-side metadata work — file *listings* are small even when file
  * *contents* are 100 TB; at cluster scale this becomes a listing against the
  * object store with the same grouping logic.
  */
object FileRouter {

  sealed trait EventType { def prefix: String }
  case object Impressions extends EventType { val prefix = "impressions_processed_dk_" }
  case object Clicks extends EventType { val prefix = "clicks_processed_dk_" }

  final case class RoutedFiles(
      impressionsByDate: Map[String, Seq[String]],
      clicksByDate: Map[String, Seq[String]]
  ) {
    def dates: Seq[String] =
      (impressionsByDate.keySet ++ clicksByDate.keySet).toSeq.sorted
    def allFiles: Seq[String] =
      (impressionsByDate.values.flatten ++ clicksByDate.values.flatten).toSeq
  }

  private val dateFmtIn = DateTimeFormatter.ofPattern("yyyyMMdd")
  private val tsRegex: Regex = raw"dk_(\d{14})".r.unanchored

  /** Filename → "YYYY-MM-DD". The 4th `_`-separated token starts with
    * yyyyMMdd (reference `data_processing.py:368-379`). Throws
    * IllegalArgumentException on malformed names, as the reference raises.
    */
  def extractDate(fileName: String): String = {
    val parts = fileName.split("_")
    require(parts.length > 3, s"unexpected filename format: $fileName")
    val digits = parts(3)
    require(digits.length >= 8 && digits.take(8).forall(_.isDigit), s"no yyyyMMdd in: $fileName")
    LocalDate.parse(digits.take(8), dateFmtIn).toString
  }

  /** Filename → "YYYY-MM-dd HH:mm" from the 14-digit `dk_` timestamp
    * (reference `src/utils.py:26-43`; minute precision).
    */
  def extractMinuteDatetime(fileName: String): String =
    tsRegex.findFirstMatchIn(fileName) match {
      case Some(m) =>
        val d = m.group(1)
        s"${d.substring(0, 4)}-${d.substring(4, 6)}-${d.substring(6, 8)} ${d.substring(8, 10)}:${d.substring(10, 12)}"
      case None => throw new IllegalArgumentException(s"no dk_<14 digits> timestamp in: $fileName")
    }

  /** List `*.parquet` files in a directory (non-recursive, like the
    * reference's `os.listdir`).
    */
  def listParquet(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else
      Files
        .list(p)
        .iterator()
        .asScala
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .map(_.toString)
        .toSeq
        .sorted
  }

  /** Route files into {type × date} buckets; files that are neither
    * impressions nor clicks, or have malformed dates, are skipped (reference
    * logs and continues).
    */
  def route(files: Seq[String]): RoutedFiles = {
    def bucket(t: EventType): Map[String, Seq[String]] =
      files
        .filter(f => Paths.get(f).getFileName.toString.contains(t.prefix))
        .flatMap { f =>
          scala.util.Try(extractDate(Paths.get(f).getFileName.toString)).toOption.map(_ -> f)
        }
        .groupBy(_._1)
        .view
        .mapValues(_.map(_._2))
        .toMap
    RoutedFiles(bucket(Impressions), bucket(Clicks))
  }

  /** Consume-once deletion of processed inputs (S12; reference
    * `data_processing.py:415-421`). Best-effort: a missing file is not an
    * error, matching `os.remove` wrapped in the reference's try/except.
    */
  def deleteFiles(files: Seq[String]): Int =
    files.count { f =>
      try Files.deleteIfExists(Paths.get(f))
      catch { case _: Exception => false }
    }
}
