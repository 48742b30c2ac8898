package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec

/** Parity tests for the reference pipeline (SURVEY §5): golden scenario from
  * the shipped outputs, per-rule quality checks, warehouse load semantics,
  * end-to-end run, and property checks for filename parsing + the 24-row
  * invariant.
  */
class EtlSpec extends SparkSpec {

  // --- FileRouter ------------------------------------------------------------

  test("extractDate parses reference-style filenames and rejects malformed ones") {
    assert(
      FileRouter.extractDate("impressions_processed_dk_20220526193204695_172756391-172756397_0.parquet")
        === "2022-05-26"
    )
    intercept[IllegalArgumentException](FileRouter.extractDate("bogus.parquet"))
    intercept[IllegalArgumentException](FileRouter.extractDate("a_b_c_xxxx.parquet"))
  }

  test("extractMinuteDatetime pulls the dk_ timestamp at minute precision") {
    assert(
      FileRouter.extractMinuteDatetime("clicks_processed_dk_20220527113204695_1-2_0.parquet")
        === "2022-05-27 11:32"
    )
  }

  test("route buckets by type and date; unknown files are skipped") {
    val files = Seq(
      "/in/impressions_processed_dk_20220526193204695_1-2_0.parquet",
      "/in/impressions_processed_dk_20220527103204695_1-2_0.parquet",
      "/in/clicks_processed_dk_20220527113204695_1-2_0.parquet",
      "/in/notes.parquet"
    )
    val routed = FileRouter.route(files)
    assert(routed.dates === Seq("2022-05-26", "2022-05-27"))
    assert(routed.impressionsByDate("2022-05-26").length === 1)
    assert(routed.clicksByDate("2022-05-27").length === 1)
    assert(routed.allFiles.length === 3)
  }

  test("property: extractDate handles arbitrary valid dates") {
    val gen = for {
      y <- Gen.choose(2000, 2030)
      m <- Gen.choose(1, 12)
      d <- Gen.choose(1, 28)
      t <- Gen.oneOf("impressions", "clicks")
    } yield (f"$y$m%02d$d%02d", f"$y-$m%02d-$d%02d", t)
    (1 to 200).foreach { _ =>
      gen.sample.foreach { case (compact, iso, t) =>
        assert(FileRouter.extractDate(s"${t}_processed_dk_${compact}1932046_1-2_0.parquet") === iso)
      }
    }
  }

  // --- HourlyRollup ----------------------------------------------------------

  test("golden scenario: hour 11 = 0/10, hour 12 = 10/20, clicks NOT clamped") {
    val in = Files.createTempDirectory("golden_in")
    Fixtures.goldenScenario(spark, in)
    val routed = FileRouter.route(FileRouter.listParquet(in.toString))
    val df = HourlyRollup.forDate(
      spark,
      "2022-05-27",
      routed.impressionsByDate.getOrElse("2022-05-27", Seq.empty),
      routed.clicksByDate.getOrElse("2022-05-27", Seq.empty),
      Fixtures.UA
    )
    val rows = df.collect()
    assert(rows.length === 24)
    assert(df.columns.toSeq === Seq("date", "hour", "impression_count", "click_count"))
    val byHour = rows.map(r => r.getInt(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(byHour(11) === ((0L, 10L)), "hour 11: clicks with zero impressions survive")
    assert(byHour(12) === ((10L, 20L)), "hour 12: clicks exceed impressions un-clamped")
    (0 to 23).filterNot(Set(11, 12)).foreach(h => assert(byHour(h) === ((0L, 0L))))
    assert(rows.forall(_.getString(0) == "2022-05-27"))
  }

  test("empty input sides still yield a dense 24x zero report") {
    val df = HourlyRollup.forDate(spark, "2022-01-01", Seq.empty, Seq.empty, Fixtures.UA)
    val rows = df.collect()
    assert(rows.length === 24)
    assert(rows.forall(r => r.getLong(2) == 0 && r.getLong(3) == 0))
  }

  test("property: rollup always emits exactly 24 rows, hours 0..23, no nulls") {
    val in = Files.createTempDirectory("prop_in")
    val hourGen = Gen.choose(0, 23)
    (1 to 3).foreach { i =>
      val h = hourGen.sample.getOrElse(7)
      Fixtures.writeEventFile(spark, in, "impressions", "20230101", h, n = i * 2)
    }
    val routed = FileRouter.route(FileRouter.listParquet(in.toString))
    val rows = HourlyRollup
      .forDate(spark, "2023-01-01", routed.impressionsByDate("2023-01-01"), Seq.empty, Fixtures.UA)
      .collect()
    assert(rows.length === 24)
    assert(rows.map(_.getInt(1)).sorted.sameElements(0 to 23))
    assert(rows.forall(r => !r.anyNull))
  }

  test("user-agent filter only counts matching rows (nested column predicate)") {
    val in = Files.createTempDirectory("ua_in")
    Fixtures.writeEventFile(spark, in, "impressions", "20230202", 5, n = 4, extra = 7)
    val routed = FileRouter.route(FileRouter.listParquet(in.toString))
    val rows = HourlyRollup
      .forDate(spark, "2023-02-02", routed.impressionsByDate("2023-02-02"), Seq.empty, Fixtures.UA)
      .collect()
    assert(rows.find(_.getInt(1) == 5).get.getLong(2) === 4L)
  }

  // --- CsvWriter -------------------------------------------------------------

  test("csv writer: exact name, header, round-trips through spark csv reader") {
    val out = Files.createTempDirectory("csv_out")
    val df = HourlyRollup.forDate(spark, "2022-05-27", Seq.empty, Seq.empty, Fixtures.UA)
    val path = out.resolve(CsvWriter.taskOutputName("2022-05-27")).toString
    assert(CsvWriter.writeSingleFile(df, path) === 24L)
    assert(Paths.get(path).getFileName.toString === "task1_output_2022-05-27.csv")
    val lines = Files.readAllLines(Paths.get(path)).asScala
    assert(lines.head === "date,hour,impression_count,click_count")
    assert(lines.length === 25)
    val back = spark.read.option("header", "true").schema(Pipeline.csvSchema).csv(path)
    assert(back.count() === 24)
  }

  // --- QualityRules ----------------------------------------------------------

  private def reportDf(rows: Seq[(String, Integer, java.lang.Long, java.lang.Long)]) = {
    import spark.implicits._
    rows.toDF("date", "hour", "impression_count", "click_count")
  }

  test("validation: nulls, negatives and bad hours are quarantined; good rows kept") {
    val df = reportDf(
      Seq(
        ("2022-01-01", 1, 10L, 5L),
        ("2022-01-01", null, 10L, 5L), // null hour
        ("2022-01-01", 2, -1L, 5L), // negative
        ("2022-01-01", 25, 10L, 5L), // hour range
        ("2022-01-01", 3, 5L, 9L) // click excess (warn, kept)
      )
    )
    val v = QualityRules.validate(df, "test.csv")
    assert(v.isValid)
    val kept = v.cleaned.collect()
    assert(kept.length === 2)
    assert(v.warnings.exists(_.contains("clicks_exceed_impressions")))
    val errs = v.quarantined.select("validation_error").distinct().collect().map(_.getString(0)).toSet
    assert(
      errs === Set("null_required_field", "negative_count", "hour_out_of_range", "clicks_exceed_impressions")
    )
  }

  test("validation with autoCorrect clamps clicks to impressions") {
    val v = QualityRules.validate(reportDf(Seq(("2022-01-01", 3, 5L, 9L))), "t.csv", autoCorrectClicks = true)
    assert(v.cleaned.collect().head.getLong(3) === 5L)
  }

  test("V5 triage matches the reference: masks, corrections, unflagged cases") {
    val df = reportDf(
      Seq(
        ("2022-01-01", 0, 0L, 5L), // clicks without impressions → raise impressions
        ("2022-01-01", 1, 3L, 9L), // clicks exceed positive impressions → clamp clicks
        ("2022-01-01", 2, 9L, 3L), // impressions exceed positive clicks → flag only
        ("2022-01-01", 3, 4L, 4L), // equal → none
        ("2022-01-01", 4, 7L, 0L) // impressions with zero clicks → none (reference leaves unflagged)
      )
    )
    val t = QualityRules.triageClickMismatch(df).collect().map(r => r.getInt(1) -> r.getAs[String]("issue_type")).toMap
    assert(t(0) === "clicks_without_impressions")
    assert(t(1) === "clicks_exceed_impressions")
    assert(t(2) === "impressions_exceed_clicks")
    assert(t(3) === "none")
    assert(t(4) === "none", "impressions with zero clicks are NOT an issue (warehouse.py:230-231)")
    val corrected = QualityRules.triageClickMismatch(df, autoCorrect = true).collect()
    def row(h: Int) = corrected.find(_.getInt(1) == h).get
    assert(row(0).getLong(2) === 5L && row(0).getLong(3) === 5L, "zero impressions raised to clicks")
    assert(row(1).getLong(2) === 3L && row(1).getLong(3) === 3L, "excess clicks clamped to impressions")
    assert(row(2).getLong(2) === 9L && row(2).getLong(3) === 3L, "impressions_exceed_clicks untouched")
  }

  test("validation: missing required column is a structural failure") {
    import spark.implicits._
    val v = QualityRules.validate(Seq((1, 2)).toDF("a", "b"), "t.csv")
    assert(!v.isValid && v.errors.head.contains("missing required columns"))
  }

  test("property: validate() partitions rows — kept + hard-quarantined = input") {
    val hourGen = Gen.frequency(
      (8, Gen.choose(0, 23).map(Integer.valueOf)),
      (1, Gen.oneOf(Seq(-3, 24, 25, 99).map(Integer.valueOf))),
      (1, Gen.const(null.asInstanceOf[Integer]))
    )
    val countGen = Gen.frequency(
      (9, Gen.choose(0L, 100L).map(java.lang.Long.valueOf)),
      (1, Gen.choose(-10L, -1L).map(java.lang.Long.valueOf))
    )
    val rowGen = for {
      h <- hourGen; i <- countGen; c <- countGen
    } yield ("2022-03-01", h, i, c)

    (1 to 5).foreach { _ =>
      val rows = Gen.listOfN(40, rowGen).sample.getOrElse(Nil)
      if (rows.nonEmpty) {
        val df = reportDf(rows)
        val v = QualityRules.validate(df, "prop.csv")
        val hardBad = rows.count { case (_, h, i, c) =>
          h == null || i == null || c == null || h < 0 || h > 23 || i < 0 || c < 0
        }
        assert(v.cleaned.count() === rows.length - hardBad, "kept = input - hard violations")
        // every distinct hard-violating row appears in quarantine under a
        // hard-rule error label
        val distinctHardBad = rows
          .filter { case (_, h, i, c) =>
            h == null || i == null || c == null || h < 0 || h > 23 || i < 0 || c < 0
          }
          .distinct
          .length
        assert(
          v.quarantined
            .filter(org.apache.spark.sql.functions
              .col("validation_error")
              .isin("null_required_field", "negative_count", "hour_out_of_range"))
            .select("date", "hour", "impression_count", "click_count")
            .distinct()
            .count() === distinctHardBad.toLong
        )
      }
    }
  }

  test("typed Dataset[HourlyCount] round-trips the report") {
    val df = HourlyRollup.forDate(spark, "2022-05-27", Seq.empty, Seq.empty, Fixtures.UA)
    val ds = HourlyRollup.typed(df)
    val rows = ds.collect()
    assert(rows.length === 24)
    assert(rows.forall(r => r.date == "2022-05-27" && r.impression_count == 0 && r.click_count == 0))
  }

  test("csv writer escapes commas and quotes in cells") {
    import spark.implicits._
    val out = Files.createTempDirectory("q_out")
    val df = Seq(("a,b", "say \"hi\"", 1L)).toDF("x", "y", "n")
    val p = out.resolve("t.csv").toString
    assert(CsvWriter.writeSingleFile(df, p) === 1L)
    val lines = Files.readAllLines(Paths.get(p)).asScala
    assert(lines(1) === "\"a,b\",\"say \"\"hi\"\"\",1")
    // RFC-4180 doubled-quote escaping: Spark's reader needs escape='"'
    val back = spark.read.option("header", "true").option("escape", "\"").csv(p).collect().head
    assert(back.getString(0) === "a,b" && back.getString(1) === "say \"hi\"")
  }

  // --- ParquetWarehouse ------------------------------------------------------

  test("warehouse load: re-loading a date archives overlapped rows and overwrites") {
    val whDir = Files.createTempDirectory("wh").toString
    val wh = new ParquetWarehouse(spark, whDir)
    val first = wh.prepare(reportDf(Seq(("2022-05-01", 0, 1L, 1L), ("2022-05-01", 1, 2L, 2L))))
    val r1 = wh.load(first)
    assert(r1.rowsLoaded === 2 && r1.rowsArchived === 0)

    val second = wh.prepare(reportDf(Seq(("2022-05-01", 0, 9L, 9L), ("2022-05-01", 1, 8L, 8L))))
    val r2 = wh.load(second)
    assert(r2.rowsLoaded === 2, "range delete + insert keeps exactly the new rows")
    assert(r2.rowsArchived === 2, "old overlapped rows are archived")

    val report = wh.readTable(ParquetWarehouse.ClientReport).get.collect()
    assert(report.length === 2)
    assert(report.map(_.getAs[Long]("impression_count")).sorted.sameElements(Seq(8L, 9L)))
    // archive retains the first version
    assert(wh.readTable(ParquetWarehouse.ClientReportArchive).get.count() === 2)
  }

  test("warehouse quarantine upsert: (datetime, source_file) last-writer-wins") {
    val whDir = Files.createTempDirectory("whq").toString
    val wh = new ParquetWarehouse(spark, whDir)
    import spark.implicits._
    def invalid(err: String, audit: String, impressions: Long, clicks: Long) =
      Seq(
        (
          java.sql.Timestamp.valueOf("2022-05-01 03:00:00"),
          impressions,
          clicks,
          err,
          "f.csv",
          java.sql.Timestamp.valueOf(audit)
        )
      ).toDF("datetime", "impression_count", "click_count", "validation_error", "source_file", "audit_loaded_datetime")
    wh.storeInvalid(invalid("first_error", "2022-05-02 10:00:00", 5L, 9L))
    val n = wh.storeInvalid(invalid("second_error", "2022-05-02 11:00:00", 7L, 11L))
    assert(n === 1, "same (datetime, source_file) key upserts, not duplicates")
    val row = wh.readTable(ParquetWarehouse.ClientReportInvalid).get.collect().head
    assert(row.getAs[String]("validation_error") === "second_error")
    // the offending counts ride along (reference client_report_invalid schema)
    assert(row.getAs[Long]("impression_count") === 7L)
    assert(row.getAs[Long]("click_count") === 11L)
  }

  // --- Pipeline end-to-end ---------------------------------------------------

  test("pipeline end-to-end: csv written, inputs consumed, warehouse loaded") {
    val in = Files.createTempDirectory("p_in")
    val out = Files.createTempDirectory("p_out")
    val wh = Files.createTempDirectory("p_wh")
    Fixtures.goldenScenario(spark, in)

    val result = Pipeline.run(spark, in.toString, out.toString, wh.toString, Fixtures.UA)

    assert(result.success)
    assert(result.processedDates.map(_.date) === Seq("2022-05-27"))
    assert(Files.exists(out.resolve("task1_output_2022-05-27.csv")))
    val csvLines = Files.readAllLines(out.resolve("task1_output_2022-05-27.csv")).size
    assert(result.processedDates.map(_.rows) === Seq(csvLines - 1L), "rows = the CSV's lines minus the header")
    assert(FileRouter.listParquet(in.toString).isEmpty, "inputs are consumed after output write")
    assert(result.warehouseSummary("row_count") === 24L)
    assert(result.warehouseSummary("total_impressions") === 10L)
    assert(result.warehouseSummary("total_clicks") === 30L)
    // clicks-exceed-impressions rows were flagged into quarantine but still loaded
    assert(result.quarantinedRows >= 1)
  }

  test("pipeline multi-date: per-date CSVs, range-scoped warehouse loads") {
    val in = Files.createTempDirectory("m_in")
    val out = Files.createTempDirectory("m_out")
    val wh = Files.createTempDirectory("m_wh")
    Fixtures.goldenScenario(spark, in) // 2022-05-27
    Fixtures.writeEventFile(spark, in, "impressions", "20220526", 20, n = 5)
    Fixtures.writeEventFile(spark, in, "clicks", "20220526", 20, n = 7)

    val result = Pipeline.run(spark, in.toString, out.toString, wh.toString, Fixtures.UA)
    assert(result.processedDates.map(_.date) === Seq("2022-05-26", "2022-05-27"))
    assert(Files.exists(out.resolve("task1_output_2022-05-26.csv")))
    assert(Files.exists(out.resolve("task1_output_2022-05-27.csv")))
    val summary = result.warehouseSummary
    assert(summary("row_count") === 48L, "24 dense hours per date")
    assert(summary("total_impressions") === 15L)
    assert(summary("total_clicks") === 37L)
  }

  test("pipeline failure isolation: a failing date keeps its input files") {
    val in = Files.createTempDirectory("f_in")
    val out = Files.createTempDirectory("f_out")
    val wh = Files.createTempDirectory("f_wh")
    Fixtures.goldenScenario(spark, in) // healthy 2022-05-27
    // corrupt parquet for 2022-05-26 → that date's rollup throws
    val bad = in.resolve("impressions_processed_dk_20220526193204695_1-2_0.parquet")
    Files.write(bad, "not a parquet file".getBytes)

    val result = Pipeline.run(spark, in.toString, out.toString, wh.toString, Fixtures.UA)

    assert(result.processedDates.map(_.date) === Seq("2022-05-27"))
    assert(result.failedDates.exists(_._1 == "2022-05-26"))
    val remaining = FileRouter.listParquet(in.toString)
    assert(remaining.exists(_.contains("20220526")), "failed date's inputs must survive for reprocessing")
    assert(!remaining.exists(_.contains("20220527")), "successful date's inputs are consumed")
  }

  test("pipeline with no input files is a clean no-op") {
    val in = Files.createTempDirectory("e_in")
    val result = Pipeline.run(
      spark,
      in.toString,
      Files.createTempDirectory("e_out").toString,
      Files.createTempDirectory("e_wh").toString,
      Fixtures.UA
    )
    assert(result.success && result.processedDates.isEmpty && result.filesDeleted === 0)
  }
}
