package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.SparkSpec
import graft.core.StagedTable

/** Task 2 (CSV → validate → quarantine → load → verify) as the pipeline runs
  * it: the tables it leaves, its Spark job budget, the warehouse's
  * crash-window recovery, declared-schema reads of older table layouts, and
  * the driver-side collect bound.
  */
class Task2LoadSpec extends SparkSpec {

  private val GoldenCsv = "task1_output_2022-05-27.csv"

  /** (hour of 2022-05-27, impressions, clicks) of the golden report. */
  private val golden = (0 until 24).map {
    case 11 => (11, 0L, 10L)
    case 12 => (12, 10L, 20L)
    case h  => (h, 0L, 0L)
  }

  private def at(date: String, hour: Int) = java.sql.Timestamp.valueOf(f"$date $hour%02d:00:00")

  private def reportRows(wh: ParquetWarehouse, table: String): Seq[(java.sql.Timestamp, Long, Long)] =
    wh.readTable(table).toSeq.flatMap(_.collect()).map { r =>
      (r.getAs[java.sql.Timestamp]("datetime"), r.getAs[Long]("impression_count"), r.getAs[Long]("click_count"))
    }.sortBy(_._1.getTime)

  private def dirs() =
    (Files.createTempDirectory("t2_in"), Files.createTempDirectory("t2_out"), Files.createTempDirectory("t2_wh"))

  test("warehouse tables after a first and a repeated delivery hold the golden rows") {
    val (in, out, whDir) = dirs()
    val wh = new ParquetWarehouse(spark, whDir.toString)
    val expected = golden.map { case (h, i, c) => (at("2022-05-27", h), i, c) }
    val expectedInvalid = Seq(
      (at("2022-05-27", 11), 0L, 10L, "clicks_exceed_impressions", GoldenCsv),
      (at("2022-05-27", 12), 10L, 20L, "clicks_exceed_impressions", GoldenCsv)
    )
    def invalidRows() =
      wh.readTable(ParquetWarehouse.ClientReportInvalid).get.collect().toSeq.map { r =>
        (
          r.getAs[java.sql.Timestamp]("datetime"),
          r.getAs[Long]("impression_count"),
          r.getAs[Long]("click_count"),
          r.getAs[String]("validation_error"),
          r.getAs[String]("source_file")
        )
      }.sortBy(_._1.getTime)

    Fixtures.goldenScenario(spark, in)
    Pipeline.run(spark, in.toString, out.toString, whDir.toString, Fixtures.UA)
    assert(reportRows(wh, ParquetWarehouse.ClientReport) === expected)
    assert(wh.readTable(ParquetWarehouse.ClientReportArchive).isEmpty, "a first delivery archives nothing")
    assert(invalidRows() === expectedInvalid)

    // re-delivery of the same date: the first version is archived, the
    // report replaced, and the quarantine rows upserted on their key
    Fixtures.goldenScenario(spark, in)
    Pipeline.run(spark, in.toString, out.toString, whDir.toString, Fixtures.UA)
    assert(reportRows(wh, ParquetWarehouse.ClientReport) === expected)
    assert(reportRows(wh, ParquetWarehouse.ClientReportArchive) === expected)
    assert(invalidRows() === expectedInvalid)
    for (t <- ParquetWarehouse.Schemas.keys) {
      val files = Files.list(whDir.resolve(t)).filter(_.toString.endsWith(".parquet")).count()
      assert(files === 1L, s"$t: one file per version")
    }
  }

  test("job budget: one pipeline run over the golden scenario") {
    val (in, out, whDir) = dirs()
    Fixtures.goldenScenario(spark, in)
    val sc = spark.sparkContext
    // job-start events in delivery order, by job group; a marker job in its
    // own group brackets the run, since listener delivery is asynchronous
    val groups = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        ()
      }
    }
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.synchronized(groups.contains(name)) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.synchronized(groups.contains(name)), s"marker job $name was not delivered")
    }

    sc.addSparkListener(listener)
    val result =
      try {
        marker("task2-before")
        val r = Pipeline.run(spark, in.toString, out.toString, whDir.toString, Fixtures.UA)
        marker("task2-after")
        r
      } finally sc.removeSparkListener(listener)
    val jobs = groups.synchronized(groups.indexOf("task2-after") - groups.indexOf("task2-before") - 1)

    assert(jobs <= 15, s"Pipeline.run over the golden scenario ran $jobs Spark jobs")
    assert(result.processedDates.map(_.rows) === Seq(24L))
    assert(result.quarantinedRows === 2L)
    assert(result.loaded.map { case (p, n) => (Paths.get(p).getFileName.toString, n) } === Seq(GoldenCsv -> 24L))
  }

  test("a crash at every step of a warehouse commit keeps every other date's rows") {
    def report(date: String, hours: Seq[Int], clicks: Long) = {
      import spark.implicits._
      val rows = hours.map(h => (date, h, 5L, clicks))
      ParquetWarehouse.prepare(rows.toDF("date", "hour", "impression_count", "click_count"))
    }
    for (failAt <- 0 to 3) {
      val whDir = Files.createTempDirectory(s"t2_crash$failAt")
      val wh = new ParquetWarehouse(spark, whDir.toString)
      wh.load(report("2022-05-01", 0 until 24, 1L))
      wh.load(report("2022-05-02", 0 until 24, 1L))

      // a re-delivery of 2022-05-02 crashes inside the client_report swap
      val table = whDir.resolve(ParquetWarehouse.ClientReport).toString
      val others = wh.readTable(ParquetWarehouse.ClientReport).get.filter("datetime < '2022-05-02'")
      StagedTable.stage(others.unionByName(report("2022-05-02", 0 until 24, 2L)), table)
      val crashed = Try(StagedTable.promote(table, failAt)).isFailure
      assert(crashed, s"failAt=$failAt: the injected crash must fire")
      val visible = reportRows(wh, ParquetWarehouse.ClientReport)
      assert(visible.size === 48, s"failAt=$failAt: a complete version stays readable, got ${visible.size} rows")

      // recovery: the next load keeps both earlier dates
      wh.load(report("2022-05-03", 0 until 24, 3L))
      val rows = reportRows(wh, ParquetWarehouse.ClientReport)
      assert(rows.size === 72, s"failAt=$failAt: other dates' rows must survive, got ${rows.size}")
      assert(rows.take(24).forall(_._3 == 1L), s"failAt=$failAt: 2022-05-01 intact")
      assert(rows.slice(24, 48).map(_._3).distinct.size === 1, s"failAt=$failAt: 2022-05-02 is one whole version")
      assert(!Files.exists(Paths.get(table + ".old")), s"failAt=$failAt: the next commit retires .old")
    }
  }

  test("a quarantine table in the pre-count layout reads with null counts and still upserts") {
    import spark.implicits._
    val whDir = Files.createTempDirectory("t2_oldlayout")
    val audit = java.sql.Timestamp.valueOf("2022-05-02 10:00:00")
    Seq(3, 4)
      .map(h => (at("2022-05-01", h), audit, "negative_count", "f.csv"))
      .toDF("datetime", "audit_loaded_datetime", "validation_error", "source_file")
      .write
      .parquet(whDir.resolve(ParquetWarehouse.ClientReportInvalid).toString)
    val wh = new ParquetWarehouse(spark, whDir.toString)

    val before = wh.readTable(ParquetWarehouse.ClientReportInvalid).get
    assert(before.columns.toSeq === ParquetWarehouse.Schemas(ParquetWarehouse.ClientReportInvalid).fieldNames.toSeq)
    assert(before.collect().forall(r => r.isNullAt(1) && r.isNullAt(2)), "impression_count and click_count read as null")

    val later = java.sql.Timestamp.valueOf("2022-05-02 11:00:00")
    val incoming = Seq((at("2022-05-01", 3), 7L, 11L, "clicks_exceed_impressions", "f.csv", later))
      .toDF("datetime", "impression_count", "click_count", "validation_error", "source_file", "audit_loaded_datetime")
    assert(wh.storeInvalid(incoming) === 2L, "hour 3 upserts, hour 4 stays")
    val rows = wh.readTable(ParquetWarehouse.ClientReportInvalid).get.orderBy("datetime").collect()
    assert(rows.map(_.getAs[String]("validation_error")).toSeq === Seq("clicks_exceed_impressions", "negative_count"))
    assert(rows(0).getAs[Long]("impression_count") === 7L && rows(0).getAs[Long]("click_count") === 11L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("impression_count")))
  }

  test("a Task-2 CSV above the collect bound fails loudly instead of being collected") {
    val path: Path = Files.createTempDirectory("t2_big").resolve(GoldenCsv)
    def writeCsv(rows: Int): Unit = {
      val body = (0 until rows).map(i => s"2022-05-27,${i % 24},1,0")
      val content = ("date,hour,impression_count,click_count" +: body).mkString("", "\n", "\n")
      Files.write(path, content.getBytes(StandardCharsets.UTF_8))
    }
    writeCsv(CsvWriter.MaxCollectRows + 1)

    val read = Try(CsvWriter.readSingleFile(spark, path.toString, Pipeline.csvSchema))
    assert(read.isFailure, "the per-file Try in Pipeline.run must see a failure")
    assert(read.failed.get.isInstanceOf[IllegalArgumentException])
    assert(read.failed.get.getMessage.contains(s"> ${CsvWriter.MaxCollectRows} rows"))
    // at the bound it still reads, as a driver-local frame
    writeCsv(CsvWriter.MaxCollectRows)
    val atBound = CsvWriter.readSingleFile(spark, path.toString, Pipeline.csvSchema)
    assert(atBound.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(atBound.collect().length === CsvWriter.MaxCollectRows)
  }
}
