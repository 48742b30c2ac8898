package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDate

import graft.etl.{FileRouter, Pipeline}

/** `etl_backfill`: one date's delivery of small hourly files, twice. The
  * cold call is `Pipeline.run` (parquet sink, inputs deleted) over a first
  * delivery into an empty warehouse; every warm call is a re-delivery of the
  * same date with other counts plus a few unroutable files, over the
  * warehouse the first delivery left, so the load step archives the rows it
  * replaces. Before every call the consumed inputs are restored by hard link
  * and the warehouse from its post-cold snapshot.
  */
final class EtlWorkload(env: Env) extends Workload {
  import EtlWorkload._

  private val Env(spark, root, seed, checks, _) = env
  private val first = root.resolve("drop-first")
  private val again = root.resolve("drop-again")
  private val input = root.resolve("raw_data")
  private val output = root.resolve("output")
  private val warehouse = root.resolve("warehouse")
  private val warehouseSnap = root.resolve("warehouse.snap")

  private val firstSeed = seed * 31 + 7
  private val firstPlan: EtlPlan = EtlGen.plan(firstSeed, Seq(Date), FilesPerHour, EventsPerFile, OtherShare, 0)
  val plan: EtlPlan = EtlGen.plan(seed, Seq(Date), FilesPerHour, EventsPerFile, OtherShare, Unroutable)

  def generate(): Unit = {
    Gen.parallel(Seq(() => EtlGen.write(spark, firstSeed, firstPlan, first), () => EtlGen.write(spark, seed, plan, again)))
    // the drops on disk must be the plans: one file per planned name
    for ((dir, p) <- Seq(first -> firstPlan, again -> plan))
      checks.expect(Fs.count(dir, ".parquet") == p.files.size, s"generated ${Fs.count(dir, ".parquet")} files, planned ${p.files.size}")
  }

  private def run(group: String) = Call("Pipeline.run", group, () =>
    Pipeline.run(spark, input.toString, output.toString, warehouse.toString, EtlGen.UserAgent))
  def coldPass: Seq[Call] = Seq(run("first"))
  def nextWarm(): Seq[Call] = Seq(run("again"))

  override def reset(call: Call): Unit = {
    Seq(input, output, warehouse).foreach(Fs.delete)
    if (call.group == "first") Fs.link(first, input)
    else {
      Fs.link(again, input)
      Fs.copy(warehouseSnap, warehouse)
    }
  }

  def check(call: Call, result: Any): (Long, Long) = {
    val r = result.asInstanceOf[Pipeline.RunResult]
    val p = if (call.group == "first") firstPlan else plan
    checks.expect(r.failedDates.isEmpty, s"failed dates: ${r.failedDates}")
    checks.expect(r.processedDates.map(_.date) == p.dates, s"processed ${r.processedDates.map(_.date)}, expected ${p.dates}")
    for (d <- p.dates) {
      val csv = output.resolve(s"task1_output_$d.csv")
      val expected = "date,hour,impression_count,click_count" +: p.report(d).map { case (h, i, c) => s"$d,$h,$i,$c" }
      val got = if (Files.exists(csv)) new String(Files.readAllBytes(csv), StandardCharsets.UTF_8).split('\n').toSeq else Nil
      checks.expect(got == expected, s"$d: CSV differs from the manifest")
    }
    val quarantined = p.dates.map(p.excessHours(_).size.toLong).sum
    checks.expect(r.loaded.size == p.dates.size && r.loaded.forall(_._2 == 24L), s"loaded ${r.loaded}")
    checks.expect(r.quarantinedRows == quarantined, s"quarantined ${r.quarantinedRows}, expected $quarantined")
    checks.expect(r.filesDeleted == p.routable.size, s"deleted ${r.filesDeleted} of ${p.routable.size} routable files")
    checks.expect(Fs.count(input, ".parquet") == p.files.size - p.routable.size, "unroutable files were not left in place")
    val report = p.dates.flatMap(p.report)
    val s = r.warehouseSummary
    checks.expect(s.get("row_count").contains(24L * p.dates.size), s"warehouse rows ${s.get("row_count")}")
    checks.expect(s.get("total_impressions").contains(report.map(_._2).sum) && s.get("total_clicks").contains(report.map(_._3).sum),
      s"warehouse totals ${s.get("total_impressions")}/${s.get("total_clicks")} differ from the manifest")
    if (call.group == "first") Fs.copy(warehouse, warehouseSnap)
    ((r.processedDates.size + r.failedDates.size).toLong, r.failedDates.size.toLong)
  }

  /** The warehouse after the last re-delivery: the first delivery's rows
    * archived, and quarantine rows upserted on (hour, csv name), so the
    * first delivery's rows stay for hours no longer in excess.
    */
  def finish(traced: Boolean): Unit = {
    def rows(table: String): Long = {
      val dir = warehouse.resolve(table)
      if (Files.isDirectory(dir)) spark.read.parquet(dir.toString).count() else 0L
    }
    checks.expect(rows("client_report_archive") == 24L, s"archived ${rows("client_report_archive")}, expected 24")
    val quarantine = plan.dates.map(d => (plan.excessHours(d) ++ firstPlan.excessHours(d)).size.toLong).sum
    checks.expect(rows("client_report_invalid") == quarantine, s"quarantine table ${rows("client_report_invalid")}, expected $quarantine")
  }

  def storedBytes(): Long = Fs.bytes(warehouse) + Fs.bytes(output)

  private val routeTimes = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** The router is pure driver code and issues no jobs, so it is timed by
    * calling it directly on the same input.
    */
  override def beforeTraced(call: Call): Unit = {
    val t0 = System.nanoTime()
    FileRouter.route(FileRouter.listParquet(input.toString))
    routeTimes += (System.nanoTime() - t0) / 1e9
  }

  def attributed(call: Call, job: Job): Boolean = stepOf(job).isDefined

  def layers(traced: Seq[(Timed, Seq[Job])], all: Seq[Timed]): Map[String, Double] = {
    val calls = traced.filterNot(_._1.cold) // a traced run always traces a warm pass
    val n = calls.size.toDouble
    val perStep = Steps.map(step => step -> LayerAgg.of(calls.map(_._2.filter(stepOf(_).contains(step))))).toMap
    val stepMetrics = perStep.toSeq.flatMap { case (step, a) =>
      Seq(
        s"etl.$step.busy_s" -> a.busyMs / 1e3 / n,
        s"etl.$step.jobs" -> a.jobs / n,
        s"etl.$step.tasks" -> a.tasks / n,
        s"etl.$step.cpu_s" -> a.cpuS / n,
        s"etl.$step.input_mb" -> a.inputMb / n,
        s"etl.$step.shuffle_mb" -> a.shuffleMb / n
      )
    }
    val total = LayerAgg.of(calls.map(_._2))
    val driver = calls.map { case (t, js) => Workload.driverS(t, js) }.sum / n
    val scanned = plan.routable.map(f => f.matching.toLong + f.other).sum
    val rollupCpu = perStep("rollup").cpuS / n
    stepMetrics.toMap ++ Map(
      "etl.gc_s" -> total.gcS / n,
      "etl.route_s" -> (if (routeTimes.isEmpty) 0.0 else Stats.median(routeTimes.toSeq)),
      "etl.driver_s" -> driver,
      "etl.rollup.rows_per_cpu_s" -> (if (rollupCpu > 0) scanned / rollupCpu else 0.0),
      "etl.load.rewrite_ratio" -> perStep("load").outputRecords / n / (24.0 * plan.dates.size),
      "etl.jobs_per_date" -> total.jobs / n / plan.dates.size
    )
  }

  override def details: Map[String, Any] = Map(
    "files" -> plan.files.size,
    "routable_files" -> plan.routable.size,
    "events" -> plan.events,
    "excess_hours" -> plan.dates.map(plan.excessHours(_).size).sum
  )
}

object EtlWorkload {

  val Date: LocalDate = LocalDate.of(2022, 5, 1)
  val FilesPerHour = 1
  val EventsPerFile = 250
  val OtherShare = 0.25
  val Unroutable = 4

  /** The pipeline steps that run Spark jobs. Routing is pure driver code
    * (`etl.route_s` times it directly); a job issued under `FileRouter`
    * would count as unattributed.
    */
  val Steps: Seq[String] = Seq("rollup", "validate", "quarantine", "load", "verify")

  /** The step of a job, by the program frame directly under `Pipeline.run`.
    * Jobs `Pipeline.run` issues itself are the quarantine count
    * (`invalid.count()`).
    */
  def stepOf(job: Job): Option[String] =
    if (!job.attribution.entry.contains("Pipeline.run")) None
    else
      job.attribution.step match {
        case None => Some("quarantine")
        case Some(k) =>
          k match {
            case _ if k.startsWith("HourlyRollup.") || k.startsWith("CsvWriter.")      => Some("rollup")
            case _ if k.startsWith("QualityRules.")                                    => Some("validate")
            case "ParquetWarehouse.storeInvalidRows" | "ParquetWarehouse.storeInvalid" => Some("quarantine")
            case "ParquetWarehouse.loadPrepared" | "ParquetWarehouse.load"             => Some("load")
            case "ParquetWarehouse.verify"                                             => Some("verify")
            case _                                                                     => None
          }
      }
}
