package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir> --metrics <name:unit,...>
  *
  * `--metrics` lists the metrics to print, in order, with their units: the
  * end-to-end ones of `BENCHMARK.json` for an untraced run, the per-layer
  * ones for a traced run.
  *
  * Prints one JSON object as its last line of standard output and exits 0
  * when every output check passed, 1 when one failed.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, out: Path,
      metrics: Seq[(String, String)])

  val Workloads: Seq[String] = Seq("etl_backfill", "registry_cold", "ingest_tick")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    val metrics = need("metrics").split(',').toSeq.map { m =>
      val Array(name, unit) = m.split(':')
      name -> unit
    }
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      metrics)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def workload(name: String, env: Env): Workload = name match {
    case "etl_backfill" => new EtlWorkload(env)
    case "registry_cold" =>
      new RegistryWorkload(env, TableGen.Sizes(customers = 150, suppliers = 10, parts = 200, orders = 1500,
        lineitems = 6000, events = 1000, documents = 500, embeddings = 500))
    case "ingest_tick" => new IngestWorkload(env, documents = 400, embeddings = 400)
  }

  /** The fixed CPU-bound probe (no I/O, no shuffle), as in `graft.Bench`. */
  private def calibration(spark: SparkSession): Double = seconds(spark.range(500000000L).selectExpr("sum(id)").collect())

  private def seconds(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def threadCpuNs(): Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = Sessions.local("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val taskCpu = new TaskCpu
    sc.addSparkListener(taskCpu)
    // work CPU so far: this thread's, which counts from the JVM's creation
    // (the launcher creates the JVM on the thread that runs main), plus the
    // executor tasks'
    def workNs(): Long = { PerfbenchBus.drain(sc); threadCpuNs() + taskCpu.ns }

    var ownS = 0.0 // the benchmark's own work before the first timed call
    var ownCpuNs = 0L
    def own[T](f: => T): T = {
      val (t0, c0) = (System.nanoTime(), workNs())
      try f
      finally { ownS += (System.nanoTime() - t0) / 1e9; ownCpuNs += workNs() - c0 }
    }

    val checks = new Checks
    val w = workload(o.workload, Env(spark, o.work, o.seed, checks, sc.defaultParallelism))

    val genS = own(seconds(w.generate()))
    val calStart = own(calibration(spark))

    val tracer = if (o.trace) Some(new Tracer) else None
    var attached = false
    def tracing(on: Boolean): Unit = tracer.foreach { tr =>
      if (on != attached) {
        if (on) sc.addSparkListener(tr)
        else { PerfbenchBus.drain(sc); sc.removeSparkListener(tr) }
        attached = on
      }
    }

    val calls = ArrayBuffer.empty[Timed]
    var attempted, failed = 0L
    var setupS, setupWallS = Double.NaN
    def perform(c: Call, cold: Boolean, traced: Boolean): Unit = {
      own {
        w.reset(c)
        tracing(traced)
        if (traced) w.beforeTraced(c)
      }
      val work0 = workNs()
      if (setupS.isNaN) {
        setupS = (work0 - ownCpuNs) / 1e9
        setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - ownS
      }
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val process0 = processCpuNs()
      val result = try Right(c.body()) catch { case NonFatal(e) => Left(e) }
      val endMs = System.currentTimeMillis()
      val wallS = (System.nanoTime() - t0) / 1e9
      val processS = (processCpuNs() - process0) / 1e9
      val t = Timed(c, cold, traced, startMs, endMs, wallS, (workNs() - work0) / 1e9, processS)
      calls += t
      if (traced) w.afterTraced(c, t)
      result match {
        case Right(r) =>
          val (a, f) = w.check(c, r)
          attempted += a
          failed += f
        case Left(e) =>
          attempted += 1
          failed += 1
          checks.expect(false, s"${c.name} threw ${e.toString.take(300)}")
      }
    }

    val steal = new Steal
    val measureStart = System.nanoTime()
    w.coldPass.foreach(perform(_, cold = true, traced = o.trace))
    // warm passes until --seconds of calls (the cold pass included) are
    // measured, but at least the ones the output checks need, and in the
    // traced run one traced and one untraced, so the tracing overhead is
    // measured
    val loopStart = System.nanoTime()
    val minPasses = if (o.trace) 2 else w.warmPassesUntraced
    val passes = ArrayBuffer.empty[Seq[Timed]]
    while (passes.size < minPasses || System.nanoTime() - measureStart < o.seconds * 1000000000L) {
      val before = calls.size
      w.nextWarm().foreach(perform(_, cold = false, traced = o.trace && passes.size % 2 == 0))
      passes += calls.drop(before).toSeq
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    steal.stop()
    tracing(false)

    val calEnd = calibration(spark)
    w.finish(o.trace)
    val storedMb = w.storedBytes() / (1024.0 * 1024.0)
    val warm = calls.filterNot(_.cold).map(_.wallS).toSeq
    val cold = calls.filter(_.cold)
    val (coldS, coldCpuS) = (cold.map(_.wallS).sum, cold.map(_.cpuS).sum)
    def perPass(f: Timed => Double) = passes.map(_.map(f).sum).toSeq
    def median(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)

    val details = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload,
      "seed" -> o.seed,
      "trace" -> o.trace,
      "cores" -> sc.defaultParallelism,
      "session_s" -> sessionS,
      "generate_s" -> genS,
      "setup_s" -> setupS,
      "setup_wall_s" -> setupWallS,
      "cold_s" -> coldS,
      "cold_cpu_s" -> coldCpuS,
      "cold_process_cpu_s" -> cold.map(_.processCpuS).sum,
      "op_s" -> median(perPass(_.wallS)),
      "op_cpu_s" -> median(perPass(_.cpuS)),
      "op_process_cpu_s" -> median(perPass(_.processCpuS)),
      "steal_share" -> steal.share,
      "warm_loop_s" -> loopS,
      "warm_passes_s" -> perPass(_.wallS),
      "warm_passes_cpu_s" -> perPass(_.cpuS),
      "warm_calls" -> warm.size,
      "warm_p50_s" -> median(warm),
      "attempted" -> attempted,
      "failed" -> failed,
      "error_rate" -> (if (attempted > 0) failed.toDouble / attempted else 0.0),
      "peak_rss_mb" -> peakRssMb(),
      "calibration_s" -> Map("start" -> calStart, "end" -> calEnd),
      "calls" -> calls.map(t => Map("name" -> t.call.name, "cold" -> t.cold, "traced" -> t.traced, "wall_s" -> t.wallS,
        "cpu_s" -> t.cpuS, "process_cpu_s" -> t.processCpuS)).toSeq,
      "failures" -> checks.all
    ) ++ w.details

    val produced: Map[String, Double] = tracer match {
      case None =>
        Map("setup_s" -> setupS, "cold_cpu_s" -> coldCpuS, "stored_mb" -> storedMb)
      case Some(tr) =>
        val jobs = tr.jobs(sc)
        val traced = calls.filter(_.traced).toSeq.map(t => t -> jobs.filter(j => j.start >= t.startMs && j.start <= t.endMs))
        val program = traced.flatMap { case (t, js) => js.map(t.call -> _) }
        val unattributed = program.filterNot { case (c, j) => w.attributed(c, j) }
        val overhead = {
          val (on, off) = calls.filterNot(_.cold).partition(_.traced)
          if (on.isEmpty || off.isEmpty) 0.0 else Stats.median(on.map(_.wallS).toSeq) - Stats.median(off.map(_.wallS).toSeq)
        }
        details ++= Seq(
          "program_jobs" -> program.size,
          "unattributed_jobs" -> unattributed.size,
          "unattributed_keys" -> unattributed.map(_._2.attribution.step.getOrElse("(none)")).distinct,
          "jobs_outside_calls" -> (jobs.size - program.size)
        )
        writeSpans(o, traced)
        w.layers(traced, calls.toSeq) ++ Map(
          "core.session_s" -> sessionS,
          "trace.unattributed_share" -> (if (program.isEmpty) 0.0 else unattributed.size.toDouble / program.size),
          "trace_overhead_s" -> overhead
        )
    }
    // every listed metric is printed; a layer this workload does not run reads 0
    val unknown = produced.keySet -- o.metrics.map(_._1)
    require(unknown.isEmpty, s"metrics missing from BENCHMARK.json: ${unknown.toSeq.sorted.mkString(", ")}")
    val metrics = o.metrics.map { case (n, u) => (n, produced.getOrElse(n, 0.0), u) }
    details("metrics") = metrics.map { case (n, v, _) => n -> v }.toMap

    Files.createDirectories(o.out)
    val stem = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}"
    Files.write(o.out.resolve(s"$stem.details.json"), Json.of(details).getBytes(StandardCharsets.UTF_8))
    checks.all.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))

    val correct = checks.all.isEmpty
    val line = Map(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    )
    spark.stop()
    println(Json.of(line))
    if (correct) 0 else 1
  }

  /** Spans: one per call into the program, a child per Spark job. */
  private def writeSpans(o: Opts, traced: Seq[(Timed, Seq[Job])]): Unit = {
    val lines = traced.zipWithIndex.flatMap { case ((t, js), i) =>
      val parent = Map("span" -> s"call-$i", "parent" -> null, "name" -> t.call.name, "group" -> t.call.group,
        "cold" -> t.cold, "start_ms" -> t.startMs, "end_ms" -> t.endMs, "self_ms" -> Workload.driverS(t, js) * 1e3)
      parent +: js.map { j =>
        val a = j.attribution
        val name = a.step.orElse(a.entry).orElse(a.bench.map(b => s"perfbench:$b")).getOrElse("(none)")
        Map("span" -> s"job-${j.id}", "parent" -> s"call-$i", "name" -> name,
          "site" -> a.site.orNull, "stage_build" -> a.stageBuild, "start_ms" -> j.start, "end_ms" -> j.end,
          "self_ms" -> (j.end - j.start), "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9, "input_bytes" -> j.inputBytes,
          "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes)
      }
    }
    Files.createDirectories(o.out)
    Files.write(o.out.resolve(s"${o.workload}-s${o.seed}.spans.jsonl"),
      lines.map(Json.of).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON encoder for the result line, details and spans. */
object Json {
  def of(v: Any): String = v match {
    case null                        => "null"
    case s: String                   => quote(s)
    case b: Boolean                  => b.toString
    case d: Double                   => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                    => of(f.toDouble)
    case n: Int                      => n.toString
    case n: Long                     => n.toString
    case n: BigDecimal               => n.toString
    case o: Option[_]                => o.map(of).getOrElse("null")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => s"${quote(k.toString)}:${of(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_]              => s.map(of).mkString("[", ",", "]")
    case other                       => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b.append("\\\"")
      case '\\'         => b.append("\\\\")
      case '\n'         => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c            => b.append(c)
    }
    b.append('"').toString
  }
}
