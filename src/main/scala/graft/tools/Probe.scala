package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{SparkEntry, core}

/** Dev harness over named registry queries, under bench conditions (the
  * `Sessions.local` session, noop-write materialization) against
  * `SPARK_GRAFT_SF_DIR`:
  *
  *   - `time <queryName>...` — one untimed cold run per query (it fills the
  *     session stages), then `SPARK_GRAFT_BENCH_REPEAT` (default 5) timed
  *     repeats; prints `[time] <name> cold=… median=… min=… max=…`.
  *   - `jobs <queryName>...` — the Spark jobs, stages and tasks one warm
  *     repetition launches (each job is a scheduler barrier, so wall time
  *     under CPU competition degrades with job count); prints
  *     `[jobs] <name> warm=… jobs=… stages=… tasks=…`, plus one line per job
  *     with `SPARK_GRAFT_PROFILE_VERBOSE=1`.
  *   - `explain <outDir> <queryName>...|ALL` — writes each query's
  *     `.explain("formatted")` text to `<outDir>/<queryName>.txt`, captured
  *     without executing (the initial AQE plan, as `df.explain` prints it).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.Probe time q179_decontam_surface"
  */
object Probe {
  private val usage = "usage: Probe time <queryName>... | jobs <queryName>... | explain <outDir> <queryName>...|ALL"

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val (mode, rest) = (args.head, args.tail.toSeq)
    val names = mode match {
      case "time" | "jobs" => rest
      case "explain" =>
        require(rest.nonEmpty, usage)
        if (rest.tail == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted else rest.tail
      case _ => throw new IllegalArgumentException(usage)
    }
    require(names.nonEmpty, usage)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = core.Sessions.local("graft-probe")
    spark.range(1000000).selectExpr("sum(id)").collect()
    mode match {
      case "time"    => time(spark, sfDir, names)
      case "jobs"    => jobs(spark, sfDir, names)
      case "explain" => explain(spark, sfDir, Paths.get(rest.head), names)
    }
    spark.stop()
  }

  private def run(spark: SparkSession, sfDir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

  private def sec(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val repeat = sys.env
      .get("SPARK_GRAFT_BENCH_REPEAT")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(5)
      .max(1)
    names.foreach { name =>
      val cold = sec(run(spark, sfDir, name))
      val times = (1 to repeat).map(_ => sec(run(spark, sfDir, name))).sorted
      val med = times(times.length / 2)
      println(f"[time] $name cold=$cold%.2f median=$med%.3f min=${times.head}%.3f max=${times.last}%.3f (n=$repeat)")
    }
  }

  private def jobs(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val verbose = sys.env.get("SPARK_GRAFT_PROFILE_VERBOSE").contains("1")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        jobStart.put(e.jobId, (e.time, site))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val st = jobStart.remove(e.jobId)
        if (verbose && st != null)
          println(f"[job]   #${e.jobId}%-4d ${(e.time - st._1) / 1e3}%7.3f s  ${st._2}")
        ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    }
    names.foreach { name =>
      // the cold run fills the session stages, as Bench's stage walk does
      run(spark, sfDir, name)
      Thread.sleep(300) // let the listener bus drain the cold run's events
      jobs.set(0); stages.set(0); tasks.set(0)
      spark.sparkContext.addSparkListener(listener)
      val warm = sec(run(spark, sfDir, name))
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobs] $name warm=$warm%.3f s jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
    }
  }

  private def explain(spark: SparkSession, sfDir: String, outDir: java.nio.file.Path, names: Seq[String]): Unit = {
    Files.createDirectories(outDir)
    names.foreach { name =>
      val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.write(outDir.resolve(s"$name.txt"), txt.getBytes(StandardCharsets.UTF_8))
      println(s"[explain] $name -> ${outDir.resolve(s"$name.txt")}")
    }
  }
}
