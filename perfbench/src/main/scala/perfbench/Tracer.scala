package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A Spark job as the tracer saw it, with the executor-side counters of
  * every task it ran and the stack of the code that issued it.
  */
final case class Job(
    id: Int,
    start: Long,
    end: Long,
    attribution: CallSite.Attribution,
    tasks: Long,
    cpuNs: Long,
    gcMs: Long,
    inputBytes: Long,
    shuffleBytes: Long,
    spillBytes: Long,
    outputRecords: Long
)

/** Listener the benchmark registers from outside the program. It keeps raw
  * events in memory; `jobs` resolves them once the bus is drained.
  *
  * A job's stack comes from its SQL execution (looked up by the job's
  * `spark.sql.execution.id`, which pool-thread jobs inherit) and falls back
  * to the first stage's call site for jobs outside SQL.
  */
final class Tracer extends SparkListener {

  private final class Counters {
    var tasks, cpuNs, gcMs, inputBytes, shuffleBytes, spillBytes, outputRecords = 0L
  }
  private final class Raw(val start: Long, val execId: Option[Long], val stageIds: Seq[Int], val stageDetails: String)

  private val execDetails = mutable.Map.empty[Long, String]
  private val started = mutable.Map.empty[Int, Raw]
  private val ended = mutable.Map.empty[Int, Long]
  private val stageCounters = mutable.Map.empty[Int, Counters]
  // a stage reused by a later job (AQE submits every query stage as its own
  // job, and the final job lists them again as skipped) counts for the job
  // that first listed it
  private val stageOwner = mutable.Map.empty[Int, Int]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized { execDetails(e.executionId) = e.details }
    case _                                 =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    e.stageIds.foreach(stageOwner.getOrElseUpdate(_, e.jobId))
    started(e.jobId) = new Raw(e.time, execId, e.stageIds, e.stageInfos.headOption.map(_.details).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended(e.jobId) = e.time }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val c = stageCounters.getOrElseUpdate(e.stageId, new Counters)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Every finished job, after the listener bus has delivered its events. */
  def jobs(sc: SparkContext): Seq[Job] = {
    PerfbenchBus.drain(sc)
    synchronized {
      started.toSeq.sortBy(_._1).flatMap { case (id, r) =>
        ended.get(id).map { end =>
          val details = r.execId.flatMap(execDetails.get).getOrElse(r.stageDetails)
          val cs = r.stageIds.filter(stageOwner.get(_).contains(id)).flatMap(stageCounters.get)
          def sum(f: Counters => Long) = cs.map(f).sum
          Job(
            id,
            r.start,
            end,
            CallSite.attribute(CallSite.parse(details)),
            sum(_.tasks),
            sum(_.cpuNs),
            sum(_.gcMs),
            sum(_.inputBytes),
            sum(_.shuffleBytes),
            sum(_.spillBytes),
            sum(_.outputRecords)
          )
        }
      }
    }
  }
}

/** Per-layer totals over a set of jobs. */
final case class LayerAgg(
    jobs: Int,
    tasks: Long,
    busyMs: Long,
    cpuS: Double,
    gcS: Double,
    inputMb: Double,
    shuffleMb: Double,
    outputRecords: Long
)

object LayerAgg {
  private val MB = 1024.0 * 1024.0

  /** `busyMs` is the union of the jobs' intervals, taken per operation so
    * that gaps between operations never count.
    */
  def of(jobsByOp: Seq[Seq[Job]]): LayerAgg = {
    val all = jobsByOp.flatten
    LayerAgg(
      all.size,
      all.map(_.tasks).sum,
      jobsByOp.map(js => Stats.unionLength(js.map(j => (j.start, j.end)))).sum,
      all.map(_.cpuNs).sum / 1e9,
      all.map(_.gcMs).sum / 1e3,
      all.map(_.inputBytes).sum / MB,
      all.map(_.shuffleBytes).sum / MB,
      all.map(_.outputRecords).sum
    )
  }
}
