package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** One call into the program: the unit the benchmark times and spans. */
final case class Call(name: String, group: String, body: () => Any)

/** A timed call as it happened. `startMs`/`endMs` bound the span for job
  * attribution; `wallS` is measured with the monotonic clock. `cpuS` is the
  * CPU time of the work the call did: the calling thread's (planning, driver
  * code, driver-side I/O) plus the executor CPU of the tasks it ran.
  * `processCpuS` is what every thread of the process used meanwhile, GC and
  * JIT compilation included.
  */
final case class Timed(call: Call, cold: Boolean, traced: Boolean, startMs: Long, endMs: Long, wallS: Double, cpuS: Double,
    processCpuS: Double)

/** A workload drives the program only through its public entry points.
  *
  * The run calls, in order: `generate` (the benchmark's own work, not part
  * of set-up time), then for every call of the cold pass and of the warm
  * loop `reset` (untimed), the call itself (timed), and `check` (untimed).
  * `finish` runs the end-of-run output checks.
  */
trait Workload {
  def generate(): Unit
  def coldPass: Seq[Call]
  def nextWarm(): Seq[Call]
  /** Warm passes an untraced run makes at least: the ones its checks need. */
  def warmPassesUntraced: Int = 1
  def reset(call: Call): Unit = ()
  /** Checks a call's result; returns (operations attempted, failed). */
  def check(call: Call, result: Any): (Long, Long)
  def finish(traced: Boolean): Unit
  /** Bytes the program leaves stored at the end of the run. */
  def storedBytes(): Long
  /** Per-layer metrics from the traced calls and their jobs; `all` holds
    * every timed call, traced or not.
    */
  def layers(calls: Seq[(Timed, Seq[Job])], all: Seq[Timed]): Map[String, Double]
  /** Whether a job inside a call belongs to a named layer; the rest are
    * reported as unattributed.
    */
  def attributed(call: Call, job: Job): Boolean
  /** Facts for the details file. */
  def details: Map[String, Any] = Map.empty
  /** Benchmark-side measurement taken before a traced call (untimed). */
  def beforeTraced(call: Call): Unit = ()
  /** Benchmark-side measurement taken after a traced call (untimed). */
  def afterTraced(call: Call, t: Timed): Unit = ()
}

object Workload {

  /** Driver time of a call: its span minus the part its jobs cover. */
  def driverS(call: Timed, jobs: Seq[Job]): Double =
    Stats.selfTime((call.startMs, call.endMs), jobs.map(j => (j.start, j.end))) / 1e3
}

/** Collects output-check failures; any failure makes the run incorrect. */
final class Checks {
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  def expect(ok: Boolean, what: => String): Unit = if (!ok) failures += what
  def all: Seq[String] = failures.toSeq
}

final case class Env(spark: SparkSession, root: Path, seed: Long, checks: Checks, cores: Int)
