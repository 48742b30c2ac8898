package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Executor CPU time of every finished task (deserialization plus run),
  * summed. It arrives through the asynchronous listener bus, so readers
  * drain the bus first.
  */
final class TaskCpu extends SparkListener {
  private val total = new AtomicLong
  def ns: Long = total.get

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => total.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime))
}

/** Share of the box's CPU time the hypervisor gave to other guests
  * (`steal` in /proc/stat) between construction and `stop`: a diagnostic
  * for runs slowed by other tenants.
  */
final class Steal {
  private def ticks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } finally f.close()
  }
  private val (steal0, total0) = ticks()
  private var (steal1, total1) = (steal0, total0)
  def stop(): Unit = { val (s, t) = ticks(); steal1 = s; total1 = t }
  def share: Double = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
}
