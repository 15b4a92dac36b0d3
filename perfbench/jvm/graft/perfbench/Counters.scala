package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, LongAccumulator}

import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Totals of task metrics at one instant, plus the JVM's own clocks. */
final case class Snapshot(
    jobs: Long, tasks: Long, tasksFailed: Long,
    runMs: Long, fetchWaitMs: Long, spillBytes: Long,
    shuffleBytes: Long, shuffleRecords: Long, inputRecords: Long,
    peakTaskMem: Long, gcMs: Long, jitMs: Long, codegenMs: Long,
    stealTicks: Long) {

  /** Counts accrued since `before`; the peak is the peak since the last
    * [[Counters.resetPeak]].
    */
  def -(before: Snapshot): Snapshot = Snapshot(
    jobs - before.jobs, tasks - before.tasks, tasksFailed - before.tasksFailed,
    runMs - before.runMs, fetchWaitMs - before.fetchWaitMs,
    spillBytes - before.spillBytes, shuffleBytes - before.shuffleBytes,
    shuffleRecords - before.shuffleRecords, inputRecords - before.inputRecords,
    peakTaskMem, gcMs - before.gcMs, jitMs - before.jitMs,
    codegenMs - before.codegenMs, stealTicks - before.stealTicks)
}

/** Sums the metrics of every finished task. Registered from the
  * benchmark's own code; it adds a few atomic updates per task.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, tasksFailed = new AtomicLong
  private val runMs, fetchWaitMs, spillBytes = new AtomicLong
  private val shuffleBytes, shuffleRecords, inputRecords = new AtomicLong
  private val peak = new LongAccumulator((a, b) => math.max(a, b), 0L)

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) tasksFailed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spillBytes.addAndGet(m.diskBytesSpilled)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
      peak.accumulate(m.peakExecutionMemory)
    }
  }

  def resetPeak(): Unit = { BenchBus.drain(sc); peak.reset() }

  /** Totals after every event of the jobs run so far was delivered. */
  def snapshot(): Snapshot = {
    BenchBus.drain(sc)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    // The histogram's reservoir keeps every sample up to 1028 of them; a
    // benchmark JVM compiles fewer generated classes than that.
    val codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
    Snapshot(jobs.get, tasks.get, tasksFailed.get, runMs.get, fetchWaitMs.get,
      spillBytes.get, shuffleBytes.get, shuffleRecords.get, inputRecords.get,
      peak.get, gc, jit, codegen, Counters.stealTicks())
  }
}

object Counters {
  /** Clock ticks per second of the kernel's CPU accounting (USER_HZ). */
  val TicksPerSecond = 100.0

  /** CPU time the hypervisor gave to other guests, summed over all CPUs
    * (the `steal` column of /proc/stat); 0 where that file does not exist.
    */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    } catch { case _: Exception => 0L }
}
