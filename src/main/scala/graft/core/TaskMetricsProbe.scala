package graft.core

import java.util.concurrent.atomic.LongAdder

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-attempt task-metrics accumulator for the bench harness (round-13
  * verdict task 1): a SparkListener summing the TaskMetrics fields that
  * adjudicate WHY one timed attempt differs from another — JVM GC time
  * billed to tasks, shuffle spill (memory+disk), shuffle bytes
  * written/read, executor run time, task count. Bench snapshots the
  * totals around each timed attempt; the delta lands in the artifact's
  * `queries_attempts` records, so a slow attempt carries its own cause
  * (GC pressure, spill, a wider shuffle) instead of needing builder
  * prose — the batch analog of the streaming probes' per-attempt
  * gc_ms/state_ms fields.
  */
final class TaskMetricsProbe extends SparkListener {
  private val gcMs = new LongAdder
  private val spillBytes = new LongAdder
  private val shufWriteBytes = new LongAdder
  private val shufReadBytes = new LongAdder
  private val runMs = new LongAdder
  private val tasks = new LongAdder

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      gcMs.add(m.jvmGCTime)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      shufWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shufReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      runMs.add(m.executorRunTime)
      tasks.add(1)
    }
  }

  def snap(): TaskMetricsProbe.Snap = TaskMetricsProbe.Snap(
    gcMs.sum(), spillBytes.sum(), shufWriteBytes.sum(),
    shufReadBytes.sum(), runMs.sum(), tasks.sum())
}

object TaskMetricsProbe {
  final case class Snap(gcMs: Long, spillBytes: Long, shufWriteBytes: Long,
                        shufReadBytes: Long, runMs: Long, tasks: Long) {
    def -(o: Snap): Snap = Snap(gcMs - o.gcMs, spillBytes - o.spillBytes,
      shufWriteBytes - o.shufWriteBytes, shufReadBytes - o.shufReadBytes,
      runMs - o.runMs, tasks - o.tasks)
  }

  /** Process-wide JVM GC time (all collectors) — the same gauge the
    * streaming probes report, so batch and streaming gc_ms are comparable.
    */
  def jvmGcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Drain the async listener bus so a snapshot taken right after an
    * action has seen every task-end event. `LiveListenerBus.waitUntilEmpty`
    * is private[spark] (public in bytecode) — reached reflectively, with a
    * bounded-sleep fallback: a missed drain skews one attempt's cause
    * fields, never a timing, so best-effort is the right contract. A failed
    * drain is printed to stderr, so a changed Spark API is seen.
    */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      val m = bus.getClass.getMethods
        .filter(_.getName == "waitUntilEmpty")
        .minBy(_.getParameterCount)
      if (m.getParameterCount == 0) m.invoke(bus)
      else m.invoke(bus, java.lang.Long.valueOf(2000L))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[probe] listener bus drain failed: $e")
        Thread.sleep(100)
    }
}
