package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed query execution: `catalog.build` is the `QueryDef.fn` call
  * (which runs any eager `Materialize` jobs), `write` the noop-sink write.
  * Times are wall-clock milliseconds (listener events carry the same
  * clock) plus nanosecond durations for the reported seconds.
  */
final case class Exec(query: String, pass: Int, traced: Boolean,
                      startMs: Long, buildEndMs: Long, endMs: Long,
                      buildNs: Long, totalNs: Long, error: Option[String]) {
  def seconds: Double = totalNs / 1e9
}

/** Spark's public listener hooks (`SparkListener`, `QueryExecutionListener`,
  * `StreamingQueryListener`), attached only for traced passes. Events
  * are kept raw in memory and attributed to query spans by time after the
  * pass (the benchmark runs one query at a time, so a time window names
  * its query unambiguously).
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stagesDone = new java.util.concurrent.atomic.LongAdder
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** per query execution: phase name → (start, end) wall-clock ms */
  private val qes = new ConcurrentLinkedQueue[Map[String, (Long, Long)]]()
  private val streams = new Streams.Listener

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stagesDone.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, i.failed))
    else tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, i.failed))
  }

  private def record(qe: QueryExecution): Unit =
    qes.add(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    graft.core.TaskMetricsProbe.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  private def clear(): Unit = {
    tasks.clear(); jobs.clear(); stagesDone.reset(); stageSubmit.clear(); qes.clear(); streams.clear()
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  // the pools that hold what survives young collections: the peak of eden
  // is only the size at which the collector runs
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      !p.getName.contains("Eden") && !p.getName.contains("Survivor"))
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
  /** (generated classes compiled, nanoseconds spent compiling them) */
  private def codegenSnap: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private var gc0 = 0L
  private var codegen0 = (0L, 0L)

  /** Start of a traced pass: reset the in-memory records and the JVM gauges. */
  def beginPass(): Unit = {
    clear()
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    codegen0 = codegenSnap
    attach()
  }

  /** End of a traced pass: detach, then fold the records into the per-layer
    * metrics of this pass and its spans.
    */
  def endPass(execs: Seq[Exec], wallS: Double, cpus: Int,
              sharedBuilds: Seq[String]): (Map[String, Double], Seq[Map[String, Any]]) = {
    detach()
    val (cgCount, cgNs) = codegenSnap
    val sc = spark.sparkContext
    val ts = tasks.asScala.toSeq
    val qs = qes.asScala.toSeq
    val jobTimes = jobs.asScala.toSeq.map(_.longValue)
    def within(t: Long, lo: Long, hi: Long) = t >= lo && t <= hi
    def phase(name: String) =
      qs.flatMap(_.get(name)).map { case (a, b) => (b - a) / 1e3 }.sum

    // wall time inside each query with no task running on any core
    val idleMs = execs.map { e =>
      val iv = ts.map(t => (math.max(t.launchMs, e.startMs), math.min(t.finishMs, e.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (e.endMs - e.startMs) - covered
    }.sum

    val runS = ts.map(_.runMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    val storage = sc.getRDDStorageInfo
    val metrics = Map[String, Double](
      "catalog.build_s" -> execs.map(_.buildNs).sum / 1e9,
      "catalog.build_jobs" -> jobTimes.count(t =>
        execs.exists(e => within(t, e.startMs, e.buildEndMs))).toDouble,
      "core.shared_builds" -> sharedBuilds.size.toDouble,
      "core.shared_rebuild_ratio" ->
        (if (sharedBuilds.isEmpty) 0.0 else sharedBuilds.size.toDouble / sharedBuilds.distinct.size),
      "core.cached_mb" -> storage.map(s => s.memSize + s.diskSize).sum / mb,
      "core.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "driver.analysis_s" -> phase(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS),
      "driver.optimization_s" -> phase(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION),
      "driver.planning_s" -> phase(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING),
      "driver.codegen_compile_s" -> (cgNs - codegen0._2) / 1e9,
      "driver.codegen_classes" -> (cgCount - codegen0._1).toDouble,
      "driver.jobs" -> jobTimes.size.toDouble,
      "driver.stages" -> stagesDone.sum.toDouble,
      "driver.idle_s" -> idleMs / 1e3,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.core_busy_frac" -> (if (wallS > 0) runS / (wallS * cpus) else 0.0),
      "exec.task_wait_s" -> ts.map(t =>
        math.max(0L, t.launchMs - stageSubmit.getOrDefault(t.stage, t.launchMs))).sum / 1e3,
      "exec.scan_rows" -> ts.map(_.readRows).sum.toDouble,
      "exec.scan_mb" -> ts.map(_.readBytes).sum / mb,
      "exec.shuffle_write_mb" -> ts.map(_.shufWrite).sum / mb,
      "exec.shuffle_read_mb" -> ts.map(_.shufRead).sum / mb,
      "exec.shuffle_fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "exec.spill_mb" -> ts.map(_.spill).sum / mb,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.write_mb" -> ts.map(_.written).sum / mb,
      "exec.failed_tasks" -> ts.count(_.failed).toDouble,
      "jvm.gc_s" -> (gcMs - gc0) / 1e3,
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / mb) ++
      streams.metrics()
    (metrics, spans(execs, qs))
  }

  /** query → {catalog.build, write → {analysis, optimization, planning,
    * exec}} spans; every span of one execution carries the query's id, and
    * self time is the span minus the time its children cover.
    */
  private def spans(execs: Seq[Exec], qs: Seq[Map[String, (Long, Long)]]): Seq[Map[String, Any]] =
    execs.zipWithIndex.flatMap { case (e, i) =>
      val id = s"${e.pass}.$i.${e.query}"
      def span(name: String, parent: String, a: Long, b: Long, childMs: Long) =
        Map[String, Any]("id" -> id, "name" -> name, "parent" -> parent,
          "start_ms" -> a, "end_ms" -> b, "self_ms" -> math.max(0L, (b - a) - childMs))
      // the write's own query execution: analysed after the build ended
      val writeQe = qs.filter(_.values.exists { case (a, _) => a >= e.buildEndMs && a <= e.endMs })
      val phases = writeQe.flatMap(_.toSeq).filter(_._1 != "parsing")
      val phaseMs = phases.map { case (_, (a, b)) => b - a }.sum
      val writeMs = e.endMs - e.buildEndMs
      val execMs = math.max(0L, writeMs - phaseMs)
      Seq(span("query", "", e.startMs, e.endMs, e.endMs - e.startMs),
        span("catalog.build", "query", e.startMs, e.buildEndMs, 0L),
        span("write", "query", e.buildEndMs, e.endMs, phaseMs + execMs)) ++
        phases.map { case (n, (a, b)) => span(s"driver.$n", "write", a, b, 0L) } :+
        span("exec", "write", e.endMs - execMs, e.endMs, 0L)
    }
}

object Trace {
  private final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
                                   runMs: Long, cpuNs: Long, gcMs: Long,
                                   readRows: Long, readBytes: Long,
                                   shufWrite: Long, shufRead: Long,
                                   fetchWaitMs: Long, spill: Long,
                                   written: Long, failed: Boolean)
}
