package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Process-wide memo of expensive derived values (the near-dup shingle
  * graph, its connected-component assignment, the k-means assignment, the
  * co-purchase adjacency) shared across the catalog queries that consume
  * them.
  *
  * At 100 TB nobody re-derives the near-dup graph once per downstream
  * consumer — it is computed once and every keep-best / centrality /
  * sampling pass reads the materialized result. This memo is that
  * contract inside one Verify/Bench process: the first consumer pays the
  * build, later consumers — and later bench attempts — reuse it. Keyed
  * by (session, label, corpus dir): a value is only valid in the session
  * that built it, and different scale factors never cross. Queries
  * remain individually correct with a cold cache; the memo changes cost,
  * never results.
  */
object Shared {
  private final case class Entry(value: AnyRef, release: () => Unit)
  private val cache = new ConcurrentHashMap[(Int, String, String), Entry]()
  private val buildLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Labels of values BUILT (not cache-hit) since the last drain. Bench
    * drains around each timed query so the JSON can attribute "this
    * query's max attempt paid the shared build" — otherwise a memoized
    * consumer's cold/warm spread looks like unexplained variance.
    */
  def drainBuilds(): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    var x = buildLog.poll()
    while (x != null) { out += x; x = buildLog.poll() }
    out.toSeq
  }

  /** Record a one-off amortized build that is NOT a memoized value —
    * e.g. [[graft.catalog.IoCatalog.bucketedJoin]]'s bucketed-table
    * layout write, which persists in the session catalog rather than this
    * cache. Logged builds surface in the bench's `shared_builds` exactly
    * like memo builds, so a first-attempt layout cost is attributed
    * instead of reading as an unexplained max band.
    */
  def noteBuild(label: String): Unit = buildLog.add(label)

  /** Drop every memoized value (bench/test hook). [[graft.ScaleBench]]
    * clears between timed attempts so the measured time INCLUDES the
    * shared builds: a scaling-exponent measurement that read warm memos
    * would time a cache hit, not the operator.
    *
    * Each value's blocks are released EAGERLY, not left to GC +
    * ContextCleaner: repeated cold attempts would otherwise accumulate
    * stale blocks in the executor block manager between timed attempts
    * and perturb exactly the cold-path timings this hook exists to make
    * measurable. A release that throws is reported on stderr with its
    * label; the remaining values are still released.
    */
  def clear(): Unit = {
    cache.forEach { (key, entry) =>
      try entry.release()
      catch { case NonFatal(e) => System.err.println(s"[shared] clear ${key._2} failed: $e") }
    }
    cache.clear()
  }

  /** Memoized frame, [[Materialize]]d so lineage is truncated and the
    * blocks outlive the building query.
    *
    * `persist = true` ADDITIONALLY registers the materialized frame in the
    * SQL columnar cache (populated lazily by the first consumer's first
    * action), for a frame that one consumer scans several times: the
    * columnar scan is ~2× the checkpoint-RDD scan's speed (measured
    * round 10).
    */
  def memo(spark: SparkSession, label: String, dir: String,
           persist: Boolean = false)(build: => DataFrame): DataFrame =
    memoValue(spark, label, dir, unpersistFrame) {
      val mat = Materialize(build)
      if (persist) mat.persist(StorageLevel.MEMORY_AND_DISK) else mat
    }

  /** RE-ENTRANT lookup-or-build of any shared value; `release` frees its
    * blocks on [[clear]]. `build` runs OUTSIDE the map update, so a
    * memoized value may itself be built from another memoized value
    * (keep-best ← components ← shingle graph). `computeIfAbsent` would
    * throw `IllegalStateException("Recursive update")` on exactly that
    * nesting — and whether the nesting is hit depends on which consumer
    * the catalog happens to run first, so it must be safe by construction.
    * Racing builders can at worst build the same value twice (harmless:
    * the memo trades cost, never results); `putIfAbsent` keeps the first.
    */
  def memoValue[T <: AnyRef](spark: SparkSession, label: String, dir: String,
                             release: T => Unit)(build: => T): T = {
    val key = (System.identityHashCode(spark), label, dir)
    val hit = cache.get(key)
    if (hit != null) hit.value.asInstanceOf[T]
    else {
      val built = build
      buildLog.add(label)
      val prev = cache.putIfAbsent(key, Entry(built, () => release(built)))
      if (prev != null) prev.value.asInstanceOf[T] else built
    }
  }

  /** Drops the columnar cache entry (a no-op for a frame that is not
    * persisted), then the checkpointed RDD, reached through the
    * LogicalRDD node: `df.rdd` would derive a NEW (unpersisted) RDD from
    * the plan.
    */
  private def unpersistFrame(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
