package graft.streaming

import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Measure.fixed
import graft.core.TaskMetricsProbe.jvmGcMs

/** Streaming throughput probes for the bench harness: drive the two
  * stateful shapes that dominate streaming cost — watermarked windowed
  * aggregation and a watermarked stream-stream band join — from a
  * `rate-micro-batch` source (fixed rows per trigger, so the measured
  * quantity is engine throughput, not source pacing) and report
  * rows/second over the steady-state micro-batches.
  *
  * This makes streaming regressions visible round-over-round the same way
  * the batch catalog's per-query seconds are: the numbers land in
  * `target/bench.json` under `"streaming"`.
  */
object StreamingBench {

  /** Run the probes; returns (key → value for [[graft.Measure.json]]):
    * rows/sec numbers, plus a `<name>_cause` string whenever any attempt
    * failed — a bare −1 in the driver artifact is not adjudicable
    * (round-9 `keyed_sketch_rows_per_sec_min: -1` with no recorded
    * reason), so the failure MODE (deadline / empty progress /
    * exception) travels in the JSON.
    *
    * Sizing: the windowed aggregate's state is tiny (one row per
    * (window, event_type)), so it takes a fat batch. The join buffers
    * BOTH input streams across the watermark horizon in the state store,
    * so its probe uses a smaller batch and a tight (2 s ≈ 2 retained
    * batches/side) watermark — throughput per row is what's being
    * measured, not state capacity.
    *
    * Each probe runs TWICE; the headline key carries the best attempt —
    * the streaming analog of the batch harness's min-over-attempts: early
    * rounds showed a ±2× single-attempt spread from GC/container noise
    * that made round-over-round comparison unreadable — and a `<name>_min`
    * key carries the worse attempt, so the two-run band is ATTESTED in the
    * JSON (the batch `queries`/`queries_max` convention) rather than the
    * spread being asserted in prose. A FAILED attempt is retried once
    * (fresh checkpoint dir, fresh query) before it is allowed to land as
    * −1: one transient stall must not invalidate a whole round's band.
    */
  def run(spark: SparkSession): Seq[(String, Any)] = {
    // attest the state-store commit path every probe ran under, read back
    // from the session conf (Spark's defaults when unset): a later change
    // of provider or commit mode shows up here instead of masquerading as
    // a throughput delta
    def conf(key: String, default: String): String =
      spark.conf.getOption(key).getOrElse(default)
    val stateStore = ListMap(
      "provider" -> conf("spark.sql.streaming.stateStore.providerClass",
        "HDFSBackedStateStoreProvider").split('.').last,
      "changelog_checkpointing" -> conf(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "false").toBoolean,
      "join_state_format" -> conf("spark.sql.streaming.join.stateFormatVersion", "2").toInt)
    def band2(name: String, warm: Boolean = false, attempts: Int = 2)(attempt: => Attempt): Seq[(String, Any)] = {
      // per-attempt cause record (round-11 verdict task 1): every timed
      // attempt — including the dropped worst — lands in
      // `<name>_attempts` with the fields that adjudicate WHY it differs:
      // per-batch throughput spread (rps_lo/rps_hi over the steady
      // batches), JVM GC time during the attempt (gc_ms, and gc_pct of
      // wall), and the state-store commit share of trigger time
      // (state_ms). A slow attempt with high gc_pct or state_ms is
      // environment/state-load, not engine throughput — the artifact now
      // says so itself instead of needing builder prose.
      val details = scala.collection.mutable.ArrayBuffer.empty[ListMap[String, Any]]
      // warm=true runs one UNTIMED attempt first — the streaming analog of
      // the batch harness's warm_first: the mapGroupsWithState probe's
      // per-row typed lambda ramps through the interpreter across most of
      // an attempt's 6 batches (r8 band 230–787 K rows/s, 3.4×, with the
      // per-batch median already in place — so the spread is ATTEMPT-level
      // compilation ramp, not batch noise); a discarded first attempt lets
      // both timed attempts run compiled
      if (warm) { val _ = attempt }
      // retry-once: a failed attempt gets one fresh replacement before −1
      def tried(): Attempt = {
        val first = attempt
        val last = if (first.rps >= 0) first
        else {
          System.err.println(s"[bench] $name attempt failed (${first.cause}); retrying once")
          attempt
        }
        details += last.detail
        if (last.rps >= 0) last
        else last.copy(cause = s"${first.cause};retry:${last.cause}")
      }
      // attempts=3 (keyed_sketch): the headline band is BEST TWO of the
      // three timed attempts — the round-10 verdict's prescribed protocol
      // for a probe whose single worst attempt carries environment noise
      // the per-batch median can't absorb. The dropped worst attempt is
      // DISCLOSED under `<name>_drop` so the full spread stays attested.
      val all = Seq.fill(attempts)(tried())
      val causes = all.filter(_.rps < 0).map(_.cause)
      val sorted = all.map(_.rps).sorted.reverse // best first
      Seq(name -> fixed(sorted.head, 0),
        s"${name}_min" -> fixed(sorted(1), 0)) ++
        (if (attempts > 2)
           Seq(s"${name}_drop" -> fixed(sorted.last, 0))
         else Seq.empty) ++
        Seq(s"${name}_attempts" -> details.toSeq) ++
        (if (causes.isEmpty) Seq.empty
         else Seq(s"${name}_cause" -> causes.mkString("|")))
    }
    // warm + best-two-of-three (the keyed-sketch treatment): the r11
    // driver artifact showed a 2.21 attempt band on this probe with the
    // local band at ~1.05 — whatever hits early attempts in the driver
    // environment gets one untimed attempt to land on, and the dropped
    // worst is disclosed under _drop with its cause fields in _attempts
    Seq("state_store" -> stateStore) ++
    band2("windowed_agg_rows_per_sec", warm = true, attempts = 3)(
      measure(spark, batches = 6) { s =>
      val src = rateSource(s, rowsPerBatch = 2000000L)
        .select(col("timestamp").as("ts"),
          (col("value") % 64).cast("string").as("event_type"),
          (col("value") % 1000).cast("double").as("value"))
      StreamingOps.windowedAgg(src, "ts", "1 second", "10 seconds")
    }) ++
    // numInputRows counts BOTH sides, so rows/sec here is total ingested
    // rows across the two streams
    band2("stream_stream_join_rows_per_sec")(measure(spark, batches = 6) { s =>
      val l = rateSource(s, rowsPerBatch = 250000L)
        .select(col("value").as("k"), col("timestamp").as("lts"))
      val r = rateSource(s, rowsPerBatch = 250000L)
        .select(col("value").as("k"), col("timestamp").as("rts"),
          (col("value") % 1000).as("payload"))
      StreamingOps.streamJoin(l, r, "k", "lts", "rts",
        watermark = "2 seconds", bandSeconds = 1)
    }) ++
    // arbitrary keyed state (mapGroupsWithState): 64 keys × bounded KMV
    // buffers — the flatMap/mapGroups state-store path the other two
    // probes don't touch
    band2("keyed_sketch_rows_per_sec", warm = true, attempts = 3)(
      measure(spark, batches = 6, outputMode = "update") { s =>
        import s.implicits._
        val src = rateSource(s, rowsPerBatch = 1000000L)
          .select((col("value") % 64).cast("string").as("source"),
            (col("value") % 100000).cast("string").as("word"))
          .as[StreamingOps.KmvEv]
        StreamingOps.distinctStream(src, k = 64).toDF()
      }) ++
    // the chained-stateful end-to-end (admit → watermarked dedup →
    // keyed pack state): synthetic 12-token docs, ~1 in 40 a replayed
    // duplicate (value % 200000 on 500K-row batches), so both state
    // stores do real work; rows/sec is whole-pipeline ingest throughput
    band2("ingest_pack_rows_per_sec", warm = true)(
      measure(spark, batches = 6) { s =>
        val src = rateSource(s, rowsPerBatch = 500000L)
          .select(col("value").as("doc_id"),
            format_string("w%d alpha beta gamma delta epsilon zeta eta" +
              " theta iota kappa lambda", col("value") % 200000L).as("text"),
            col("timestamp").as("ts"))
        StreamingOps.ingestPackStream(src, "ts", "10 seconds").toDF()
      })
  }

  private def rateSource(spark: SparkSession, rowsPerBatch: Long): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions",
        spark.sparkContext.defaultParallelism)
      .load()

  /** Start the query on a noop sink, let it run `batches` steady-state
    * triggers past the first (warmup) one, and report the MEDIAN
    * per-batch rows / triggerExecution throughput, plus a cause string
    * ("ok", or why the attempt produced no number: "deadline_Ns_Mbatches"
    * = the 180 s deadline hit with only M productive batches,
    * "empty_progress" = the query ran but reported none, "exception:…").
    *
    * Median, not Σrows/Σtime: the workload per batch is fixed
    * (rate-micro-batch), so every steady batch measures the same work and
    * the only spread is environment noise — one GC- or
    * compilation-stalled batch used to drag the summed ratio by ±2×
    * round-over-round. The median of 6 fixed-work batches is robust to
    * any 2 stalled outliers, which pins the probe to engine throughput.
    */
  private val DeadlineSec = 180L

  /** One probe attempt: its median rows/sec (−1 when it produced none),
    * the cause string, and the cause record [[run]] lists under
    * `<name>_attempts` so the artifact itself explains attempt spread.
    */
  private final case class Attempt(rps: Double, cause: String,
                                   detail: ListMap[String, Any])

  private def measure(spark: SparkSession, batches: Int,
                      outputMode: String = "append")(
      build: SparkSession => DataFrame): Attempt = {
    val ckpt = Files.createTempDirectory("graft-sbench").toString
    val gc0 = jvmGcMs
    val wall0 = System.nanoTime()
    try {
      val q = build(spark).writeStream.format("noop")
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
      val deadline = System.nanoTime() + DeadlineSec * 1000 * 1000 * 1000
      var deadlineHit = false
      while (q.recentProgress.count(_.numInputRows > 0) < batches + 1 &&
        q.isActive && !deadlineHit) {
        Thread.sleep(50)
        deadlineHit = System.nanoTime() >= deadline
      }
      q.stop()
      q.awaitTermination()
      val productive = q.recentProgress.count(_.numInputRows > 0)
      val ps = q.recentProgress.filter(_.numInputRows > 0)
        .drop(1).take(batches) // drop the cold first batch
      val perBatch = ps.toSeq.flatMap { p =>
        val s = p.durationMs.get("triggerExecution").toDouble / 1000
        if (s > 0) Some(p.numInputRows / s) else None
      }.sorted
      // attempt-cause fields: GC share of the attempt wall, per-batch
      // throughput spread, and the state-store's share of trigger time
      // (update+commit, median over the steady batches)
      val gcMs = jvmGcMs - gc0
      val wallS = (System.nanoTime() - wall0) / 1e9
      val stateMs = ps.toSeq.map(p =>
        p.stateOperators.map(so => so.allUpdatesTimeMs + so.commitTimeMs).sum
      ).sorted.lift(ps.length / 2).getOrElse(-1L)
      val addBatchMs = ps.toSeq.flatMap(p =>
        Option(p.durationMs.get("addBatch")).map(_.toLong)
      ).sorted.lift(ps.length / 2).getOrElse(-1L)
      val detail = ListMap(
        "rps_med" -> fixed(perBatch.lift(perBatch.size / 2).getOrElse(-1.0), 0),
        "rps_lo" -> fixed(perBatch.headOption.getOrElse(-1.0), 0),
        "rps_hi" -> fixed(perBatch.lastOption.getOrElse(-1.0), 0),
        "batches" -> productive, "wall_s" -> fixed(wallS, 1), "gc_ms" -> gcMs,
        "gc_pct" -> fixed(100.0 * gcMs / math.max(1.0, wallS * 1000), 1),
        "state_ms" -> stateMs, "addbatch_ms" -> addBatchMs)
      if (perBatch.nonEmpty) Attempt(perBatch(perBatch.size / 2), "ok", detail)
      else if (deadlineHit)
        Attempt(-1.0, s"deadline_${DeadlineSec}s_${productive}batches", detail)
      else Attempt(-1.0, "empty_progress", detail)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] streaming probe failed: ${e.getMessage}")
        Attempt(-1.0, s"exception:${Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(80)}",
          ListMap.empty)
    }
  }
}
