package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators — additive capability (the reference has
  * no streaming runtime; SURVEY §2.6): the same transforms serve batch and
  * streaming frames, which is the point of the unified Dataset API.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late data past it is dropped and its state evicted); sessionization
  * state is per-active-user and evicted on event-time timeout, so state
  * size tracks concurrent activity, not history.
  */
object StreamingOps {

  /** Tumbling event-time window aggregate with a watermark. Works on a
    * batch frame identically (watermark is a no-op there) — the batch twin
    * is Analytics.eventsWindowAgg.
    */
  def windowedAgg(events: DataFrame, tsCol: String, windowDur: String,
                  watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Hopping (sliding) windows — every event lands in window/slide
    * overlapping windows (the streaming twin of the batch
    * `sliding_window_agg` fan-out; Spark expands the same multiplicity
    * inside the `window()` generator). State is bounded by the watermark:
    * a window's row is evictable once the watermark passes window end.
    */
  def slidingAgg(events: DataFrame, tsCol: String, windowDur: String,
                 slideDur: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur, slideDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Native session windows (`session_window(ts, gap)`): Spark's state
    * store merges overlapping per-key gap windows itself — the DECLARATIVE
    * twin of [[sessionizeStream]]'s hand-rolled flatMapGroupsWithState
    * (same semantics, zero custom state code; a closed session's window
    * end is last event + gap, where the custom op reports the last event
    * itself — callers subtract the gap to convert). Sessions emit once
    * the watermark passes their end (append mode), which is what bounds
    * state; works identically on a batch frame. Prefer this form unless
    * the session payload needs custom accumulation the agg can't express.
    */
  def sessionWindowAgg(events: DataFrame, tsCol: String, gap: String,
                       watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Windowed OHLC bars — the streaming twin of the batch `ohlc_bars`
    * downsampler, and the same algebra: open/close ride as min/max over
    * `struct(ts_us, event_id, cents)` (struct extrema are commutative
    * monoids, so partial aggregation across micro-batches composes exactly
    * like map-side combine does in batch), high/low as plain extremes on
    * the cents. State is one struct-pair per open bar, evicted once the
    * watermark passes the bar end; works identically on a batch frame.
    */
  def ohlcStream(events: DataFrame, tsCol: String, windowDur: String,
                 watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .select(col(tsCol), col("user_id"), col("event_id"),
        unix_micros(col(tsCol)).as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cv"))
      .groupBy(window(col(tsCol), windowDur).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("ts_us"), col("event_id"), col("cv")))
          .getField("cv").as("open_cents"),
        max(struct(col("ts_us"), col("event_id"), col("cv")))
          .getField("cv").as("close_cents"),
        max(col("cv")).as("high_cents"),
        min(col("cv")).as("low_cents"))
      .select(col("w.start").as("window_start"), col("user_id"),
        col("n_events"), col("open_cents"), col("close_cents"),
        col("high_cents"), col("low_cents"))

  /** `ts` mirrors ts_us as a TimestampType column: the streaming path must
    * keep the WATERMARKED column itself flowing into the stateful operator
    * (the analyzer rejects event-time timeout if no watermarked attribute
    * reaches it); batch callers may leave it null.
    */
  final case class Ev(user_id: Long, ts_us: Long, value: Double,
                      ts: java.sql.Timestamp = null)
  final case class SessionState(start_us: Long, end_us: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start_us: Long,
                              session_end_us: Long, n_events: Long)

  /** Gap-based sessionization via flatMapGroupsWithState (the reference-free
    * custom-state surface): sessions CLOSED by a gap within the arriving
    * data emit immediately; the trailing open session parks in state and
    * emits when the event-time timeout fires (watermark > last event + gap).
    * Batch mode runs the same code with all data in one invocation.
    */
  /** Streaming entry: define the watermark on the timestamp column, project
    * to the typed event, sessionize. (The watermark node survives the
    * projection — timeouts read the global per-batch watermark.)
    */
  def sessionizeStream(df: DataFrame, tsCol: String, gapUs: Long,
                       watermark: String): Dataset[SessionOut] = {
    import df.sparkSession.implicits._
    val evs = df.withWatermark(tsCol, watermark)
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col(tsCol)).as("ts_us"),
        col("value").cast("double").as("value"),
        col(tsCol).as("ts"))
      .as[Ev]
    sessionize(evs, gapUs)
  }

  /** Streaming exact dedup on a key: keep the FIRST arrival, drop later
    * duplicates for as long as the watermark allows — the streaming
    * counterpart of the batch `dedup_exact` pass, and the idiom an
    * ingestion pipeline uses to suppress replayed documents. State holds
    * one entry per distinct key seen within the watermark horizon (bounded,
    * evicted as event time advances) — `dropDuplicatesWithinWatermark`
    * rather than plain `dropDuplicates`, whose state never shrinks.
    */
  def dedupStream(df: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked stream-stream inner join: each side buffers only inside
    * its watermark horizon, and the time-range condition lets Spark evict
    * both states — the enrich-clicks-with-impressions shape. Equi-key plus
    * a bounded event-time band; unbounded-state joins are rejected by
    * construction. Under the session's join state format 3
    * ([[graft.core.GraftSession]]) both sides' buffers live in ONE RocksDB
    * store per shuffle partition, so a micro-batch commits one store per
    * partition, not four.
    */
  def streamJoin(left: DataFrame, right: DataFrame, key: String,
                 leftTs: String, rightTs: String, watermark: String,
                 bandSeconds: Long): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, l(key) === r(key) &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $bandSeconds SECONDS"))
  }

  /** Left-OUTER watermarked stream-stream join: matched pairs emit on
    * arrival like the inner variant; an UNMATCHED left row emits (right
    * side null) only once the watermark proves no matching right row can
    * still arrive — i.e. null results are a statement about the watermark,
    * not about the data seen so far. Same bounded-state construction as
    * [[streamJoin]]; the outer semantics add no state, only the deferred
    * null emission.
    */
  def streamJoinOuter(left: DataFrame, right: DataFrame, key: String,
                      leftTs: String, rightTs: String, watermark: String,
                      bandSeconds: Long): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, l(key) === r(key) &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $bandSeconds SECONDS"),
      "left_outer")
      .drop(r(key)) // left-outer keeps the left key; avoid the ambiguity
  }

  /** Stream-static enrichment join: the static dimension re-plans per
    * micro-batch and broadcasts — NO join state at all, unlike
    * stream-stream joins, so it's the first choice whenever one side is a
    * slowly-changing lookup (domain metadata, license flags). This is the
    * reference's DistributedCache/broadcast side-file idiom applied to a
    * stream; because the dimension is re-read each batch, updates to its
    * backing table surface without restarting the query.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Temporal (SCD2) stream enrichment: each event joins the dimension
    * version that was valid AT ITS EVENT TIME — `key` equality plus
    * `valid_from ≤ ts < valid_to` — not merely the current version, so a
    * replayed or late event still lands on the attributes it saw when it
    * happened (the correctness property plain `enrichStream` loses the
    * moment a dimension row changes). Stream-static joins re-plan per
    * micro-batch, so an SCD2 append (new version row + closed-out
    * predecessor) takes effect live with ZERO streaming state; the range
    * predicate rides the broadcast hash join on `key` as a residual
    * filter — versions per key are few, so the per-row probe stays O(1).
    *
    * Dimension schema: (`key`, valid_from_us, valid_to_us, ...attrs) with
    * half-open [from, to) validity — the `scd2_merge` output contract
    * (open versions carry a far-future valid_to).
    */
  def enrichStreamAsOf(stream: DataFrame, dim: DataFrame, key: String,
                       tsCol: String): DataFrame =
    stream.join(broadcast(dim),
      stream(key) === dim(key) &&
        stream(tsCol) >= dim("valid_from_us") &&
        stream(tsCol) < dim("valid_to_us"),
      "left")
      .drop(dim(key))

  /** Streaming ingestion admission — the streaming face of
    * [[graft.catalog.LlmPipeline.ingestDedup]]: each arriving doc is
    * vetted against the EXISTING corpus's pre-built dedup indexes and
    * labeled exact / near / unique, with ZERO streaming state:
    *   - exact tier: stream-static broadcast left join on the scalar
    *     content key (re-plans per micro-batch, so a corpus refresh
    *     surfaces without restart);
    *   - span tier: a bloom filter of the corpus's span h48 hashes probed
    *     with the native `bloom_might_contain` expression inside an
    *     `exists()` over the doc's span array — map-only, no join at all.
    * A bloom false positive labels a unique doc "near" — over-exclusion,
    * the safe direction for dedup admission (identical to the FP stance
    * of [[graft.catalog.LlmPipeline.decontaminate]]); false negatives
    * cannot happen, so nothing duplicated is ever admitted as unique.
    *
    * Input stream schema: (doc_id LONG, ck STRING, hs ARRAY<LONG>) — the
    * content key and span hashes are computed map-side on the stream;
    * `spanBloom` is the serialized `df.stat.bloomFilter` of the stored
    * span-hash table.
    */
  def admitStream(stream: DataFrame, corpusKeys: DataFrame,
                  spanBloom: Array[Byte]): DataFrame = {
    val exact = corpusKeys.select(col("ck")).distinct()
      .withColumn("exact_hit", lit(1L))
    stream.join(broadcast(exact), Seq("ck"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_hit"), lit(0L)).as("exact_dup"),
        when(exists(col("hs"),
          h => call_function("bloom_might_contain", lit(spanBloom), h)),
          1L).otherwise(0L).as("span_dup"))
      .select(col("doc_id"), col("exact_dup"), col("span_dup"),
        when(col("exact_dup") === 1L, "exact")
          .when(col("span_dup") === 1L, "near")
          .otherwise("unique").as("verdict"))
  }

  /** Streaming routed sink — the streaming twin of the batch
    * MultipleOutputFormat routing (`MultiSink.writeRouted`): every
    * micro-batch lands in `path` partitioned by `routeCol`
    * (`<path>/<routeCol>=<value>/batch_id=<id>/...`), via foreachBatch +
    * the ordinary batch parquet writer, so any reader sees a normal
    * Hive-layout table with the route as its leading partition column.
    *
    * foreachBatch is at-least-once: after a crash the checkpoint replays
    * the last uncommitted micro-batch, so the per-batch write must be
    * idempotent or the replay duplicates rows. It is made idempotent by
    * scoping every write to its batch id — each batch dynamic-overwrites
    * exactly the `(route, batch_id)` partitions it owns ([[routeBatch]]),
    * so a replay replaces its own earlier partial output file-for-file and
    * never touches other batches' partitions. Net semantics: exactly-once
    * in the table a reader observes.
    */
  def routeStream(df: DataFrame, routeCol: String, path: String,
                  checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        routeBatch(batch, batchId, routeCol, path)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One micro-batch of [[routeStream]]'s sink: dynamic-overwrite the
    * `(routeCol, batch_id)` partitions this batch id owns. Exposed so the
    * replay-idempotency contract is directly testable (run it twice with
    * the same id → one copy of the rows).
    */
  def routeBatch(batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
                 routeCol: String, path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(routeCol, "batch_id")
      .parquet(path)

  /** Streaming incremental near-dup admission — the streaming face of
    * [[graft.catalog.Composites.incrementalDedup]]: every micro-batch of
    * arriving (doc_id, text) docs is deduped against the committed
    * corpus's STORED LSH index by replaying the batch op's serving path
    * verbatim ([[graft.catalog.Composites.incServe]] inside foreachBatch —
    * full batch semantics per micro-batch, so the pushed-In band and set
    * probes, the LIMIT-bounded key collects, and the exact
    * `array_intersect` verification are the same code, not a streaming
    * re-derivation).
    * Output rows (doc_id, n_matches, best_match, best_j_micro, batch_id)
    * land under `path` exactly-once: foreachBatch replays the last
    * uncommitted batch after a crash, and each batch dynamic-overwrites
    * only the `batch_id` partition it owns ([[incDedupBatch]], the
    * [[routeBatch]] idempotence contract), so a replay replaces its own
    * earlier partial output and never duplicates.
    *
    * Scale: per-batch serving work is probe-sized (signatures + LIMIT-
    * bounded pushed-In probes of the stored bands AND sets, semi-join
    * fallback past the pushdown threshold); the stored frames are built
    * ONCE per corpus fingerprint off the serving path — a 100 TB corpus
    * serves a 100-doc micro-batch without re-pairing anything. The stored
    * index ROOT is re-resolved (re-fingerprinted) inside foreachBatch per
    * micro-batch, so a corpus regenerated in place surfaces on the next
    * micro-batch without restarting the stream — the first batch that
    * sees a new fingerprint pays that index build (attributed via the
    * FrameStore build note), later batches serve the new bytes.
    */
  def incDedupStream(stream: DataFrame, corpusDir: String, path: String,
                     checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val (storedBands, storedSets) = graft.catalog.Composites
          .incStoredFrames(batch.sparkSession, corpusDir)
        incDedupBatch(batch, batchId, storedBands, storedSets, path)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One micro-batch of [[incDedupStream]]'s sink — exposed so the
    * replay-idempotency contract is directly testable (run it twice with
    * the same id → one copy of the rows).
    */
  def incDedupBatch(batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
                    storedBands: DataFrame, storedSets: DataFrame,
                    path: String): Unit =
    graft.catalog.Composites
      .incServe(batch.sparkSession, batch.toDF(), storedBands, storedSets)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  final case class EwmaEv(user_id: Long, ts_us: Long, cv: Long)
  final case class EwmaState(ewma: Long, n: Long)
  final case class EwmaOut(user_id: Long, n_events: Long, ewma_cents: Long)

  /** Per-key integer EWMA (α = 1/4) as keyed streaming state — the
    * streaming twin of the batch `ewma_user` fold. State per key is two
    * longs however long the stream runs; each micro-batch sorts only its
    * own arrivals (by event time) and folds them into the carried state,
    * emitting the key's running EWMA (Update mode). Same truncating-`div`
    * integer recurrence as the batch op, so a batch replay of the same
    * rows in the same order is bit-identical. Cross-batch ordering is
    * arrival order — the streaming contract; the batch twin over the full
    * log is the canonical total-order answer.
    */
  def ewmaStream(events: Dataset[EwmaEv]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, EwmaOut](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[EwmaEv], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(-1L, 0L))
          rows.toSeq.sortBy(_.ts_us).foreach { e =>
            st =
              if (st.n == 0L) EwmaState(e.cv, 1L)
              else EwmaState((st.ewma * 3 + e.cv) / 4, st.n + 1)
          }
          state.update(st)
          EwmaOut(user, st.n, st.ewma)
      }
  }

  final case class KmvEv(source: String, word: String)
  final case class KmvState(hashes: List[Long], n_seen: Long)
  final case class KmvOut(source: String, n_seen: Long, est_distinct: Long)

  /** Per-key streaming distinct-count estimate — the streaming twin of the
    * batch `approx_distinct_kmv` sketch. State per key is the SAME bounded
    * KMV buffer the batch Aggregator carries (≤ k sorted hashes + one
    * counter) however long the stream runs, and because the KMV insert is
    * a semilattice (order-independent, spec-proven in KmvSketchSpec) and
    * the hash is the portable md5 h48, a batch replay of the same rows
    * yields the bit-identical estimate — the streaming/batch twin contract
    * of `ewma_user`/`ewmaStream`, for the cardinality question ("how many
    * distinct tokens has this source produced so far").
    */
  def distinctStream(events: Dataset[KmvEv], k: Int): Dataset[KmvOut] = {
    import events.sparkSession.implicits._
    val agg = graft.operators.KmvSketch.KmvAgg(k)
    events.groupByKey(_.source)
      .mapGroupsWithState[KmvState, KmvOut](GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[KmvEv], state: GroupState[KmvState]) =>
          var st = state.getOption.getOrElse(KmvState(Nil, 0L))
          rows.foreach { e =>
            val h = graft.functions.Md5Hash48.hash(
              org.apache.spark.unsafe.types.UTF8String.fromString(e.word))
            st = KmvState(agg.reduce(st.hashes, h), st.n_seen + 1)
          }
          state.update(st)
          KmvOut(source, st.n_seen,
            graft.operators.KmvSketch.estimate(st.hashes, k))
      }
  }

  final case class HhEv(source: String, word: String)
  final case class HhState(counters: Map[String, Long], n_seen: Long)
  final case class HhOut(source: String, n_seen: Long, n_candidates: Int,
                         top_word: String, top_count: Long)

  /** Streaming Misra-Gries heavy hitters: per-source bounded counter state
    * — at most k entries regardless of vocabulary (the streaming twin of
    * the batch `approx_topk` candidate pass; same decrement-all step, so
    * the same guarantee holds: any key with true frequency > n/k is
    * guaranteed present among the candidates). State is O(k) forever —
    * the unbounded-vocabulary `groupBy(word).count` this replaces is
    * exactly what a long-running stream cannot afford. Counts are MG
    * lower bounds; the emitted top is the candidate leader (ties → the
    * lexicographically larger word, deterministic), which a periodic
    * batch recount confirms — the [[graft.operators.HeavyHitters]]
    * serving split.
    */
  def heavyHittersStream(events: Dataset[HhEv], k: Int): Dataset[HhOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.source)
      .mapGroupsWithState[HhState, HhOut](GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[HhEv], state: GroupState[HhState]) =>
          val st = state.getOption.getOrElse(HhState(Map.empty, 0L))
          var c = st.counters
          var n = st.n_seen
          rows.foreach { e =>
            n += 1L
            if (c.contains(e.word)) c = c.updated(e.word, c(e.word) + 1L)
            else if (c.size < k) c = c.updated(e.word, 1L)
            else c = c.map { case (w, v) => w -> (v - 1L) }.filter(_._2 > 0L)
          }
          state.update(HhState(c, n))
          val (tw, tc) =
            if (c.isEmpty) ("", 0L) else c.maxBy { case (w, v) => (v, w) }
          HhOut(source, n, c.size, tw, tc)
      }
  }

  final case class CdcEv(k: Long, seq: Long, op: String, price_cents: Long)
  final case class CdcState(seq: Long, op: String, price_cents: Long)
  final case class CdcOut(k: Long, live: Boolean, seq: Long, price_cents: Long)

  /** Streaming CDC upsert — the streaming twin of the batch `cdc_apply`
    * merge: per-key latest-SEQUENCE-wins state (three fields per key,
    * however long the stream runs), emitting the key's current version
    * each micro-batch (Update mode). Sequence comparison — not arrival
    * order — decides, so late/out-of-order change events and at-least-once
    * replays fold in idempotently (max-seq is a semilattice: reprocessing
    * any prefix of the log cannot move the state backwards). Deletes
    * become TOMBSTONES (`live = false`) rather than `state.remove()`: a
    * dropped tombstone would let a late lower-seq update resurrect the
    * row — the classic CDC bug this op exists to prevent; production
    * compaction evicts tombstones only past the out-of-order horizon.
    */
  def upsertStream(events: Dataset[CdcEv]): Dataset[CdcOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.k)
      .mapGroupsWithState[CdcState, CdcOut](GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[CdcEv], state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(CdcState(-1L, "D", 0L))
          rows.foreach { e =>
            if (e.seq > st.seq) st = CdcState(e.seq, e.op, e.price_cents)
          }
          state.update(st)
          CdcOut(k, st.op != "D", st.seq, st.price_cents)
      }
  }

  final case class PackEv(doc_id: Long, n_tokens: Long, bucket: Int,
                          ts_us: Long)
  final case class PackState(cum: Long)
  final case class PackOut(doc_id: Long, n_tokens: Long, bucket: Int,
                           shard: Long)

  /** End-to-end streaming ingest pipeline — the streaming face of the
    * batch [[graft.catalog.Composites.curationFunnel]], chained as ONE
    * streaming plan under one checkpoint:
    *
    *   1. map-side stats + admission (the gopher word-count bound —
    *      text-only rules keep the streaming stage map-only; the full
    *      rule census is the batch funnel's job);
    *   2. watermarked exact dedup on the content key ([[dedupStream]] —
    *      first arrival wins, state bounded by the watermark horizon);
    *   3. per-bucket stateful token-budget shard packing — the streaming
    *      twin of [[graft.catalog.LlmPipeline.shardPack]] with the SAME
    *      bucket fan-out and budget constants, but packing in ARRIVAL
    *      order (the online greedy variant: a stream cannot sort by the
    *      content hash it hasn't finished seeing; within a micro-batch
    *      arrivals are ordered by (event time, doc_id) so a replay packs
    *      identically). State per bucket is ONE long (the cumulative
    *      token count) however long the stream runs.
    *
    * Chaining note: dedup → flatMapGroupsWithState is two stateful
    * operators in one plan — supported in append mode on Spark 4 (the
    * spec pins it, including state continuity across micro-batches).
    */
  def ingestPackStream(df: DataFrame, tsCol: String,
                       watermark: String): Dataset[PackOut] = {
    import df.sparkSession.implicits._
    val buckets = graft.catalog.LlmPipeline.PackBuckets
    val budget = graft.catalog.LlmPipeline.PackBudget
    val stats = df
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col(tsCol).as("ts"))
      .withColumn("n_tokens",
        size(graft.functions.TextFns.tokens(col("text"))).cast("long"))
      .where(col("n_tokens") >= 10 && col("n_tokens") <= 100000L)
      .withColumn("content_key",
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
    dedupStream(stats, "ts", Seq("content_key"), watermark)
      .select(col("doc_id"), col("n_tokens"),
        (graft.functions.PortableHash.h48(col("doc_id").cast("string"))
          % buckets).cast("int").as("bucket"),
        unix_micros(col("ts")).as("ts_us"))
      .as[PackEv]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[PackState, PackOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bucket: Int, rows: Iterator[PackEv], state: GroupState[PackState]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = rows.toSeq.sortBy(e => (e.ts_us, e.doc_id)).map { e =>
            // shard = budget window the doc STARTS in (the shardPack rule)
            val shard = cum / budget
            cum += e.n_tokens
            PackOut(e.doc_id, e.n_tokens, bucket, shard)
          }
          state.update(PackState(cum))
          out.iterator
      }
  }

  def sessionize(events: Dataset[Ev], gapUs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(user, s.start_us, s.end_us, s.n)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.ts_us)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_us - s.end_us <= gapUs =>
                  cur = Some(SessionState(s.start_us, e.ts_us, s.n + 1))
                case Some(s) =>
                  closed += SessionOut(user, s.start_us, s.end_us, s.n)
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1))
                case None =>
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1))
              }
            }
            if (streaming) {
              cur.foreach { s =>
                state.update(s)
                // fire once the watermark passes the session end + gap
                state.setTimeoutTimestamp(s.end_us / 1000 + gapUs / 1000)
              }
            } else {
              // batch: no further data can arrive — the trailing session is
              // complete by definition, emit it now
              cur.foreach(s => closed += SessionOut(user, s.start_us, s.end_us, s.n))
            }
            closed.result().iterator
          }
      }
  }
}
