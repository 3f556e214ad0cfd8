package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

class StreamingOpsSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  // A stale checkpoint makes a fresh MemoryStream either throw or silently
  // no-op (committed offsets past the new data) — every run gets its own dir.
  private val checkpoints = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]

  private def freshCheckpoint(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft-ckpt-$tag-")
    checkpoints += dir
    dir.toString
  }

  // quietly: the state-store maintenance thread may still be uploading a
  // snapshot into a just-stopped query's checkpoint
  override def afterAll(): Unit = {
    checkpoints.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit)
    super.afterAll()
  }

  test("windowedAgg aggregates tumbling event-time windows from a stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val sink = s"win_agg_${System.nanoTime()}"
    val q = StreamingOps.windowedAgg(df, "ts", "10 seconds", "5 seconds")
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete")
      .option("checkpointLocation", freshCheckpoint("win"))
      .start()
    try {
      in.addData((ts(1), "view", 1.0), (ts(3), "view", 2.0), (ts(12), "view", 4.0),
        (ts(2), "click", 8.0))
      q.processAllAvailable()
      val rows = spark.table(sink)
        .select(unix_seconds(col("window_start")), col("event_type"),
          col("n_events"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSet == Set(
        (0L, "view", 2L, 3.0), (10L, "view", 1L, 4.0), (0L, "click", 1L, 8.0)))
    } finally q.stop()
  }

  test("ohlcStream emits first/last/high/low per bar across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Long, Double)]
    val df = in.toDF().toDF("ts", "user_id", "event_id", "value")
    val sink = s"ohlc_${System.nanoTime()}"
    val q = StreamingOps.ohlcStream(df, "ts", "10 seconds", "5 seconds")
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete")
      .option("checkpointLocation", freshCheckpoint("ohlc"))
      .start()
    try {
      // batch 1: open at t=1 (3.00), low at t=3 (1.00)
      in.addData((ts(1), 7L, 100L, 3.0), (ts(3), 7L, 101L, 1.0))
      q.processAllAvailable()
      // batch 2: high at t=5 (9.00), close at t=8 (4.00) — the bar's
      // open/close must still come from the merged cross-batch extrema
      in.addData((ts(5), 7L, 102L, 9.0), (ts(8), 7L, 103L, 4.0))
      q.processAllAvailable()
      val rows = spark.table(sink)
        .select(unix_seconds(col("window_start")), col("user_id"), col("n_events"),
          col("open_cents"), col("close_cents"), col("high_cents"), col("low_cents"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      assert(rows.toSet == Set((0L, 7L, 4L, 300L, 400L, 900L, 100L)))
    } finally q.stop()
  }

  test("slidingAgg counts each event into every overlapping hop window") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val sink = s"slide_agg_${System.nanoTime()}"
    val q = StreamingOps.slidingAgg(df, "ts", "10 seconds", "5 seconds", "5 seconds")
      .writeStream.format("memory").queryName(sink)
      .outputMode("complete")
      .option("checkpointLocation", freshCheckpoint("slide"))
      .start()
    try {
      in.addData((ts(7), "view", 1.0), (ts(12), "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table(sink)
        .select(unix_seconds(col("window_start")), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // t=7 -> windows [0,10) and [5,15); t=12 -> [5,15) and [10,20)
      assert(rows == Set((0L, 1L, 1.0), (5L, 2L, 3.0), (10L, 1L, 2.0)))
    } finally q.stop()
  }

  test("batch sessionize splits on gaps and emits the trailing session") {
    val evs = spark.createDataset(Seq(
      StreamingOps.Ev(1L, 1000000L, 1.0),
      StreamingOps.Ev(1L, 2000000L, 1.0),       // same session (1s gap)
      StreamingOps.Ev(1L, 100000000L, 1.0),     // new session (98s > 60s gap)
      StreamingOps.Ev(2L, 5000000L, 1.0)))
    val out = StreamingOps.sessionize(evs, gapUs = 60L * 1000000)
      .collect().map(s => (s.user_id, s.session_start_us, s.n_events)).toSet
    assert(out == Set((1L, 1000000L, 2L), (1L, 100000000L, 1L), (2L, 5000000L, 1L)))
  }

  test("stream-static enrichment joins each micro-batch against the broadcast dim") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("domain_id", "url")
    val dim = Seq((1L, "news", true), (2L, "blog", false))
      .toDF("domain_id", "category", "licensed")
    val sink = s"enrich_${System.nanoTime()}"
    val q = StreamingOps.enrichStream(stream, dim, "domain_id")
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", freshCheckpoint("enrich"))
      .start()
    try {
      in.addData((1L, "a.html"), (2L, "b.html"), (9L, "c.html"))
      q.processAllAvailable()
      val rows = spark.table(sink)
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)).getOrElse("-"))).toSet
      // unknown domain survives the LEFT join with null enrichment
      assert(rows == Set((1L, "a.html", "news"), (2L, "b.html", "blog"),
        (9L, "c.html", "-")))
    } finally q.stop()
  }

  test("streaming dedup keeps first arrivals; state evicts past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "payload")
    val sink = s"dedup_${System.nanoTime()}"
    val q = StreamingOps.dedupStream(df, "ts", Seq("doc_id"), "10 seconds")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", freshCheckpoint("dedup"))
      .start()
    try {
      in.addData((ts(100), 1L, "a"), (ts(101), 1L, "a-replay"), (ts(102), 2L, "b"))
      q.processAllAvailable()
      in.addData((ts(103), 1L, "a-replay-2")) // still inside the horizon
      q.processAllAvailable()
      in.addData((ts(10000), 3L, "c")) // advances watermark far past doc 1
      q.processAllAvailable()
      in.addData((ts(10001), 1L, "a-after-eviction"))
      q.processAllAvailable()
      val perDoc = spark.table(sink).collect()
        .groupBy(_.getLong(1)).view.mapValues(_.length).toMap
      // docs 2 and 3 once; doc 1 once per watermark horizon (re-emitted
      // after eviction — the documented dropDuplicatesWithinWatermark bound)
      assert(perDoc == Map(1L -> 2, 2L -> 1, 3L -> 1), s"got $perDoc")
    } finally q.stop()
  }

  test("stream-stream join matches only within the time band, both states bounded") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long, Double)]
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamingOps.streamJoin(
      imps.toDF().toDF("imp_ts", "ad_id", "cost"),
      clicks.toDF().toDF("click_ts", "ad_id", "user"),
      "ad_id", "imp_ts", "click_ts", "30 seconds", bandSeconds = 60)
    val sink = s"joined_${System.nanoTime()}"
    val q = joined.select(col("user"), col("cost"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", freshCheckpoint("join"))
      .start()
    try {
      imps.addData((ts(100), 7L, 1.5), (ts(100), 8L, 9.0))
      clicks.addData((ts(130), 7L, "u1"))  // 30s later → inside the band
      q.processAllAvailable()
      clicks.addData((ts(300), 8L, "u2"))  // 200s later → outside the band
      q.processAllAvailable()
      val got = spark.table(sink).collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(got.toSeq == Seq(("u1", 1.5)))
    } finally q.stop()
  }

  test("state commits: one store per join partition, a changelog per commit") {
    // GraftSession's commit path: the stream-stream join keeps its four
    // state tables in ONE RocksDB store per shuffle partition (join state
    // format 3, not four stores), and a commit writes a changelog file
    // rather than a full snapshot (changelog checkpointing)
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val join = StreamingOps.streamJoin(
      imps.toDF().toDF("imp_ts", "ad_id"), clicks.toDF().toDF("click_ts", "ad_id"),
      "ad_id", "imp_ts", "click_ts", "30 seconds", bandSeconds = 60)
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", freshCheckpoint("shape-join"))
      .start()
    try {
      imps.addData((ts(100), 7L), (ts(101), 8L))
      clicks.addData((ts(130), 7L))
      join.processAllAvailable()
      val stores = join.recentProgress.filter(_.numInputRows > 0)
        .flatMap(_.stateOperators.map(_.numStateStoreInstances)).toSeq
      val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(stores.nonEmpty && stores.forall(_ == partitions),
        s"store instances per join micro-batch: $stores, partitions $partitions")
    } finally join.stop()

    val in = MemoryStream[(Timestamp, String, Double)]
    val ckpt = freshCheckpoint("shape-win")
    val win = StreamingOps.windowedAgg(in.toDF().toDF("ts", "event_type", "value"),
        "ts", "10 seconds", "5 seconds")
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData((ts(1), "view", 1.0))
      win.processAllAvailable()
      in.addData((ts(12), "view", 2.0))
      win.processAllAvailable()
    } finally win.stop()
    val changelogs = Files.walk(java.nio.file.Paths.get(ckpt, "state")).iterator()
      .asScala.map(_.getFileName.toString).filter(_.endsWith(".changelog")).toSeq
    assert(changelogs.nonEmpty, "a windowed aggregate commit must write a changelog")
  }

  test("outer stream-stream join: unmatched rows emit null only after the watermark closes the band") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long, Double)]
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val joined = StreamingOps.streamJoinOuter(
      imps.toDF().toDF("imp_ts", "ad_id", "cost"),
      clicks.toDF().toDF("click_ts", "ad_id", "user"),
      "ad_id", "imp_ts", "click_ts", "10 seconds", bandSeconds = 60)
    val sink = s"outer_join_${System.nanoTime()}"
    val q = joined.select(col("ad_id"), col("cost"), col("user"))
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", freshCheckpoint("ojoin"))
      .start()
    try {
      imps.addData((ts(100), 7L, 1.5), (ts(100), 8L, 9.0))
      clicks.addData((ts(130), 7L, "u1")) // matches ad 7; ad 8 still open
      q.processAllAvailable()
      val early = spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getString(2))).toSet
      assert(early === Set((7L, "u1")),
        "ad 8 must NOT null-emit while its band can still match")
      // advance both watermarks far past imp_ts=100 + band 60 + delay 10
      imps.addData((ts(1000), 99L, 0.0))
      clicks.addData((ts(1000), 98L, "uX"))
      q.processAllAvailable()
      val late = spark.table(sink).collect()
        .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      assert(late.contains((8L, None)),
        s"ad 8 must null-emit once the watermark proves no match can arrive: $late")
    } finally q.stop()
  }

  test("streaming sessionize: gap-closed sessions emit on arrival, idle ones on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val df = in.toDF().toDF("ts", "user_id", "value")
    val sink = s"sessions_${System.nanoTime()}"
    val q = StreamingOps.sessionizeStream(df, "ts", gapUs = 60L * 1000000,
      watermark = "10 seconds")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", freshCheckpoint("sess"))
      .start()
    try {
      // batch 1: user 1 two events (one session), user 2 one event
      in.addData((ts(100), 1L, 1.0), (ts(110), 1L, 1.0), (ts(105), 2L, 1.0))
      q.processAllAvailable()
      // batch 2: user 1 far-future event → closes user 1's first session by
      // gap and advances the watermark far past user 2's timeout
      in.addData((ts(10000), 1L, 1.0))
      q.processAllAvailable()
      // batch 3: unrelated user — its arrival lets the timeout sweep run
      in.addData((ts(20000), 3L, 1.0))
      q.processAllAvailable()
      val got = spark.table(sink)
        .collect().map(r => (r.getLong(0), r.getLong(1) / 1000000, r.getLong(3))).toSet
      assert(got.contains((1L, 100L, 2L)), s"user 1 first session: $got")
      assert(got.contains((2L, 105L, 1L)), s"user 2 timed-out session: $got")
    } finally q.stop()
  }

  test("sessionWindowAgg merges gap windows natively, agrees with the custom op") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val df = in.toDF().toDF("ts", "user_id", "value")
    val sink = s"swin_${System.nanoTime()}"
    val q = StreamingOps.sessionWindowAgg(df, "ts", "60 seconds", "10 seconds")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", freshCheckpoint("swin"))
      .start()
    try {
      // user 1: two merging events; user 2: one event; then the watermark
      // advances far past both sessions' ends so append mode emits them
      in.addData((ts(100), 1L, 1.0), (ts(110), 1L, 2.0), (ts(105), 2L, 8.0))
      q.processAllAvailable()
      in.addData((ts(10000), 3L, 1.0))
      q.processAllAvailable()
      val got = spark.table(sink)
        .select(col("user_id"), unix_seconds(col("session_start")),
          unix_seconds(col("session_end")), col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      // session end = last event + gap (the documented native convention)
      assert(got.contains((1L, 100L, 170L, 2L, 3.0)), s"user 1 merged: $got")
      assert(got.contains((2L, 105L, 165L, 1L, 8.0)), s"user 2 single: $got")
    } finally q.stop()
  }

  test("sessionWindowAgg on a batch frame matches sessionizeStream sessions") {
    val rows = Seq(
      (ts(100), 1L, 1.0), (ts(110), 1L, 2.0), (ts(300), 1L, 4.0),
      (ts(105), 2L, 8.0))
    val df = rows.toDF("ts", "user_id", "value")
    val native = StreamingOps.sessionWindowAgg(df, "ts", "60 seconds", "0 seconds")
      .select(col("user_id"), unix_seconds(col("session_start")),
        unix_seconds(col("session_end")) - 60, col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val custom = StreamingOps.sessionizeStream(df, "ts", gapUs = 60L * 1000000,
      watermark = "0 seconds")
      .collect()
      .map(s => (s.user_id, s.session_start_us / 1000000,
        s.session_end_us / 1000000, s.n_events)).toSet
    assert(native === custom, "native end - gap must equal custom last-event end")
  }

  test("heavyHittersStream: bounded state, true heavy hitter survives batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamingOps.HhEv]
    val sink = s"hh_${System.nanoTime()}"
    val q = StreamingOps.heavyHittersStream(in.toDS(), k = 8)
      .writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .option("checkpointLocation", freshCheckpoint("hh"))
      .start()
    try {
      // batch 1: 'alpha' dominates among 20 distinct noise words (> k)
      val b1 = Seq.fill(40)(StreamingOps.HhEv("s", "alpha")) ++
        (1 to 20).map(i => StreamingOps.HhEv("s", s"noise$i"))
      in.addData(b1: _*)
      q.processAllAvailable()
      // batch 2: more noise, alpha keeps flowing — state must carry over
      val b2 = Seq.fill(30)(StreamingOps.HhEv("s", "alpha")) ++
        (21 to 40).map(i => StreamingOps.HhEv("s", s"noise$i"))
      in.addData(b2: _*)
      q.processAllAvailable()
      val last = spark.table(sink).orderBy(col("n_seen").desc).head()
      assert(last.getLong(1) === (b1.size + b2.size).toLong)
      assert(last.getInt(2) <= 8, "candidate state must stay within k")
      assert(last.getString(3) === "alpha",
        "a key with freq > n/k must survive the MG state across batches")
      assert(last.getLong(4) <= 70L, "MG count is a lower bound")
    } finally q.stop()
  }

  test("admitStream labels arrivals exact/near/unique with zero streaming state") {
    implicit val sqlCtx = spark.sqlContext
    // corpus indexes, built batch-side: exact keys + bloom of span hashes
    val corpusKeys = Seq("key-a", "key-b").toDF("ck")
    val spanHashes = Seq(1001L, 1002L, 1003L).toDF("hs")
    val bf = spanHashes.stat.bloomFilter("hs", 1000, 0.001)
    val bytes = new java.io.ByteArrayOutputStream()
    bf.writeTo(bytes)
    val in = MemoryStream[(Long, String, Seq[Long])]
    val stream = in.toDF().toDF("doc_id", "ck", "hs")
    val sink = s"admit_${System.nanoTime()}"
    val q = StreamingOps.admitStream(stream, corpusKeys, bytes.toByteArray)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", freshCheckpoint("admit"))
      .start()
    try {
      in.addData(
        (1L, "key-a", Seq(5000L)),         // exact key match (span miss)
        (2L, "key-x", Seq(5000L, 1002L)),  // span overlap only
        (3L, "key-y", Seq(5000L, 6000L)),  // clean
        (4L, "key-b", Seq(1001L)))         // both tiers — exact wins
      q.processAllAvailable()
      val got = spark.table(sink)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(got == Map(1L -> "exact", 2L -> "near", 3L -> "unique", 4L -> "exact"),
        s"got $got")
    } finally q.stop()
  }

  test("routeStream lands each micro-batch in per-route Hive directories") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft-route-").toString + "/t"
    val q = StreamingOps.routeStream(
      in.toDF().toDF("id", "split"), "split", out, freshCheckpoint("route"))
    try {
      in.addData((1L, "train"), (2L, "val"))
      q.processAllAvailable()
      in.addData((3L, "train"))
      q.processAllAvailable()
      val back = spark.read.parquet(out)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(back === Map(1L -> "train", 2L -> "val", 3L -> "train"))
      assert(Files.exists(java.nio.file.Paths.get(out, "split=train")))
      assert(Files.exists(java.nio.file.Paths.get(out, "split=val")))
    } finally q.stop()
  }

  test("routeBatch replay with the same batch id is idempotent") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-route-replay-").toString + "/t"
    val b0 = Seq((1L, "train"), (2L, "val")).toDF("id", "split")
    StreamingOps.routeBatch(b0, 0L, "split", out)
    // crash-replay of batch 0 (foreachBatch is at-least-once): the second
    // write must REPLACE the first, not append a duplicate copy
    StreamingOps.routeBatch(b0, 0L, "split", out)
    val b1 = Seq((3L, "train")).toDF("id", "split")
    StreamingOps.routeBatch(b1, 1L, "split", out)
    val back = spark.read.parquet(out)
    assert(back.count() === 3)
    assert(back.select("id", "split").collect().map(r =>
      r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "train", 2L -> "val", 3L -> "train"))
  }

  test("ewmaStream carries integer EWMA state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.EwmaEv
    val in = MemoryStream[EwmaEv]
    val sink = s"ewma_${System.nanoTime()}"
    val q = StreamingOps.ewmaStream(in.toDS())
      .writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .option("checkpointLocation", freshCheckpoint("ewma"))
      .start()
    try {
      // batch 1: user 1 gets 100 then 200 → 100, then (300+200)/4 = 125
      in.addData(EwmaEv(1L, 1L, 100L), EwmaEv(1L, 2L, 200L), EwmaEv(2L, 1L, 40L))
      q.processAllAvailable()
      // batch 2: user 1 folds 300 onto CARRIED state 125 → (375+300)/4 = 168
      in.addData(EwmaEv(1L, 3L, 300L))
      q.processAllAvailable()
      val got = spark.table(sink)
        .groupBy(col("user_id"))
        .agg(max_by(col("ewma_cents"), col("n_events")).as("ewma"),
          max(col("n_events")).as("n"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == Map(1L -> ((168L, 3L)), 2L -> ((40L, 1L))), s"got $got")
      // bit-identical to the batch fold of the same rows in the same order
      val batch = Seq(100L, 200L, 300L).foldLeft(-1L)((a, v) =>
        if (a < 0) v else (a * 3 + v) / 4)
      assert(batch == 168L)
    } finally q.stop()
  }

  test("enrichStreamAsOf lands each event on its event-time dim version") {
    implicit val sqlCtx = spark.sqlContext
    // SCD2 dim: user 1 was "bronze" in [0, 100), "gold" from [100, ∞);
    // user 2 has one open version; user 3 is absent (left join → null)
    val dim = Seq(
      (1L, 0L, 100L, "bronze"),
      (1L, 100L, Long.MaxValue, "gold"),
      (2L, 0L, Long.MaxValue, "silver"))
      .toDF("user_id", "valid_from_us", "valid_to_us", "tier")
    val in = MemoryStream[(Long, Long)]
    val sink = s"asof_${System.nanoTime()}"
    val q = StreamingOps.enrichStreamAsOf(
      in.toDF().toDF("user_id", "ts_us"), dim, "user_id", "ts_us")
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", freshCheckpoint("asof"))
      .start()
    try {
      // one batch carries events BOTH sides of user 1's version boundary,
      // including the half-open edges: ts 99 → bronze, ts 100 → gold
      in.addData((1L, 50L), (1L, 99L), (1L, 100L), (1L, 150L), (2L, 7L), (3L, 1L))
      q.processAllAvailable()
      val got = spark.table(sink)
        .select(col("user_id"), col("ts_us"), col("tier"))
        .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getString(2)))
        .toSet
      assert(got == Set(
        (1L, 50L, "bronze"), (1L, 99L, "bronze"),
        (1L, 100L, "gold"), (1L, 150L, "gold"),
        (2L, 7L, "silver"), (3L, 1L, null)))
    } finally q.stop()
  }

  test("distinctStream carries the KMV sketch across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.{KmvEv, KmvOut}
    val k = 8
    val in = MemoryStream[KmvEv]
    val sink = s"kmv_${System.nanoTime()}"
    val q = StreamingOps.distinctStream(in.toDS(), k)
      .writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .option("checkpointLocation", freshCheckpoint("kmv"))
      .start()
    try {
      // batch 1: 3 distinct words for src a (below k → exact), repeats included
      in.addData(KmvEv("a", "x"), KmvEv("a", "y"), KmvEv("a", "x"), KmvEv("a", "z"),
        KmvEv("b", "q"))
      q.processAllAvailable()
      // batch 2: 40 more distinct for a — crosses the k boundary, so the
      // carried sketch must keep only the bottom-k hashes
      in.addData((1 to 40).map(i => KmvEv("a", s"w$i")): _*)
      q.processAllAvailable()
      val got = spark.table(sink).as[KmvOut].collect()
        .groupBy(_.source).view.mapValues(_.maxBy(_.n_seen)).toMap
      assert(got("b").est_distinct == 1L && got("b").n_seen == 1L)
      assert(got("a").n_seen == 44L)
      // bit-identical to the batch sketch folded over the same rows
      val agg = graft.operators.KmvSketch.KmvAgg(k)
      val words = Seq("x", "y", "x", "z") ++ (1 to 40).map(i => s"w$i")
      val sk = words.foldLeft(agg.zero)((b, w) => agg.reduce(b,
        graft.functions.Md5Hash48.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(w))))
      assert(got("a").est_distinct == graft.operators.KmvSketch.estimate(sk, k))
      // and the estimate is in the bottom-k error band around 43 distinct
      assert(got("a").est_distinct > 20L && got("a").est_distinct < 90L)
    } finally q.stop()
  }

  test("upsertStream: latest-seq-wins, tombstones survive, late updates ignored") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.{CdcEv, CdcOut}
    val in = MemoryStream[CdcEv]
    val sink = s"cdc_${System.nanoTime()}"
    val q = StreamingOps.upsertStream(in.toDS())
      .writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .option("checkpointLocation", freshCheckpoint("cdc"))
      .start()
    try {
      // batch 1: two inserts
      in.addData(CdcEv(1L, 0L, "I", 100L), CdcEv(2L, 0L, "I", 200L))
      q.processAllAvailable()
      // batch 2: k=1 gets seq-2 update THEN a late seq-1 update (must lose);
      // k=2 is deleted
      in.addData(CdcEv(1L, 2L, "U", 150L), CdcEv(1L, 1L, "U", 120L),
        CdcEv(2L, 1L, "D", 0L))
      q.processAllAvailable()
      // batch 3: a replayed (duplicate) delete and a stale k=2 update with a
      // LOWER seq than the tombstone — the tombstone must hold
      in.addData(CdcEv(2L, 1L, "D", 0L), CdcEv(2L, 0L, "U", 999L))
      q.processAllAvailable()
      val got = spark.table(sink).as[CdcOut].collect()
        .groupBy(_.k).view.mapValues(_.maxBy(_.seq)).toMap
      assert(got(1L) == CdcOut(1L, live = true, 2L, 150L), s"got ${got(1L)}")
      assert(got(2L) == CdcOut(2L, live = false, 1L, 0L), s"got ${got(2L)}")
    } finally q.stop()
  }

  test("windowedAgg append mode: too-late rows drop, counted in progress") {
    // the streaming twin of the batch late_data_audit: rows older than
    // the watermark are DROPPED (not silently merged), and the engine
    // attests every drop via numRowsDroppedByWatermark — the number that
    // validates a watermark width chosen from the batch census
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val sink = s"late_drop_${System.nanoTime()}"
    val q = StreamingOps.windowedAgg(df, "ts", "10 seconds", "10 seconds")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", freshCheckpoint("latedrop"))
      .start()
    try {
      // batch 1 advances the watermark to 40 − 10 = 30
      in.addData((ts(5), "view", 1.0), (ts(40), "view", 2.0))
      q.processAllAvailable()
      // batch 2: ts=3 is BELOW the watermark → must be dropped; ts=41 lives
      in.addData((ts(3), "view", 4.0), (ts(41), "view", 8.0))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark))
        .sum
      assert(dropped === 1L,
        s"exactly the one too-late row must be dropped, got $dropped")
      // and the [0,10) window, already emitted/closed, never absorbs ts=3:
      // its count stays what batch 1 produced once it finalizes
      in.addData((ts(60), "view", 1.0)) // push the watermark past 40
      q.processAllAvailable()
      val w0 = spark.table(sink)
        .where(col("window_start") === ts(0)).collect()
      assert(w0.forall(_.getLong(2) == 1L),
        s"the closed [0,10) window must hold only the on-time row: ${w0.toSeq}")
    } finally q.stop()
  }

  test("ingestPackStream chains admit → dedup → pack under one checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    def bucketOf(id: Long): Int =
      (graft.functions.Md5Hash48.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(id.toString))
        % 32).toInt
    // three ids sharing ONE bucket (the shard-advance probe) and two ids
    // sharing a DIFFERENT bucket (the duplicate pair — same bucket either
    // way, so whichever copy survives dedup packs identically)
    val Seq(d1, d2, d3) =
      (1L to 2000L).filter(bucketOf(_) == bucketOf(1L)).take(3).toSeq
    val Seq(x1, x2) = (1L to 2000L)
      .filter(id => bucketOf(id) != bucketOf(1L) &&
        bucketOf(id) == bucketOf((1L to 2000L)
          .find(bucketOf(_) != bucketOf(1L)).get)).take(2).toSeq
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val in = MemoryStream[(Long, String, Timestamp)]
    val df = in.toDF().toDF("doc_id", "text", "ts")
    val sink = s"ingest_pack_${System.nanoTime()}"
    val q = StreamingOps.ingestPackStream(df, "ts", "10 minutes")
      .writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation", freshCheckpoint("ingest"))
      .start()
    try {
      val dupText = words("dup", 20)
      // batch 1: two 1200-token docs in the probe bucket; a duplicate text
      // pair; a 3-token doc that must fail admission
      in.addData((d1, words("a", 1200), ts(1)), (d2, words("b", 1200), ts(2)),
        (x1, dupText, ts(3)), (x2, dupText, ts(4)), (999999L, "too short doc", ts(5)))
      q.processAllAvailable()
      val out1 = spark.table(sink)
        .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
      assert(!out1.contains(999999L), "inadmissible doc must be dropped")
      assert(out1.keySet.count(Set(x1, x2)) === 1,
        s"exactly one of the duplicate pair survives: ${out1.keySet}")
      assert(out1(d1)._2 === 0L && out1(d2)._2 === 0L,
        "first 2400 tokens of the bucket fit in shard 0")
      // batch 2: a replay of the duplicate text (must be suppressed by the
      // CARRIED dedup state) and a third probe-bucket doc whose cumulative
      // start (2400) crosses the 2048-token budget → shard 1, proving the
      // packing state also carried across the micro-batch boundary
      in.addData((777777L, dupText, ts(10)), (d3, words("c", 100), ts(11)))
      q.processAllAvailable()
      val out2 = spark.table(sink)
        .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getLong(3))).toMap
      assert(!out2.contains(777777L), "cross-batch duplicate must be dropped")
      assert(out2(d3)._1 === out2(d1)._1, "probe docs share a bucket")
      assert(out2(d3)._2 === 1L,
        s"carried cum=2400 puts the third doc in shard 1: ${out2(d3)}")
      assert(out2.size === out1.size + 1)
    } finally q.stop()
  }
}
