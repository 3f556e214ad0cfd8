package graft.core

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory: every entry point (Verify, Bench, tests)
  * builds through here so configuration is uniform.
  *
  * Settings are chosen to be correct on a real multi-executor cluster, not
  * just `local[n]`:
  *   - AQE on (runtime coalescing + skew-join splitting) — the Spark-native
  *     replacement for the reference's hand-tuned reduce counts
  *     (reference: mapred/JobConf.java setNumReduceTasks) and its lack of
  *     any skew handling.
  *   - `nanosAsLong`: the corpus' `events.ts` column is parquet
  *     TIMESTAMP(NANOS), which Spark cannot represent natively; we read it
  *     as a nanosecond epoch LongType and do time arithmetic in the engine
  *     (see [[Tables.events]]).
  *   - TIMESTAMP_MICROS parquet output so written results round-trip
  *     losslessly into other engines (no INT96 legacy type).
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      // engine-native Catalyst extensions (SURVEY §4): three custom codegen
      // Expressions (fused portable hash md5_hash48; integer dot product
      // dot_q; vector quantization quantize_q) plus a SQL registration for
      // Spark's own BloomFilterMightContain probe
      .withExtensions { ext =>
        ext.injectFunction(graft.functions.Md5Hash48.registration)
        ext.injectFunction(graft.functions.BloomProbe.registration)
        ext.injectFunction(graft.functions.DotQ.registration)
        ext.injectFunction(graft.functions.QuantizeQ.registration)
        ext.injectFunction(graft.functions.IntersectCountQ.registration)
      }
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // push wide literal In filters (up to Bm25Store.MaxPruneTerms) into
      // the parquet reader as exact value sets rather than degrading to a
      // min/max range: the stored-index serving path depends on In
      // row-group pruning over the term-sorted postings artifact
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      // RocksDB as the DEFAULT state-store provider. The default
      // HDFS-backed provider keeps every version of every key on the JVM
      // heap, and the round-13 per-attempt cause fields adjudicated the
      // wide bands on the two state-heaviest streaming probes as exactly
      // that commit-path heap pressure (state_ms 146–240 s on slow
      // attempts); the round-13 RocksDB A/B re-ran the same probes under
      // this provider and held tight bands both runs (+45% on
      // keyed_sketch under pressure). Off-heap state is also the only
      // sane choice at production state sizes.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing: a commit writes one changelog file of the
      // batch's puts and deletes per store instead of flushing the
      // memtables and uploading a snapshot. Commits were the streaming
      // cost: in a traced run of the benchmark's stream_state workload
      // (4 cores), state commits took 62 s of 82 s executor task time
      // against 3 s of task CPU. Durability is unchanged: the changelog is
      // in the checkpoint before the batch commits, and recovery replays
      // the changelogs on top of the latest snapshot, which is taken every
      // `minDeltasForSnapshot` versions and uploaded by the maintenance
      // thread.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // Stream-stream joins keep their four state tables (key → count and
      // key-with-index → value, per side) as virtual column families of ONE
      // store per partition instead of four stores, so a join micro-batch
      // pays one store commit per shuffle partition, not four. Format 3
      // exists only for the RocksDB provider above, and it binds per query
      // at its first start (a checkpoint keeps the format it was written
      // with).
      .config("spark.sql.streaming.join.stateFormatVersion", "3")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Session for tests / ad-hoc mains. */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
