package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.StreamingOps

/** The stream_state queries: the engine's stateful streaming operators on a
  * parquet file source read one file per micro-batch, so every micro-batch
  * holds the same fixed number of rows. Each query runs to the end of its
  * input (`Trigger.AvailableNow`) into a parquet sink, under the session's
  * state store (RocksDB, set by `GraftSession`).
  */
object Streams {
  val names: Seq[String] = Seq("stream_window_agg", "stream_band_join", "stream_ingest_pack")

  /** What one streaming execution leaves for the record: the micro-batches
    * that read input, and the last event-time watermark it used.
    */
  final case class Run(batchS: Seq[Double], rows: Long, watermark: Option[String])

  private def source(spark: SparkSession, input: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(input).schema)
      .option("maxFilesPerTrigger", 1).parquet(input)

  /** The streaming frame of query `name` (the part timed as `catalog.build`). */
  def build(spark: SparkSession, name: String, input: String): DataFrame = name match {
    case "stream_window_agg" =>
      StreamingOps.windowedAgg(
        source(spark, input).select(col("ts"), col("event_type"), col("amount").as("value")),
        "ts", "1 second", "5 seconds")
    case "stream_band_join" =>
      val l = source(spark, input).select(col("value").as("k"), col("ts").as("lts"))
      val r = source(spark, input).select(col("value").as("k"), col("rts"), col("payload"))
      StreamingOps.streamJoin(l, r, "k", "lts", "rts", watermark = "5 seconds", bandSeconds = 1)
        .toDF("k", "lts", "rk", "rts", "payload").drop("rk")
    case "stream_ingest_pack" =>
      StreamingOps.ingestPackStream(
        source(spark, input).select(col("value").as("doc_id"), col("text"), col("ts")),
        "ts", "10 seconds").toDF()
  }

  /** Run the frame to the end of its input into a parquet sink at `out`. */
  def run(df: DataFrame, out: String, checkpoint: String): Run = {
    val q = df.writeStream.format("parquet").outputMode("append")
      .option("path", out).option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val data = q.recentProgress.filter(_.numInputRows > 0).toSeq
    Run(data.map(_.batchDuration / 1e3), data.map(_.numInputRows).sum,
      q.recentProgress.flatMap(p => Option(p.eventTime.get("watermark"))).maxOption)
  }

  /** `StreamingQueryProgress` of the traced passes, folded into the
    * streaming layer's metrics.
    */
  final class Listener extends StreamingQueryListener {
    private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    def clear(): Unit = progress.clear()

    def metrics(): Map[String, Double] = {
      val ps = progress.asScala.toSeq
      def ms(p: StreamingQueryProgress, k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      // state held at the end of each query execution: its last progress
      val last = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
      Map(
        "streaming.add_batch_s" -> ps.map(ms(_, "addBatch")).sum / 1e3,
        "streaming.state_commit_s" -> ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum / 1e3,
        "streaming.wal_commit_s" -> ps.map(p => ms(p, "walCommit") + ms(p, "commitOffsets")).sum / 1e3,
        "streaming.state_rows" -> last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
        "streaming.state_mb" ->
          last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum / (1024.0 * 1024.0))
    }
  }
}
