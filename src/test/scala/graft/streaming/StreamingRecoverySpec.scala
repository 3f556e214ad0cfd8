package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** Restart recovery of the stateful operators under changelog
  * checkpointing: a query stopped after some micro-batches and restarted
  * from the same checkpoint must leave the same sink as one uninterrupted
  * run over the same input files.
  *
  * With changelog checkpointing, a restarted store rebuilds its state by
  * loading the latest uploaded snapshot and replaying the changelogs
  * written after it. The spec arranges that the stop lands between
  * snapshots: snapshots every 2 versions, uploaded by the maintenance
  * thread on the test session's short interval ([[graft.TestSession]]),
  * one state version per input file (no-data micro-batches off), and the
  * first run stopped at version 3, after the version-2 snapshot is
  * uploaded. The restart therefore replays a changelog on top of a
  * snapshot.
  */
class StreamingRecoverySpec extends SparkSpec with BeforeAndAfterAll {

  private val settings = Seq(
    "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> "2",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
  private val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }

  private val root = Files.createTempDirectory("graft-recovery-")

  override def beforeAll(): Unit = {
    super.beforeAll()
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  override def afterAll(): Unit = {
    saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // quietly: the maintenance thread may still be writing into a
    // stopped query's checkpoint
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit
    super.afterAll()
  }

  private val Inputs = 6
  private val StopAfter = 3
  private val t0 = Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  private def ts(ms: Long): String = Instant.ofEpochMilli(t0 + ms).toString

  /** Input `i` of a source: JSON lines, one file per micro-batch. */
  private type Source = Int => Seq[String]

  /** Write inputs `files` of every source into its directory, with
    * modification times in input order (the file source reads oldest
    * first).
    */
  private def place(dirs: Seq[Path], sources: Seq[Source], files: Range): Unit =
    for ((dir, src) <- dirs.zip(sources); i <- files) {
      val f = dir.resolve(f"in-$i%02d.json")
      Files.write(f, src(i).asJava, StandardCharsets.UTF_8)
      f.toFile.setLastModified(System.currentTimeMillis() - 3600000L + i * 1000L): Unit
    }

  private def start(build: Seq[String] => DataFrame, dirs: Seq[Path],
                    out: Path, ckpt: Path) =
    build(dirs.map(_.toString)).writeStream.format("parquet")
      .outputMode("append")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()

  private def stateFiles(ckpt: Path, suffix: String): Seq[Path] = {
    val state = ckpt.resolve("state")
    if (!Files.exists(state)) Seq.empty
    else Files.walk(state).iterator().asScala
      .filter(_.getFileName.toString.endsWith(suffix)).toSeq
  }

  private def version(p: Path): Long =
    p.getFileName.toString.takeWhile(_.isDigit).toLong

  private def sink(out: Path): Seq[String] =
    spark.read.parquet(out.toString).collect().map(_.mkString("|")).toSeq.sorted

  /** Sink of a run stopped after [[StopAfter]] inputs and restarted from
    * its checkpoint, next to the sink of one uninterrupted run.
    */
  private def interruptedAndWhole(tag: String, sources: Seq[Source])(
      build: Seq[String] => DataFrame): (Seq[String], Seq[String]) = {
    def dirs(run: String) = sources.indices.map(j =>
      Files.createDirectories(root.resolve(s"$tag-$run-in$j")))

    val cut = dirs("cut")
    val (cutOut, cutCkpt) = (root.resolve(s"$tag-cut-out"), root.resolve(s"$tag-cut-ckpt"))
    place(cut, sources, 0 until StopAfter)
    val q1 = start(build, cut, cutOut, cutCkpt)
    try {
      q1.processAllAvailable()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (stateFiles(cutCkpt, ".zip").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally q1.stop()
    val snapshots = stateFiles(cutCkpt, ".zip").map(version)
    val changelogs = stateFiles(cutCkpt, ".changelog").map(version)
    assert(snapshots.nonEmpty, s"$tag: no snapshot uploaded before the stop")
    assert(changelogs.exists(_ > snapshots.min),
      s"$tag: the restart must replay a changelog past a snapshot " +
        s"(snapshots $snapshots, changelogs $changelogs)")
    place(cut, sources, StopAfter until Inputs)
    val q2 = start(build, cut, cutOut, cutCkpt)
    try q2.processAllAvailable() finally q2.stop()

    val whole = dirs("whole")
    val wholeOut = root.resolve(s"$tag-whole-out")
    place(whole, sources, 0 until Inputs)
    val q = start(build, whole, wholeOut, root.resolve(s"$tag-whole-ckpt"))
    try q.processAllAvailable() finally q.stop()
    (sink(cutOut), sink(wholeOut))
  }

  private def json(source: String)(dir: String): DataFrame =
    spark.readStream.schema(source).option("maxFilesPerTrigger", 1).json(dir)

  test("windowedAgg: a restarted query's sink equals an uninterrupted run") {
    val events: Source = i => {
      val r = new scala.util.Random(100 + i)
      (0 until 20).map { _ =>
        s"""{"ts":"${ts(i * 10000L + r.nextInt(10000))}",""" +
          s""""event_type":"${Seq("view", "click", "buy")(r.nextInt(3))}",""" +
          s""""value":${r.nextInt(100)}.0}"""
      }
    }
    val (cut, whole) = interruptedAndWhole("win", Seq(events)) { dirs =>
      StreamingOps.windowedAgg(
        json("ts TIMESTAMP, event_type STRING, value DOUBLE")(dirs.head),
        "ts", "5 seconds", "5 seconds")
    }
    assert(whole.size >= 20, s"too few closed windows to compare: ${whole.size}")
    assert(cut == whole)
  }

  test("streamJoin: a restarted query's sink equals an uninterrupted run") {
    def side(seed: Int, payload: Boolean): Source = i => {
      val r = new scala.util.Random(seed + i)
      (0 until 12).map { j =>
        s"""{"k":${r.nextInt(4)},"t":"${ts(i * 10000L + r.nextInt(10000))}"""" +
          (if (payload) s""","payload":${i * 100 + j}}""" else "}")
      }
    }
    val (cut, whole) = interruptedAndWhole("join",
        Seq(side(200, payload = false), side(300, payload = true))) { dirs =>
      val l = json("k LONG, t TIMESTAMP")(dirs(0)).toDF("k", "lts")
      val r = json("k LONG, t TIMESTAMP, payload LONG")(dirs(1)).toDF("k", "rts", "payload")
      StreamingOps.streamJoin(l, r, "k", "lts", "rts", "5 seconds", bandSeconds = 2)
        .toDF("k", "lts", "rk", "rts", "payload").drop("rk")
    }
    assert(whole.size >= 20, s"too few matches to compare: ${whole.size}")
    assert(cut == whole)
  }

  test("ingestPackStream: a restarted query's sink equals an uninterrupted run") {
    // 40 distinct texts over 60 docs: later inputs repeat earlier texts, so
    // the restarted dedup state must suppress them, and the pack state
    // must continue each bucket's cumulative token count
    val docs: Source = i => {
      val r = new scala.util.Random(400 + i)
      (0 until 10).map { j =>
        val t = r.nextInt(40)
        val text = (0 until 10 + t).map(w => s"t${t}w$w").mkString(" ")
        s"""{"doc_id":${i * 100 + j},"text":"$text","ts":"${ts(i * 10000L + j * 1000L)}"}"""
      }
    }
    val (cut, whole) = interruptedAndWhole("pack", Seq(docs)) { dirs =>
      StreamingOps.ingestPackStream(
        json("doc_id LONG, text STRING, ts TIMESTAMP")(dirs.head), "ts", "10 minutes")
        .toDF()
    }
    assert(whole.size >= 25, s"too few admitted docs to compare: ${whole.size}")
    assert(cut == whole)
  }
}
