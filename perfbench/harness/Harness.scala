package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.QueryDef
import graft.core.{GraftSession, Shared, Tables}

/** JVM side of the benchmark: one workload, one closed loop driven from a
  * single thread, timing each query through the engine's public entry
  * points (`QueryDef.fn`, then a noop-sink write).
  *
  * `perfbench/run.py` chooses the queries, generates the corpus and checks
  * the results against the DuckDB oracle; this program only executes and
  * times. Arguments are `--key value` pairs:
  *   - `corpus`: the corpus directory;
  *   - `stream_input`: the directory of the stream queries' input files;
  *   - `queries`: catalog names (or [[Streams.names]]) in execution order;
  *   - `mode`: `loop` (an untimed
  *     warm-up pass, then timed passes until `seconds` have passed, at
  *     least two; the `Shared` memo is cleared before every pass) or
  *     `once` (one timed pass of first executions in this JVM; traced runs
  *     add an untraced and a traced pass for the tracing overhead);
  *   - `trace`: 1 attaches the listeners to some passes and reports
  *     per-layer metrics;
  *   - `seconds`, `cpus`: the timed loop's length and `local[cpus]`;
  *   - `run_dir`: this run's own directory (warehouse, spans, scratch);
  *   - `results`: directory for each query's result parquet;
  *   - `out`: the JSON record this program writes.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("corpus")
    val names = opt("queries").split(',').toSeq
    val mode = opt("mode")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val runDir = opt("run_dir")

    val defs: Map[String, QueryDef] =
      graft.SparkEntry.modules.flatMap(_.defs).map(d => d.name -> d).toMap
    val unknown = names.filterNot(q => defs.contains(q) || Streams.names.contains(q))
    require(unknown.isEmpty, s"unknown catalog queries: ${unknown.mkString(",")}")

    // ---- set-up: session, warm-up query, stored artifacts. It ends where
    // the workload's first query is submitted; run.py times it from the
    // JVM's launch to `ready_ms`.
    val s0 = System.nanoTime()
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    noop(graft.catalog.Analytics.q1Agg(spark, dir))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach(Tables.table(spark, dir, _))
    Tables.events(spark, dir)
    val readyMs = System.currentTimeMillis()
    val trace = new Trace(spark)

    // ---- timed passes --------------------------------------------------------
    val execs = Seq.newBuilder[Exec]
    val passWalls = Seq.newBuilder[(Int, Boolean, Double, Double)]
    val layers = Seq.newBuilder[Map[String, Double]]
    val spans = Seq.newBuilder[Map[String, Any]]
    val lastDf = scala.collection.mutable.Map.empty[String, DataFrame]
    val streamRuns = Seq.newBuilder[Map[String, Any]]
    val lastSink = scala.collection.mutable.Map.empty[String, String]

    /** One execution of query q: build its frame, then run it to the end. */
    def execute(q: String, p: Int): (Long, Long) = {
      val t0 = System.nanoTime()
      if (Streams.names.contains(q)) {
        val df = Streams.build(spark, q, opt("stream_input"))
        val built = (System.nanoTime() - t0, System.currentTimeMillis())
        val sink = s"$runDir/stream/$q-$p"
        val r = Streams.run(df, sink, s"$runDir/checkpoint/$q-$p")
        lastSink(q) = sink
        if (p >= 0) streamRuns += Map("query" -> q, "pass" -> p, "batch_s" -> r.batchS,
          "rows" -> r.rows, "watermark" -> r.watermark.orNull)
        built
      } else {
        val df = defs(q).fn(spark, dir)
        val built = (System.nanoTime() - t0, System.currentTimeMillis())
        noop(df)
        lastDf(q) = df
        built
      }
    }

    def pass(p: Int, tracePass: Boolean): Seq[Exec] = {
      if (mode == "loop") Shared.clear()
      System.gc()
      Shared.drainBuilds()
      if (tracePass) trace.beginPass()
      val c0 = processCpuNs()
      val w0 = System.nanoTime()
      val done = names.map { q =>
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var buildEndMs = startMs
        var buildNs = 0L
        val err = try {
          val (ns, ms) = execute(q, p)
          buildNs = ns
          buildEndMs = ms
          None
        } catch {
          case e: Throwable =>
            lastDf.remove(q)
            lastSink.remove(q)
            Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        Exec(q, p, tracePass, startMs, buildEndMs, System.currentTimeMillis(),
          buildNs, System.nanoTime() - t0, err)
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (processCpuNs() - c0) / 1e9
      val builds = Shared.drainBuilds()
      if (tracePass) {
        val (m, s) = trace.endPass(done, wall, cpus, builds)
        layers += m
        spans ++= s
      }
      if (p >= 0) { execs ++= done; passWalls += ((p, tracePass, wall, cpu)) }
      done
    }

    val loopStart = System.nanoTime()
    mode match {
      case "loop" =>
        pass(-1, tracePass = false) // untimed warm-up
        // At least two timed passes (the first is often still warming
        // up, so wall_s, their median, is their mean). Traced runs order
        // their passes untraced, traced, traced, untraced (repeating), so a
        // drift across passes cancels out of the tracing overhead.
        val minPasses = if (traced) 4 else 2
        var p = 0
        val t0 = System.nanoTime()
        while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
          pass(p, tracePass = traced && (p % 4 == 1 || p % 4 == 2))
          p += 1
        }
      case "once" =>
        pass(0, tracePass = traced)
        // for the tracing overhead: the same queries twice more
        if (traced) (1 to 2).foreach(p => pass(p, tracePass = p == 2))
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9

    // retained heap: what the timed passes left reachable. Blocks of frames
    // that became unreachable are freed by Spark's cleaner thread only after
    // a collection finds them, so the lowest of three collections counts.
    val retainedMb = Seq.fill(3) {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    // ---- results for the oracle check: the frame of each query's last
    // timed execution, written as one parquet file (a stream query's last
    // sink is moved there); the writes run side by side, as nothing times
    // them
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    Files.createDirectories(Paths.get(opt("results")))
    lastSink.foreach { case (q, sink) =>
      Files.move(Paths.get(sink), Paths.get(s"${opt("results")}/$q")) }
    val verifyErrors = try {
      names.flatMap(q => lastDf.get(q).map { df =>
        q -> pool.submit { () =>
          try {
            graft.catalog.SchemaGuard.assertScalar(q, df)
            df.coalesce(1).write.mode("overwrite").parquet(s"${opt("results")}/$q")
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        }
      }).flatMap { case (q, f) => f.get().map(q -> _) }.toMap
    } finally pool.shutdown()

    val verifyS = (System.nanoTime() - loopStart) / 1e9 - loopS
    val functions = if (traced) Kernels.functions(spark, cpus) else Map.empty[String, Double]
    val calibration = Kernels.calibration(spark, cpus, s"$runDir/calib-scan")

    val record = Map[String, Any](
      "ready_ms" -> readyMs,
      "session_s" -> sessionS,
      "loop_s" -> loopS,
      "verify_s" -> verifyS,
      "kernels_s" -> ((System.nanoTime() - loopStart) / 1e9 - loopS - verifyS),
      "passes" -> passWalls.result().map { case (p, t, w, c) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> w, "cpu_s" -> c) },
      "execs" -> execs.result().map(e => Map(
        "query" -> e.query, "pass" -> e.pass, "traced" -> e.traced,
        "seconds" -> e.seconds, "build_s" -> e.buildNs / 1e9,
        "error" -> e.error.orNull)),
      "layers" -> layers.result(),
      "stream_runs" -> streamRuns.result(),
      "functions" -> functions,
      "retained_heap_mb" -> retainedMb,
      "verify_errors" -> verifyErrors,
      "oracle" -> names.map(q => q -> defs.get(q).flatMap(_.oracle).orNull).toMap,
      "calibration" -> calibration,
      "env" -> Map(
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "cpus" -> cpus))
    if (traced) {
      val out = new java.io.PrintWriter(s"$runDir/spans.jsonl")
      try spans.result().foreach(s => out.println(mapper.writeValueAsString(s)))
      finally out.close()
    }
    Files.writeString(Paths.get(opt("out")), mapper.writeValueAsString(record))
    exit()
  }

  /** Ends the JVM once its record is written, without `spark.stop()`: after
    * stream queries, stopping the session unloads every state store and
    * takes about 17 s, which no metric measures. run.py removes the run's
    * directories.
    */
  private def exit(): Unit = {
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
