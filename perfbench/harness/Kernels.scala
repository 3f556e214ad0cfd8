package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, expr, lit, sum}
import org.apache.spark.storage.StorageLevel

/** Fixed-work kernels timed outside the workload's own queries. */
object Kernels {
  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** The engine's SQL functions on generated rows, in ns per row: each
    * input frame is cached first, then one warm and three timed noop-sink
    * projections of the function; the median is reported.
    */
  def functions(spark: SparkSession, cpus: Int): Map[String, Double] = {
    val n = 1L << 19
    def perRow(in: DataFrame, f: Column): Double = {
      val cached = in.persist(StorageLevel.MEMORY_ONLY)
      noop(cached)
      val q = cached.select(f.as("r"))
      noop(q)
      val s = median(Seq.fill(3)(timed(noop(q))))
      cached.unpersist(blocking = true)
      s * 1e9 / n
    }
    val ids = spark.range(0, n, 1, cpus)
    val bloom = {
      val out = new java.io.ByteArrayOutputStream()
      ids.stat.bloomFilter("id", n, 0.03).writeTo(out)
      out.toByteArray
    }
    Map(
      "functions.md5_hash48_ns" -> perRow(ids.selectExpr("cast(id AS string) AS s"),
        call_function("md5_hash48", col("s"))),
      "functions.dot_q_ns" -> perRow(
        ids.select(expr("transform(sequence(1, 64), i -> id * i)").as("a")),
        call_function("dot_q", col("a"), col("a"))),
      "functions.quantize_q_ns" -> perRow(
        ids.select(expr("transform(sequence(1, 64), i -> CAST(sin(id * i) AS FLOAT))").as("v")),
        call_function("quantize_q", col("v"))),
      "functions.intersect_count_q_ns" -> perRow(
        ids.select(
          expr("transform(sequence(1, 48), i -> xxhash64(id * 48 + i))").as("sa"),
          expr("transform(sequence(1, 48), i -> xxhash64(id * 48 + i + 24))").as("sb")),
        call_function("intersect_count_q", col("sa"), col("sb"))),
      "functions.bloom_probe_ns" -> perRow(ids.selectExpr("id * 2 AS id"),
        call_function("bloom_might_contain", lit(bloom), col("id"))))
  }

  /** `graft.Bench`'s calibration kernels at one eighth of its row counts:
    * a cpu leg (xxhash64 over a literal range) and an io leg (a 1024-group
    * shuffle aggregate plus a filtered scan of a parquet table written
    * untimed). Each leg runs once warm, then once timed.
    */
  def calibration(spark: SparkSession, cpus: Int, scanDir: String): Map[String, Double] = {
    def cpuLeg(): Unit = noop(spark.range(0, 1L << 28, 1, cpus)
      .selectExpr("xxhash64(id) AS h").selectExpr("bit_xor(h) AS s"))
    def ioLeg(): Unit = {
      noop(spark.range(0, 1L << 21, 1, cpus).selectExpr("id % 1024 AS k", "id")
        .groupBy("k").agg(sum("id")))
      noop(spark.read.parquet(scanDir).where("pmod(h, 7) = 0").groupBy("s").agg(sum("id")))
    }
    spark.range(0, 1L << 20, 1, cpus)
      .selectExpr("id", "xxhash64(id) AS h", "cast(id % 997 AS string) AS s")
      .write.mode("overwrite").parquet(scanDir)
    cpuLeg(); ioLeg()
    Map("cpu_s" -> timed(cpuLeg()), "io_s" -> timed(ioLeg()))
  }
}
