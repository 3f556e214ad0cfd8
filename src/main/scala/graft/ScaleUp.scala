package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus scale-up: derive an sf1-shaped corpus from the driver's sf0.1
  * parquet by replicating every fact table `factor`× with disjoint,
  * join-consistent key spaces — so the scaling-exponent bench
  * ([[ScaleBench]]) has a 10× data point to measure instead of
  * extrapolating "the plan would hold at scale" from sf0.1 alone.
  *
  * `runMain graft.ScaleUp [srcDir] [outDir] [factor]`
  * (defaults: /root/testdata/sf0.1 → target/sf1 × 10)
  *
  * Design choices, per table family:
  *   - **Dimensions stay fixed** (`region`, `nation`): real corpora grow
  *     facts, not the nation list. Key-bearing entities (`customer`,
  *     `supplier`, `part`, `orders`, `lineitem`, `events`, `documents`,
  *     `embeddings`) replicate with every key column offset by
  *     `replica · STRIDE` — the SAME stride on both sides of every join
  *     key (o_orderkey/l_orderkey, o_custkey/c_custkey, …), so referential
  *     integrity holds and each replica is a disjoint, structurally
  *     faithful shard of the original.
  *   - **Document text is perturbed, not copied**: replica 0 is verbatim;
  *     replicas r>0 rewrite ≈1/4 of tokens to a replica-salted variant
  *     (deterministic murmur3 on (token, r)). Exact copies would make
  *     every doc a member of a 10-wide duplicate clique — near-dup join
  *     output would grow by construction rather than by data scale —
  *     while fully disjoint vocabularies would keep every shingle's
  *     absolute df constant, the best case for an inverted index. The 3/4
  *     retention keeps the vocabulary shared (common-shingle df grows
  *     ~linearly with the corpus, exactly the growth a df-cap / prefix
  *     filter must absorb at 100 TB) without manufacturing exact dups.
  *   - **Embeddings are jittered** (±0.01 per component, deterministic in
  *     (vec_id, i, r)) so ANN structure is preserved — each replica's
  *     vectors form clusters in the same regions — without 10 identical
  *     copies of every point collapsing top-k neighborhoods to ties.
  *
  * Everything here is bench infrastructure: the scaled corpus feeds
  * [[ScaleBench]] only and is never an oracle input, so Spark-internal
  * `hash()` (not the portable oracle-twin hash) is fine for the salts.
  */
object ScaleUp {
  /** Per-replica key offset: far above any sf0.1 key (< ~10^7), far below
    * Long overflow at factor ≤ ~10^9.
    */
  val Stride: Long = 1L << 33

  private def replicate(df: DataFrame, factor: Int, keyCols: Seq[String],
                        extra: (DataFrame, Column) => DataFrame = (d, _) => d): DataFrame = {
    val reps = df.sparkSession.range(factor.toLong).select(col("id").as("__rep"))
    val crossed = df.crossJoin(broadcast(reps))
    val keyed = keyCols.foldLeft(crossed) { (d, k) =>
      d.withColumn(k, col(k) + col("__rep") * lit(Stride))
    }
    extra(keyed, col("__rep")).drop("__rep")
  }

  /** ≈1/4 of tokens replica-salted; replica 0 verbatim (column-identical
    * to the source text so sf1 ⊃ sf0.1 semantically).
    */
  private def perturbText(text: Column, rep: Column): Column = {
    val toks = split(text, " ")
    val rewritten = transform(toks, w =>
      when(pmod(hash(w, rep), lit(4)) === 0, concat(w, lit("q"), rep.cast("string")))
        .otherwise(w))
    when(rep === 0, text).otherwise(concat_ws(" ", rewritten))
  }

  /** Deterministic ±0.01 per-component jitter for replicas > 0. */
  private def jitterVec(vec: Column, id: Column, rep: Column): Column = {
    val j = transform(vec, (x, i) =>
      (x + (pmod(hash(id, i, rep), lit(1000)).cast("float") / lit(1000.0f) - lit(0.5f))
        * lit(0.02f)).cast("float"))
    when(rep === 0, vec).otherwise(j)
  }

  def scaleAll(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      // one file per ~32 tasks of output keeps downstream scan splits sane
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] wrote $t")
    }

    write(read("region"), "region")
    write(read("nation"), "nation")
    // c_name gets a per-replica suffix: the typo-join (FastSS on names)
    // would otherwise see every name as a 10-wide exact-dup clique and
    // its candidate volume would grow quadratically by construction;
    // suffixed replicas keep within-replica edit structure intact while
    // staying >1 edit apart cross-replica — the shape of genuinely new
    // customers
    write(replicate(read("customer"), factor, Seq("c_custkey"),
      (d, rep) => d.withColumn("c_name",
        when(rep === 0, col("c_name"))
          .otherwise(concat(col("c_name"), lit("x"), rep.cast("string"))))),
      "customer")
    write(replicate(read("supplier"), factor, Seq("s_suppkey")), "supplier")
    write(replicate(read("part"), factor, Seq("p_partkey")), "part")
    write(replicate(read("orders"), factor, Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(read("lineitem"), factor,
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(read("events"), factor, Seq("event_id", "user_id")), "events")
    write(replicate(read("documents"), factor, Seq("doc_id"),
      (d, rep) => d.withColumn("text", perturbText(col("text"), rep))
        .withColumn("n_chars", length(col("text")).cast("long"))), "documents")
    write(replicate(read("embeddings"), factor, Seq("vec_id"),
      (d, rep) => d.withColumn("embedding",
        jitterVec(col("embedding"), col("vec_id"), rep))), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Measure.session()
    scaleAll(spark, src, out, factor)
    spark.stop()
  }
}
