package graft.catalog

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Bfs, HeavyHitters}

class AlgorithmsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  import spark.implicits._

  test("bfs: hand graph — min-hop distances, unreachable nodes absent") {
    // 1-2, 2-3, 3-4, 1-3 (shortcut), 9-10 (disconnected)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 10L))
      .toDF("u", "v")
    val got = Bfs.hopsFrom(edges, src = 1L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("bfs: coverage exit never changes the distances") {
    val island = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 10L))
      .toDF("u", "v")
    def run(edges: org.apache.spark.sql.DataFrame): (Int, Map[Long, Int]) = {
      val adj = Bfs.undirected(edges)
      try {
        val h = adj.hopsFrom(1L, maxHops = 5)
        (h.rounds, h.toDF.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
      } finally adj.unpersist()
    }
    // 6 edge-bearing vertices; the 9-10 component is unreachable, so
    // coverage is never hit and the exit stays dormant: the loop stops only
    // when round 3 finds nothing new
    val (dormantRounds, dormant) = run(island)
    assert(dormantRounds === 3)
    assert(dormant === Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
    // fully covered connected graph: every vertex is visited after round 2,
    // so the exit skips round 3 and the distance map is the same
    val (coveredRounds, covered) = run(island.where($"u" =!= 9L))
    assert(coveredRounds === 2)
    assert(covered === dormant)
  }

  test("bfs_hops: sf0.001 closure matches the recursive-CTE oracle shape") {
    val rows = Algorithms.bfsHops(spark, dir).collect()
    assert(rows.length === 200)
    assert(rows.map(_.getInt(1)).sum === 301)
    assert(rows.map(_.getInt(1)).max === 2)
  }

  test("heavy hitters: exact and partitioning-independent") {
    val words = Seq.fill(400)("alpha") ++ Seq.fill(120)("beta") ++
      (1 to 300).map(i => s"rare$i") ++ Seq.fill(5)("gamma")
    // N = 825; support 1/100 → θ = 8.25 → alpha, beta qualify; gamma (5) not
    for (parts <- Seq(1, 7)) {
      val df = spark.sparkContext.parallelize(words, parts).toDF("word")
      val got = HeavyHitters.frequent(df, supportDenom = 100, k = 128)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("alpha" -> 400L, "beta" -> 120L), s"parts=$parts")
    }
  }

  test("heavy_hitters: MG candidate set stays bounded at corpus scale") {
    val words = graft.core.Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .where(col("word") =!= "")
    val exact = words.groupBy("word").count()
    val n = words.count()
    val expect = exact.where(col("count") * 100 >= lit(n)).count()
    val got = Algorithms.heavyHitterTokens(spark, dir)
    assert(got.count() === expect)
  }

  test("grouped_topk: matches the window formulation, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val expect = graft.core.Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .where(col("rk") <= 3)
      .select("o_custkey", "rk", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = Algorithms.groupedTopK(spark, dir)
      .select("o_custkey", "rank", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("dedup_keep_best: one kept doc per component, the longest one") {
    val clusters = LlmPipeline.dedupCluster(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // doc -> comp
    val lens = graft.core.Tables.documents(spark, dir)
      .select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = clusters.groupBy(_._2).map { case (comp, members) =>
      comp -> members.keys.toSeq.sortBy(d => (-lens(d), d)).head
    }
    val got = LlmPipeline.dedupKeepBest(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("typo_join: candidates are equi-joins; pairs match brute-force ED-1") {
    val df = Algorithms.typoJoin(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "typo_join candidate generation is not equi-join-shaped")
    val names = graft.core.Tables.customer(spark, dir)
      .select("c_name").distinct().collect().map(_.getString(0))
    def ed1(a: String, b: String): Boolean = {
      // brute-force Levenshtein == 1 for short names
      if (a == b) false
      else if (a.length == b.length)
        a.zip(b).count { case (x, y) => x != y } == 1
      else {
        val (s, l) = if (a.length < b.length) (a, b) else (b, a)
        l.length - s.length == 1 &&
          (0 to s.length).exists(i => l.substring(0, i) + l.substring(i + 1) == s)
      }
    }
    val expect = (for {
      x <- names; y <- names if x < y && ed1(x, y)
    } yield (x, y)).toSet
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === expect)
    assert(got.size === 1275)
  }

  test("gap_fill: spine covers every day; fill is the last prior value") {
    val rows = Algorithms.gapFill(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length === 449)
    assert(rows.forall { case (_, _, v) => !v.isNaN })
    // per user: contiguous day range
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val days = rs.map(_._2).sorted
      assert(days.last - days.head + 1 === days.length, "spine has holes")
    }
  }

  test("sssp_weighted: source at cost 0, every cost within 3 max-weight hops") {
    val rows = Algorithms.ssspWeighted(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.count(_._2 == 0L) === 1, "exactly one source at cost 0")
    val maxW = 1000L / 2 + 1 // cheapest support floor c=2 → heaviest edge
    rows.foreach { case (v, c) =>
      assert(c <= 3 * maxW, s"vertex $v cost $c exceeds 3 heaviest hops")
    }
    // Bellman-Ford is deterministic: a second run agrees row for row
    val again = Algorithms.ssspWeighted(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.toMap === again.toMap)
  }

  test("label_prop: labels only flow downhill (label <= part_id for seeds)") {
    val rows = Algorithms.labelProp(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty)
    rows.foreach { case (v, l) =>
      assert(l % 10 === 0, s"label $l is not a seed id")
      if (v % 10 == 0) assert(l <= v, s"seed $v adopted a larger label $l")
    }
  }

  test("kcore_graph: every survivor keeps degree >= k in the peeled graph") {
    val rows = Algorithms.kcoreGraph(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty)
    rows.foreach { case (v, d) =>
      assert(d >= 2L, s"survivor $v has degree $d < k=2 after peeling")
    }
  }

  test("skyline_parts: matches the NOT-EXISTS dominance spec") {
    val p = graft.core.Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_size"), col("p_retailprice")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val expect = p.filter { case (_, s, pr) =>
      !p.exists { case (_, qs, qpr) =>
        qs <= s && qpr <= pr && (qs < s || qpr < pr)
      }
    }.map(_._1).toSet
    val got = Algorithms.skylineParts(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }
}
