package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Scaling-exponent bench: time the heaviest catalog queries at two scale
  * factors (sf0.1 and the [[ScaleUp]]-derived sf1) and report each query's
  * empirical exponent `log(t_sf1 / t_sf0.1) / log(factor)` — the direct
  * measurement behind every "this plan holds at 100×" claim. A
  * candidate-volume-bounded design should land ≈1 (linear in data);
  * anything well above ~1.2 is a hidden pair blowup that sf0.1 alone
  * cannot see.
  *
  * `runMain graft.ScaleBench [smallDir] [bigDir] [factor] [q1,q2,...]`
  *
  * Protocol (differences from [[Bench]] are deliberate):
  *   - [[graft.core.Shared.clear]] before EVERY timed attempt: the memo
  *     turns a second attempt into a cache read, and a scaling exponent
  *     measured on cache hits would be meaningless — here each attempt
  *     pays the full derive-from-parquet cost, so the exponent covers the
  *     builds too.
  *   - One untimed warmup per query on the SMALL dir first (JIT/codegen
  *     ramp), then min-of-2 cold-memo attempts per (query, dir) —
  *     steady-state compilation, cold data path.
  */
object ScaleBench {
  val DefaultQueries: Seq[String] = Seq(
    "ngram_jaccard", "lsh_recall_audit", "containment_pairs", "bootstrap_ci",
    "typo_join", "ndcg_eval", "nb_classify", "graph_diameter", "ann_pq",
    "dedup_simhash",
    // the iterative graph family (round-10 extension): their "per-round
    // cost is data-linear, round count bounded" claim was extrapolated
    // until measured here
    "dedup_cluster", "pagerank", "bfs_hops", "ktruss_graph", "kcore_graph")

  private def timeOne(spark: SparkSession, dir: String, name: String): Double = {
    graft.core.Shared.clear()
    System.gc()
    Measure.noop(SparkEntry.queries(name)(spark, dir))
  }

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val big = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toDouble else 10.0
    val queries =
      if (args.length > 3) args(3).split(',').toSeq else DefaultQueries
    val spark = Measure.session()

    val rows = queries.map { q =>
      val (ts, tb, exp) =
        try {
          graft.core.Shared.clear()
          Measure.noop(SparkEntry.queries(q)(spark, small)) // untimed JIT warmup
          val ts = Seq.fill(2)(timeOne(spark, small, q)).min
          val tb = Seq.fill(2)(timeOne(spark, big, q)).min
          val exp = math.log(tb / ts) / math.log(factor)
          println(f"[scalebench] $q%-20s sf0.1 $ts%7.2f s   sf1 $tb%7.2f s   exponent $exp%5.2f")
          (ts, tb, exp)
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[scalebench] $q FAILED: $e")
            (-1.0, -1.0, Double.NaN)
        }
      q -> ListMap("sf01_sec" -> Measure.fixed(ts), "sf1_sec" -> Measure.fixed(tb),
        "exponent" -> Measure.fixed(exp))
    }
    val json = Measure.json(ListMap(rows: _*))
    try Files.writeString(Paths.get("target/scalebench.json"), json + "\n")
    catch {
      case NonFatal(e) =>
        System.err.println(s"[scalebench] writing target/scalebench.json failed: $e")
    }
    spark.stop()
    println(json)
  }
}
