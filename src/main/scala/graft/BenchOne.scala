package graft

/** Dev-loop timing for a few catalog queries: `runMain graft.BenchOne
  * <sfDir> <query>[,<query>...] [attempts] [cold]`. Same noop-sink
  * materialization as [[Bench]] (so nothing is pruned), prints each
  * attempt's seconds — iterate on one operator without paying for the
  * full suite. With the literal 4th arg `cold`, the [[graft.core.Shared]]
  * memo is cleared before every attempt so a memoized query's derive
  * cost is measured on each attempt instead of only the first.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val attempts = if (args.length > 2) args(2).toInt else 2
    val cold = args.length > 3 && args(3) == "cold"
    val spark = Measure.session()
    spark.conf.set(graft.core.PlanTrace.DirKey, "target/plans")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to attempts).foreach { i =>
        if (cold) graft.core.Shared.clear()
        System.gc()
        println(f"[benchone] $name attempt $i: ${Measure.noop(fn(spark, sfDir))}%.3f s")
      }
    }
    spark.stop()
  }
}
