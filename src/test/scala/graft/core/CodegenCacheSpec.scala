package graft.core

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec

/** The compiled-class cache is sized by [[GraftSession]] to hold a whole
  * pass of generated classes, so a frame whose plan was compiled before
  * still hits the cache after many other distinct classes were compiled
  * (at Spark's default of 100 entries it is evicted and compiled again).
  */
class CodegenCacheSpec extends SparkSpec {
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a frame compiled before 150 other distinct classes is not compiled again") {
    def first = spark.range(0, 8, 1, 2).selectExpr("id * 7919 + 104729 AS v")
    val expected = first.collect().map(_.getLong(0)).toSeq
    val before = compiles
    // each constant is inlined into the generated source, so every filler
    // is a distinct class; planning it to an RDD compiles it on the driver
    (1 to 150).foreach { i =>
      spark.range(4).selectExpr(s"id * ${100000 + i} AS v").queryExecution.toRdd
    }
    assert(compiles - before >= 150, "the fillers must compile new classes")
    val mark = compiles
    assert(first.collect().map(_.getLong(0)).toSeq === expected)
    assert(compiles - mark === 0, "the first frame's classes were evicted")
  }
}
