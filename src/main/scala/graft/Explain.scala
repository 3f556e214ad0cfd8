package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev-loop plan inspection: print the formatted physical plan of named
  * catalog queries without executing them (AQE-final shapes still come
  * from Bench's post-execution dumps; this is the fast pre-flight view
  * for shuffle/pushdown/join-strategy review while iterating).
  *
  * `runMain graft.Explain <sfDir> <name>[,<name>…]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',').toSeq
    val spark = Measure.session()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"==== $name ====")
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
