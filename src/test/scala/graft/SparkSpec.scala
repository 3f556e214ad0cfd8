package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared one-per-JVM test session (local[4], same config as production
  * entry points via [[GraftSession]]), with one test-only setting: the
  * state-store maintenance thread, which uploads RocksDB snapshots, runs
  * every 500 ms instead of every 60 s, so a spec can restart a stateful
  * query from an uploaded snapshot plus changelogs. Its interval is fixed
  * by the first store loaded in the JVM, so it is set here, before any.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "500ms")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  // val, not def: `import spark.implicits._` needs a stable identifier
  val spark: SparkSession = TestSession.spark
}
