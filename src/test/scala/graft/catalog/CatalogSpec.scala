package graft.catalog

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Catalog governance: the invariants the driver contract relies on. */
class CatalogSpec extends AnyFunSuite {

  private val defs = SparkEntry.modules.flatMap(_.defs)

  test("query names are unique across modules") {
    val dups = defs.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  test("every query has a DuckDB oracle (no weaker rows-only checks)") {
    val missing = defs.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracle: ${missing.mkString(", ")}")
  }

  test("queries and oracleSql expose the same key set") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  // The driver's oracle comparator sorts result frames; an array/map/struct
  // output column crashes it and the query lands unattested (the round-5
  // user_history `err`). Building the frame is analysis-only for most
  // queries, so this stays cheap at sf0.001.
  test("every query output schema is scalar-only (comparator sorts rows)") {
    val sfDir = "/root/testdata/sf0.001"
    val bad = defs.flatMap { d =>
      val cols = SchemaGuard.nonScalarColumns(
        d.fn(graft.TestSession.spark, sfDir).schema)
      if (cols.isEmpty) None else Some(s"${d.name}: ${cols.mkString(",")}")
    }
    assert(bad.isEmpty, s"non-scalar outputs → ${bad.mkString("; ")}")
  }
}
