package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.TreeMap
import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * `runMain graft.Verify <sfDir> <outDir> [query,query,...]`
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev iteration;
    // the driver always runs the full set)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [query,query,...]")
        sys.exit(2)
    }
    val spark = Measure.session()
    new File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        graft.catalog.SchemaGuard.assertScalar(name, df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a dump from an EARLIER run must not survive a crash here — a
        // stale-but-plausible parquet would make the compare report green
        // for a query that just failed
        FileUtils.deleteDirectory(new File(outDir, name))
      }
    }
    // always dump the FULL oracle map, even under a query filter: a
    // filtered dev run would otherwise clobber the map a prior full run
    // wrote, and every unfiltered dump sitting in outDir would fail the
    // next selfcheck with a missing-oracle KeyError. The checker iterates
    // the union of oracle keys and dump dirs, so in a fresh workspace a
    // filtered run still reports the un-run keys as missing — correct,
    // since they genuinely have no dump to compare.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Measure.json(TreeMap.from(SparkEntry.oracleSql)))
    spark.stop()
  }
}
