package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Operator-facing report over the stored-artifact tree: one line per
  * (artifact family, fingerprint) found under target/scratch for a corpus
  * dir — files, bytes, and whether the fingerprint matches the CURRENT
  * corpus (stale versions linger by design until swept; a serving
  * consumer can never read them, because the accessor resolves through
  * the current fingerprint — see [[graft.sources.FrameStore]]).
  *
  * This is the ops/debug face of the `store_census` catalog query: the
  * census attests row counts against the base tables cross-engine; this
  * main attests the BYTES on disk (what a cleanup job or a capacity audit
  * wants). Not a catalog query — nothing here is oracle-expressible, and
  * it must list stale versions, which the census by construction cannot
  * observe.
  *
  * `runMain graft.StoreReport [sfDir]`
  */
object StoreReport {

  private case class Row(family: String, version: String, fp: String,
                         files: Long, bytes: Long, current: Boolean)

  private def du(p: Path): (Long, Long) = {
    var files = 0L; var bytes = 0L
    if (Files.isDirectory(p)) {
      val s = Files.walk(p)
      try s.forEach { f =>
        if (Files.isRegularFile(f)) { files += 1; bytes += Files.size(f) }
      } finally s.close()
    }
    (files, bytes)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark: SparkSession = Measure.session()
    val key = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    val root = Paths.get(
      sys.env.getOrElse("GRAFT_SCRATCH", "/root/repo/target/scratch"))
    // source table behind each corpus-keyed artifact family (the
    // accessors' keying); families not matched here are round-trip I/O
    // scratch, not fingerprint-keyed artifacts
    def sourceOf(family: String): Option[String] = {
      val base = family.replaceAll("-v\\d+$", "")
      base match {
        case "bm25_store" | "inc_lsh_bands" | "inc_lsh_sets" =>
          Some("documents.parquet")
        case "pq_codes" | "ivfpq_index" => Some("embeddings.parquet")
        case "typo_variants" => Some("customer.parquet")
        case w if w.startsWith("wide_") =>
          Some(w.stripPrefix("wide_") + ".parquet")
        case _ => None
      }
    }
    val fpCache = scala.collection.mutable.Map.empty[String, String]
    def currentFp(table: String): String =
      fpCache.getOrElseUpdate(table,
        try graft.operators.StageCommit.corpusFingerprint(sfDir, table)
        catch {
          case NonFatal(e) =>
            System.err.println(s"[storereport] fingerprint of $table failed: $e")
            "<absent>"
        })
    val isFp = "[0-9a-f]{16}".r
    val rows = scala.collection.mutable.Buffer.empty[Row]
    var scratchFamilies = 0; var scratchBytes = 0L
    if (Files.isDirectory(root)) {
      val s = Files.list(root)
      try s.forEach { fam =>
        val name = fam.getFileName.toString
        if (name.endsWith(s"-$key") && Files.isDirectory(fam)) {
          val family = name.stripSuffix(s"-$key")
          sourceOf(family) match {
            case Some(table) =>
              val cur = currentFp(table)
              val fs = Files.list(fam)
              try fs.forEach { fpDir =>
                val fp = fpDir.getFileName.toString
                if (Files.isDirectory(fpDir) && isFp.matches(fp)) {
                  val (files, bytes) = du(fpDir)
                  rows += Row(family, "", fp, files, bytes, fp == cur)
                }
              } finally fs.close()
            case None => // round-trip scratch: count, don't itemize
              scratchFamilies += 1
              scratchBytes += du(fam)._2
          }
        }
      } finally s.close()
    }
    println(f"${"family"}%-22s ${"fingerprint"}%-18s ${"files"}%6s ${"MB"}%9s  state")
    rows.sortBy(r => (r.family, r.fp)).foreach { r =>
      println(f"${r.family}%-22s ${r.fp}%-18s ${r.files}%6d ${r.bytes / 1e6}%9.1f  ${if (r.current) "CURRENT" else "stale"}")
    }
    val stale = rows.filterNot(_.current)
    println(f"== ${rows.size} artifact versions, ${stale.size} stale " +
      f"(${stale.map(_.bytes).sum / 1e6}%.1f MB reclaimable); " +
      f"$scratchFamilies round-trip scratch dirs " +
      f"(${scratchBytes / 1e6}%.1f MB, not corpus-keyed) ==")
    spark.stop()
  }
}
