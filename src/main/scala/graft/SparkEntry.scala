package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query catalog is assembled from per-capability modules; each module
  * maps one section of SURVEY.md §2's operator inventory.
  */
object SparkEntry {

  /** All registered catalog modules. */
  def modules: Seq[QueryModule] = Seq(
    Analytics,
    TpchMore,
    Algorithms,
    MrExamples,
    LlmPipeline,
    TextAnalysis,
    AggregateFramework,
    CurationOps,
    MixtureOps,
    TrainingOps,
    EvalMetrics,
    RankStats,
    IoCatalog,
    MiscOps,
    MrFacade,
    Extras,
    Composites,
  )

  private lazy val allDefs: Seq[QueryDef] = modules.flatMap(_.defs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
