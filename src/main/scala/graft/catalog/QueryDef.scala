package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a named query over the corpus plus (when the operator
  * is SQL-expressible) an equivalent DuckDB SQL oracle the driver runs for
  * the t2 correctness gate. Column names must match between `fn`'s output
  * and the oracle (the compare sorts columns by name before hashing).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryModule {
  def defs: Seq[QueryDef]
}

/** Guard for the driver contract: the oracle comparator sorts result frames
  * row-wise, so every catalog query must emit only scalar (sortable)
  * columns — an array/map/struct output lands as an unattested `err` row.
  * Checked both in CatalogSpec (fail at build time) and Verify (fail loud
  * at dump time).
  */
object SchemaGuard {
  import org.apache.spark.sql.types._

  /** Names of columns whose type the comparator cannot sort. */
  def nonScalarColumns(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] => f.name
    }.toSeq

  /** Throws IllegalStateException when `df` has non-scalar output columns. */
  def assertScalar(name: String, df: DataFrame): Unit = {
    val bad = nonScalarColumns(df.schema)
    if (bad.nonEmpty) throw new IllegalStateException(
      s"query '$name' emits non-scalar columns ${bad.mkString(", ")} — " +
        "encode as a sortable scalar (e.g. array_join) for the oracle compare")
  }
}
