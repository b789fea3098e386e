package graft

import graft.queries.{QueryDef, Registry, Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query contract — see SURVEY.md §7.
  *
  * `queries` is the full operator inventory (SURVEY §2 + the
  * large-scale training-data operators); `oracleSql` carries the
  * DuckDB-equivalent SQL for every query whose semantics are
  * SQL-expressible. Both are read off one table, [[Registry.all]],
  * where each query's oracle sits beside its builder. Column names
  * are aliased identically on both sides — the correctness gate sorts
  * columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q5PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(d => d.name -> d.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. A `RowsOnly` query has no key here, and
    * the correctness gate checks only that it returns rows. */
  def oracleSql: Map[String, String] =
    Registry.all.collect { case QueryDef(name, _, Sql(text)) => name -> text }.toMap
}
