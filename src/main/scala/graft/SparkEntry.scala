package graft

import graft.queries.Queries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry-point contract — see SURVEY.md §7 at the repository root. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the CTE/re-aggregation flagship (the analog of the
    * reference's end-to-end integration query,
    * reference: test/integration-test.ts:136-169).
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.all("q5_cte_reagg")._1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map { case (k, (q, _)) => k -> q }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Queries.all.collect { case (k, (_, sql)) if sql != null => k -> sql } ++
      Queries.dynamicOracles
}
