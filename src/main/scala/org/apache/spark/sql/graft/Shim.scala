package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Narrow bridge to `private[sql]` Spark internals.
  *
  * Lives under `org.apache.spark.sql` so it can call
  * `classic.Dataset.ofRows` / `sessionState` — the supported pattern
  * for libraries that rewrite logical plans without forcing users to
  * recreate their SparkSession with extensions installed. Everything
  * else in graft uses only the public DataFrame/Dataset API.
  */
object Shim {

  def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Add `rule` to the session's extra optimizer rules, once. */
  def addOptimizerRule(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val experimental = classic(spark).experimental
    experimental.synchronized {
      if (!experimental.extraOptimizations.contains(rule))
        experimental.extraOptimizations = experimental.extraOptimizations :+ rule
    }
  }

  /** Parse SQL text into an unresolved logical plan. */
  def parsePlan(spark: SparkSession, sql: String): LogicalPlan =
    classic(spark).sessionState.sqlParser.parsePlan(sql)

  /** Execute a logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** The analyzed logical plan of a DataFrame (for plan splicing). */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Unwrap a Column with EAGER column-node conversion. The lazy
    * wrapper [[expression]] returns is converted at the Dataset API
    * boundary; an expression spliced in by a FunctionRegistry
    * builder never crosses that boundary, so DSL operator nodes
    * (`|`, `&`, lambdas) would survive to codegen unresolved. This
    * runs the classic converter immediately instead.
    */
  def expressionConverted(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Entries in the session's cached-plan registry (`CacheManager`). */
  def cachedPlans(spark: SparkSession): Int =
    classic(spark).sharedState.cacheManager.numCachedEntries
}
