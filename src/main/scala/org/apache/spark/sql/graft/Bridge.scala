package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 routes Columns through ColumnNodes
  * and keeps the converters `private[sql]`, so extension libraries expose
  * them from inside the sql package tree (the same pattern public Spark
  * extension projects use to register custom expressions).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The RDD id a `localCheckpoint()`ed Dataset's data lives under
    * (LogicalRDD is `private[sql]`). Lets iterative algorithms free a
    * round's checkpoint storage deterministically — `Dataset.unpersist`
    * only clears CacheManager entries, never RDD-level persistence. */
  def checkpointRddId(df: org.apache.spark.sql.Dataset[_]): Option[Int] =
    df.queryExecution.analyzed.collectLeaves().collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }

  /** An uncorrelated scalar subquery over `df`'s single-row result
    * (`Dataset.logicalPlan` is `private[sql]`). Lets an operator feed a
    * computed scalar — e.g. a bloom sketch aggregated from another
    * relation — into an expression LAZILY: the subquery executes as part
    * of the consuming query, so building the plan triggers no job and the
    * (possibly multi-MB) value never appears as a literal in the plan. */
  def scalarSubquery(df: org.apache.spark.sql.DataFrame): Expression =
    org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan)

  /** The `n` smallest non-NULL values of a group, ascending — Spark's
    * bounded top-N aggregate `CollectTopK`, registered only as the
    * internal function `collect_top_k`: its buffer is a heap of at most
    * `n` values, partial aggregation keeps at most `n` per group per map
    * task, and NULL input is skipped. */
  def smallestN(c: Column, n: Int): Column =
    Column.internalFn("collect_top_k", c, org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(true))

  /** Register a custom expression as a SQL function on a live session
    * (FunctionRegistry is `private[sql]`). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
      builder)
  }
}
