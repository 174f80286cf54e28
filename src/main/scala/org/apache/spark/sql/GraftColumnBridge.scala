package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Column and Dataset internals for the graft
  * engine's native expressions and scans — the conventional
  * extension-package trick for libraries that expose custom Catalyst
  * expressions as Columns. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Attribute name of a bare `col("name")` column, if it is one (the
    * ColumnNode API keeps the unresolved name `private[sql]`). */
  def attributeName(c: Column): Option[String] = c.node match {
    case a: internal.UnresolvedAttribute => Some(a.nameParts.mkString("."))
    case _ => None
  }
  /** `plan` as a DataFrame (what `spark.read...load()` returns for its
    * relation). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
