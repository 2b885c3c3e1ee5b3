package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4's `private[sql]` Column <-> Expression
  * converters (org.apache.spark.sql.classic.ExpressionUtils), needed
  * to expose custom Catalyst expressions as user-facing Columns, and
  * into the `private[sql]` Column node type. Lives in the org.apache.spark.sql package solely to satisfy the
  * access modifier; contains no Spark-internal logic.
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `c` is a sort expression (`col.asc`/`col.desc`). Spark 4 keeps
    * one as a column node, which `expression` wraps opaquely, so the
    * check reads the node. */
  def isSortOrder(c: Column): Boolean = c.node.isInstanceOf[internal.SortOrder]
}
