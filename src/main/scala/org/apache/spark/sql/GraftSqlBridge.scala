package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `org.apache.spark.sql` package for the two
  * package-private conversions a custom Catalyst `Expression` needs on
  * Spark 4 (classic sessions): Column → Expression and Expression →
  * Column. This is the standard extension-library pattern — no Spark
  * internals are modified, only re-exported.
  */
object GraftSqlBridge {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
