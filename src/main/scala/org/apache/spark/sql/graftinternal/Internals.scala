package org.apache.spark.sql.graftinternal

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression conversion (Spark 4 wraps
  * Columns in ColumnNodes; this is the supported classic-session path).
  * Lives under org.apache.spark.sql to satisfy the access modifier — the
  * same pattern public Spark extensions use (cf. SNIPPETS.md [2],[3]).
  */
object Internals {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
