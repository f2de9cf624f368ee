package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 builds a [[Column]] over a Catalyst [[Expression]] only inside
 * `org.apache.spark.sql`; this object lives there to do it for graft's own
 * expressions (`graft.query.Exact.QueryTermLiterals`). */
object Columns {
  def of(e: Expression): Column = ExpressionUtils.column(e)
}
