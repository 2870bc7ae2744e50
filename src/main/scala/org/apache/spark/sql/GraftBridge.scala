package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources.Filter

/** Minimal bridge into Spark's sql package: Spark 4 makes the
  * Expression -> Column constructor private[sql]
  * (org.apache.spark.sql.classic.ExpressionUtils), as is the V2 -> V1
  * predicate translation, so third-party native expressions and sources
  * need forwarding symbols inside the package. This is the only file
  * outside the graft namespace.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toV1(p: Predicate): Option[Filter] = internal.connector.PredicateUtils.toV1(p)
}
