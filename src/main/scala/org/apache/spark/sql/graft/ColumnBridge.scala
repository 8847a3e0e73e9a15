package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge: the one way a graft expression
  * enters a plan.
  *
  * Spark 4 made `Column` expression-agnostic (ColumnNode); the classic
  * converters live in [[org.apache.spark.sql.classic.ExpressionUtils]],
  * which is `private[sql]`. Each graft expression has a Column
  * constructor beside it (`DecSum6.column`, `WordShingles.column`, …)
  * that builds the expression tree through this one-file subpackage
  * bridge, so library code wires custom catalyst expressions straight
  * into the DataFrame DSL on any session, with no function registry.
  * JVM-public, Scala-package-restricted: the standard extension-library
  * access pattern, no reflection and no behavior override.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
