package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the package-private Column ⇄ Expression conversion: the one way
  * a graft expression becomes a Column, with no function-registry lookup
  * (so it also carries values no registry builder can pass: a URL chain, a
  * broadcast filter). */
object GraftColumns {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `build` over the `children`'s expressions, as a Column; the children
    * resolve when the outer plan is analyzed, like any function argument. */
  def nary(children: Column*)(build: Seq[Expression] => Expression): Column =
    column(build(children.map(expression)))

  def unary(child: Column)(build: Expression => Expression): Column =
    nary(child)(es => build(es.head))
}
