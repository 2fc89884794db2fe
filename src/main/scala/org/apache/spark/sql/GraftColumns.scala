package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the package-private Column ⇄ Expression conversion, for
  * expressions that carry a value no function-registry builder can pass
  * (a URL chain, a broadcast filter). */
object GraftColumns {

  /** `build` over `child`'s expression, as a Column; the child resolves
    * when the outer plan is analyzed, like any function argument. */
  def unary(child: Column)(build: Expression => Expression): Column =
    ExpressionUtils.column(build(ExpressionUtils.expression(child)))
}
