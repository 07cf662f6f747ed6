package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Typed `Column`s over graft's native Catalyst expressions, built
  * directly rather than looked up by name in a session's function
  * registry. Lives in an `org.apache.spark.sql` subpackage because
  * `ExpressionUtils` is `private[sql]` — same pattern as [[LocalPlans]].
  */
object KernelColumns {

  /** The expression `build` makes from `args`' expressions, as a Column. */
  def kernel(args: Column*)(build: Seq[Expression] => Expression): Column =
    ExpressionUtils.column(build(args.map(ExpressionUtils.expression)))
}
