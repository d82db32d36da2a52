package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4.x moved `Column` onto `ColumnNode` (SPARK-44111 unification);
  * the classic-session converters live in `org.apache.spark.sql.classic`
  * with `private[sql]` access, so this shim sits inside the `sql` package
  * — the standard pattern for third-party Catalyst extensions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c IN values` as a hash-set lookup (`InSet`), whatever the number
    * of values; `values` in Catalyst's internal form (`UTF8String` for
    * strings). `Column.isin` keeps up to 10 values as an `In`, whose
    * long and int literals are inlined into the generated code — so a
    * loop filtering on a new small key set every batch would compile a
    * new class every batch. */
  def inSet(c: Column, values: Set[Any]): Column =
    column(org.apache.spark.sql.catalyst.expressions.InSet(expression(c),
      values))

  /** EAGER catalyst conversion. `expression` returns a lazy
    * `ColumnNodeExpression` wrapper whose children are ColumnNodes, so
    * tree analysis (e.g. stats-pruning conjunct extraction) sees
    * nothing; this runs the real converter, yielding an analyzable
    * catalyst tree (comparisons surface as UnresolvedFunction("<", …)
    * until the analyzer resolves them). */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}
