package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeExpression, ColumnNodeToExpressionConverter,
  ExpressionUtils}

/** Column <-> Catalyst Expression interop for custom expressions.
  *
  * Spark 4 moved `Column` to a ColumnNode representation and made the
  * conversion utilities `private[sql]`; a bridge object inside
  * `org.apache.spark.sql` is the standard extension-library pattern for
  * exposing `Expression`-backed columns (the alternative — registering
  * every expression in the session FunctionRegistry and round-tripping
  * through the SQL parser — couples plan construction to session state).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Top-level column names `c` reads (a struct-field access `a.b` reads
    * `a`). [[expression]] wraps a plain `Column` in an opaque
    * `ColumnNodeExpression` with no children, so a walk over it sees no
    * attribute at all; every such node (the root, or a child of a custom
    * expression) is converted to its Catalyst tree first. */
  def references(c: Column): Set[String] = {
    def walk(e: Expression): Set[String] = e match {
      case ColumnNodeExpression(node) => walk(ColumnNodeToExpressionConverter(node))
      case u: UnresolvedAttribute => Set(u.nameParts.head)
      case other => other.children.iterator.flatMap(walk).toSet
    }
    walk(expression(c))
  }
}
