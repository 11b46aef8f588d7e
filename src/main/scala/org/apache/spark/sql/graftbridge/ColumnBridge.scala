package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, NamedExpression,
  WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project, Window => WindowNode}
import org.apache.spark.sql.classic.{ColumnNodeExpression, ColumnNodeToExpressionConverter,
  Dataset, ExpressionUtils}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions.{count, lit}

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

  /** `c` as a plain Catalyst tree. Two columns built by separate calls
    * compare equal iff they compute the same expression, where the
    * opaque [[expression]] wrapper never does: its origin embeds the
    * creation stack trace. Columns that merely print alike (two UDFs over
    * one input) stay distinct. */
  def tree(c: Column): Expression = expression(c) match {
    case ColumnNodeExpression(node) => ColumnNodeToExpressionConverter(node)
    case e => e
  }

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

  /** `df` plus one column per `(name, agg)`, where `agg` is an aggregate
    * expression (aggregate functions, possibly nested inside other
    * expressions, as `groupBy().agg` accepts) evaluated over `window` on
    * every row: each aggregate function inside becomes a window function
    * over that frame. The `Column` API can only window a whole aggregate,
    * not `aggregate(sort_array(collect_list(x)), ...)`. */
  def aggregatesOver(df: DataFrame, aggs: Seq[(String, Column)], window: WindowSpec): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val spec = ds.select(count(lit(1)).over(window)).queryExecution.analyzed.collectFirst {
      case w: WindowNode => w.windowExpressions.head.collectFirst {
        case e: WindowExpression => e.windowSpec
      }.get
    }.get
    val named = aggs.map { case (n, a) => a.as(n) }
    val agg = ds.agg(named.head, named.tail: _*).queryExecution.analyzed
      .collectFirst { case a: Aggregate => a }.get
    val windowed = agg.aggregateExpressions.map(_.transformUp {
      case ae: AggregateExpression => WindowExpression(ae, spec)
    }.asInstanceOf[NamedExpression])
    Dataset.ofRows(ds.sparkSession, Project(agg.child.output ++ windowed, agg.child))
  }
}
