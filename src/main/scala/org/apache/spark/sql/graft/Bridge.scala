package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (the Column API is now backend-agnostic), so this one
  * object lives inside the `org.apache.spark.sql` namespace to lend the
  * engine's custom Catalyst expressions a public Column surface. No Spark
  * internals are modified. Being inside `org.apache.spark`, it also lends
  * the harness the `private[spark]` listener-bus drain.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly CONVERTED Catalyst tree for a Column. `expression` wraps the
    * Column's node lazily (`ColumnNodeExpression`), which pattern-matchers
    * can't see through; this runs the classic converter so `===`/`&&`/
    * `isin` surface as real `EqualTo`/`And`/`In` nodes (still unresolved
    * attributes — no analyzer pass). */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Blocks until every listener event posted so far has been delivered,
    * so a listener read right after an action sees all of its tasks.
    * Throws `TimeoutException` if the bus is still busy after the budget. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
