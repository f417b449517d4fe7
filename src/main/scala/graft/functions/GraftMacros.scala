package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Macro layer — the analog of the reference's `CREATE MACRO` /
  * `CREATE MACRO ... AS TABLE` (reference
  * `src/execution/operator/schema/physical_create_function.cpp`,
  * `src/function/scalar_macro_function.cpp`): named, parameterized
  * query fragments expanded at PLAN TIME.
  *
  * DuckDB inlines a macro's body into the calling expression before
  * optimization; the Spark-first equivalent is a registered function
  * `Seq[Column] => Column` (scalar) or `(SparkSession, String) =>
  * DataFrame` (table): applying it splices the underlying Catalyst
  * expression tree into the caller's plan, so the optimizer sees ONE
  * flat tree — codegen, pushdown, and constant folding all cross the
  * macro boundary, exactly like DuckDB's inlining and unlike an opaque
  * UDF. The registry adds the by-name indirection (late binding,
  * redefinition) that `CREATE MACRO` provides over plain `def`s. */
object GraftMacros extends graft.EntryModule {

  private val scalars =
    new scala.collection.concurrent.TrieMap[String, Seq[Column] => Column]()
  private val tables =
    new scala.collection.concurrent.TrieMap[String, (SparkSession, String) => DataFrame]()

  def registerScalar(name: String, body: Seq[Column] => Column): Unit =
    scalars.put(name, body)

  def registerTable(name: String, body: (SparkSession, String) => DataFrame): Unit =
    tables.put(name, body)

  /** Expand a scalar macro: splices its expression tree at the call site. */
  def m(name: String, args: Column*): Column =
    scalars.getOrElse(name,
      throw new NoSuchElementException(s"macro not registered: $name"))(args)

  /** Expand a table macro. */
  def table(name: String, s: SparkSession, dir: String): DataFrame =
    tables.getOrElse(name,
      throw new NoSuchElementException(s"table macro not registered: $name"))(s, dir)

  def dropScalar(name: String): Unit = scalars.remove(name)
  def dropTable(name: String): Unit = tables.remove(name)

  /** Built-in macros (the reference ships default macros the same way). */
  registerScalar("discounted_price", { case Seq(price, discount) =>
    price.cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - discount.cast("decimal(18,2)"))
  })
  registerScalar("money", { case Seq(c) => c.cast("decimal(18,2)") })
  registerTable("recent_orders", (s, dir) =>
    Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")))

  /** Oracled query THROUGH the macro layer: revenue per returnflag where
    * both the money expression and the orders slice come from registered
    * macros; the oracle inlines their definitions — equality proves
    * macro expansion is plan-transparent. */
  def macroRevenue(s: SparkSession, dir: String): DataFrame =
    table("recent_orders", s, dir)
      .join(Tables.t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(m("discounted_price", col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))

  val macroRevenueSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "macro_revenue" -> (macroRevenue _))

  val oracle: Map[String, String] = Map(
    "macro_revenue" -> macroRevenueSql)
}
