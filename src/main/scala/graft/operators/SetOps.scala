package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Set operations and CTE/subquery machinery (reference
  * `src/execution/physical_plan/plan_set_operation.cpp` — INTERSECT/EXCEPT
  * are planned as SEMI/ANTI hash joins over all columns;
  * `src/execution/operator/set/physical_{union,cte,recursive_cte}.cpp`;
  * subquery decorrelation `src/planner/subquery/flatten_dependent_join.cpp`).
  */
object SetOps extends graft.EntryModule {

  def setUnionAll(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val p = Tables.t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.unionAll(p).groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
  }

  val setUnionAllSql: String =
    """SELECT nationkey, count(*) AS n FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  UNION ALL
      |  SELECT s_nationkey AS nationkey FROM supplier) t
      |GROUP BY nationkey""".stripMargin

  /** UNION DISTINCT ≡ union + hash-agg dedup (reference `plan_distinct.cpp`). */
  def setUnion(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(s, dir, "customer").filter(col("c_acctbal") < -900)
      .select(col("c_nationkey").as("nationkey"))
    val p = Tables.t(s, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_nationkey").as("nationkey"))
    c.union(p).distinct()
  }

  val setUnionSql: String =
    """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal < -900
      |UNION
      |SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal < 0""".stripMargin

  /** INTERSECT ≡ SEMI join on all columns (reference
    * `plan_set_operation.cpp:24-44`). */
  def setIntersect(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(s, dir, "customer").filter(col("c_acctbal") > 9990)
      .select(col("c_nationkey").as("nationkey"))
    val p = Tables.t(s, dir, "supplier")
      .select(col("s_nationkey").as("nationkey"))
    c.intersect(p)
  }

  val setIntersectSql: String =
    """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9990
      |INTERSECT
      |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin

  /** EXCEPT ≡ ANTI join on all columns. */
  def setExcept(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey"))
    val p = Tables.t(s, dir, "supplier").filter(col("s_acctbal") > 0)
      .select(col("s_nationkey").as("nationkey"))
    c.except(p)
  }

  val setExceptSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 0""".stripMargin

  /** CTE reuse + scalar subquery over it — TPC-H Q15 shape (reference
    * `physical_cte.cpp`; Spark inlines the CTE and Catalyst dedups scans). */
  def cteBasic(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, cteBasicSql)

  val cteBasicSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
      |  FROM lineitem GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin

  /** Recursive CTE as a driver-side fixed-point union loop (reference
    * `physical_recursive_cte.cpp`). Spark 4.1 also executes WITH
    * RECURSIVE natively ([[cteRecursiveNative]] covers that string
    * face); this recipe remains the API form — and the shape to reach
    * for when an iteration needs logic SQL can't express (per-step
    * re-partitioning, checkpointing every k iterations to cut lineage). */
  def cteRecursive(s: SparkSession, dir: String): DataFrame = {
    var frontier = s.range(1, 2).select(col("id").cast("int").as("n"))
    var acc = frontier
    var i = 1
    while (i < 20) {
      frontier = frontier.select((col("n") + 1).as("n"))
      acc = acc.unionAll(frontier)
      i += 1
    }
    acc.select(col("n"), (col("n") * col("n")).as("sq"))
  }

  val cteRecursiveSql: String =
    """WITH RECURSIVE t(n) AS (
      |  SELECT 1
      |  UNION ALL
      |  SELECT n + 1 FROM t WHERE n < 20)
      |SELECT n, n * n AS sq FROM t""".stripMargin

  /** WITH RECURSIVE as a NATIVE SQL string (round 9): Spark 4.1 executes
    * recursive CTEs directly (UnionLoop — the same working-table
    * iteration the reference's recursive CTE executor runs,
    * `physical_recursive_cte.cpp`), so the string face no longer needs
    * the driver fixed-point loop of [[cteRecursive]] (kept as the
    * recipe/API form). Same SQL runs verbatim on both engines. */
  def cteRecursiveNative(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, cteRecursiveSql)

  /** Recursive month walk bounded by fixture data: generates the month
    * dimension between two literal dates — the "calendar spine"
    * recursion every reporting stack carries. */
  val cteRecursiveDatesSql: String =
    """WITH RECURSIVE months(m) AS (
      |  SELECT CAST('1995-01-01' AS DATE)
      |  UNION ALL
      |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
      |  WHERE m < CAST('1998-06-01' AS DATE))
      |SELECT count(*) AS n_months, min(m) AS first_m, max(m) AS last_m
      |FROM months""".stripMargin

  def cteRecursiveDates(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, cteRecursiveDatesSql)

  /** LDBC-style k-hop graph traversal over a DATA-derived edge set (the
    * reference ships LDBC as a benchmark suite, `benchmark/ldbc/`; its
    * interactive reads are bounded-depth neighborhood expansions). The
    * graph is the customer–supplier bipartite projection of the fact
    * (suppliers encoded as negative node ids), seeded at one supplier,
    * expanded 2 hops via native WITH RECURSIVE (Spark 4.1 UnionLoop —
    * the same SQL runs verbatim on DuckDB). Per-depth distinct-node and
    * path counts are deterministic under UNION ALL recursion; the d < 2
    * cap bounds the working table (paths, not the node universe, is
    * what UNION ALL accumulates — the cap is the contract). Unlike
    * [[cteRecursive]]'s series, each iteration here is a JOIN against a
    * derived relation — the shape graph workloads actually run. */
  def cteKhopGraph(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, cteKhopGraphSql)

  val cteKhopGraphSql: String =
    """WITH RECURSIVE paths(node, d) AS (
      |    SELECT CAST(-1 AS BIGINT) AS node, 0 AS d
      |  UNION ALL
      |    SELECT e.dst AS node, p.d + 1 AS d
      |    FROM paths p
      |    JOIN (SELECT o_custkey AS src, -l_suppkey AS dst
      |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |          UNION
      |          SELECT -l_suppkey AS src, o_custkey AS dst
      |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey) e
      |      ON e.src = p.node
      |    WHERE p.d < 2)
      |SELECT d, count(DISTINCT node) AS n_nodes, count(*) AS n_paths
      |FROM paths GROUP BY d""".stripMargin

  /** Correlated scalar subquery — TPC-H Q17 shape (reference decorrelation
    * `flatten_dependent_join.cpp`; Catalyst RewriteCorrelatedScalarSubquery). */
  def subCorrelated(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, subCorrelatedSql)

  val subCorrelatedSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#1'
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "set_union_all" -> (setUnionAll _),
    "set_union" -> (setUnion _),
    "set_intersect" -> (setIntersect _),
    "set_except" -> (setExcept _),
    "cte_basic" -> (cteBasic _),
    "cte_recursive" -> (cteRecursive _),
    "cte_recursive_sql" -> (cteRecursiveNative _),
    "cte_recursive_dates" -> (cteRecursiveDates _),
    "cte_khop_graph" -> (cteKhopGraph _),
    "sub_correlated" -> (subCorrelated _))

  val oracle: Map[String, String] = Map(
    "set_union_all" -> setUnionAllSql,
    "set_union" -> setUnionSql,
    "set_intersect" -> setIntersectSql,
    "set_except" -> setExceptSql,
    "cte_basic" -> cteBasicSql,
    "cte_recursive" -> cteRecursiveSql,
    "cte_recursive_sql" -> cteRecursiveSql,
    "cte_recursive_dates" -> cteRecursiveDatesSql,
    "cte_khop_graph" -> cteKhopGraphSql,
    "sub_correlated" -> subCorrelatedSql)
}
