package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Flagship analytical queries over the star schema — the reference's core
  * execution path of scan → filter → hash join → hash aggregate → sort/top-n
  * (reference `src/execution/operator/join/physical_hash_join.cpp`,
  * `physical_hash_aggregate.cpp`, `physical_top_n.cpp`), expressed through
  * the declarative DataFrame API so Catalyst picks the physical strategy.
  *
  * Numeric discipline for oracle parity: money math is done in DECIMAL
  * (exact, associative — safe under any partitioning / AQE re-plan) and only
  * the final aggregate is cast to DOUBLE, which makes results bit-identical
  * across engines and across cluster sizes. At 100 TB a float sum would be
  * non-deterministic run-to-run; decimal keeps results stable.
  */
object CoreQueries extends graft.EntryModule {

  /** Exact money: cast to DECIMAL(18,2) before arithmetic. */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount")))
          * (lit(1).cast(DecimalType(18, 2)) + dec(col("l_tax"))))
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style shipping priority: 3-way join, filters on both sides,
    * aggregate, top-n. Catalyst broadcast-joins the filtered customer side
    * automatically under AQE; at 100 TB the orders⋈lineitem join shuffles on
    * the shared order key only once. */
  def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1996-03-15").cast("timestamp"))
    val li = Tables.t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1996-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1996-03-15'
      |  AND l_shipdate > TIMESTAMP '1996-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5-style local supplier volume: 6-table snowflake join.
    * region/nation are broadcast (tiny at any scale); the fact-side joins
    * shuffle on their natural keys. */
  def q5Region(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.t(s, dir, "customer")
    val ord = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.t(s, dir, "lineitem")
    val sup = Tables.t(s, dir, "supplier")
    val nat = Tables.t(s, dir, "nation")
    val reg = Tables.t(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q10-style returned-item ranking: join + selective filter +
    * aggregate + top-n (the compaction paper's canonical "selective probe"
    * shape — reference `join_hashtable.cpp:397-433`). */
  def q10Returned(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.t(s, dir, "customer")
    val ord = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = Tables.t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val nat = Tables.t(s, dir, "nation")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** JOB-style deep join tree — the shape of the reference's headline
    * benchmark (reference `benchmark/imdb/19d.benchmark`, paper
    * `README.md:43-48`): 8 relations, two selective dimension branches
    * (part brand 4%, building-segment EU customers ~4%), tiny aggregate
    * output. Selective probes over a deep join cascade are exactly the
    * small-fragment generator the reference's compaction targets; the
    * CompactionSpec measures this query's task-size histogram via
    * ChunkMetrics with and without AQE coalescing. */
  def jobDeepJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val part = Tables.t(s, dir, "part").filter(col("p_brand") === "Brand#7")
    val sup = Tables.t(s, dir, "supplier")
    val natS = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"))
    val ord = Tables.t(s, dir, "orders")
    val cust = Tables.t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val natC = Tables.t(s, dir, "nation")
    val reg = Tables.t(s, dir, "region").filter(col("r_name") === "EUROPE")
    // Every dimension branch broadcasts — including the 4%-selective
    // customer (EU × BUILDING) and the supplier side — and the customer
    // branch is applied to ORDERS BEFORE the fact join, reducing orders
    // to ~0.8% (4% segment × 20% region). The reduced orders side then
    // broadcasts too, so the whole 8-relation tree is ONE codegen pass
    // over lineitem with zero fact shuffles (the only exchange left is
    // the final 1-row-per-brand aggregate). This is the dimension≪fact
    // regime (JOB's): static size estimation can't see that the
    // orders⋈customer output is tiny, so the hint states it. Round-8
    // measured the hint-less AQE alternative (runtime stats DO convert
    // the SMJ to broadcast) at 2× slower (0.62 s vs 0.28 s at sf0.1):
    // AQE's re-plan only happens AFTER the fact side's shuffle map stage
    // has run, so the hint is what keeps lineitem from being written to
    // shuffle at all. The 100×-scale caveat stands: if orders⋈customer
    // ever stops being tiny, DROP this broadcast() and AQE picks the
    // shuffle strategy — that swap is the operator author's knob, not a
    // runtime branch.
    val custEu = cust
      .join(broadcast(natC), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
    val ordCust = ord.join(broadcast(custEu), col("o_custkey") === col("c_custkey"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
      .join(broadcast(ordCust), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderdate")).as("first_order"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy(col("p_brand"))
  }

  val jobDeepJoinSql: String =
    """SELECT p_brand, count(*) AS n, min(o_orderdate) AS first_order,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem, part, supplier, nation n1, orders, customer, nation n2, region
      |WHERE l_partkey = p_partkey AND p_brand = 'Brand#7'
      |  AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
      |  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND c_mktsegment = 'BUILDING'
      |  AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** JOB-style chain join — selectivity enters at the FAR end of a
    * 7-relation chain (supplier-side region filter), the join-order
    * stress shape of the reference's IMDB workload (reference
    * `benchmark/imdb` chain variants): the optimizer must
    * push the region restriction through nation→supplier before the
    * fact join or the intermediate explodes. Dimension chain broadcasts;
    * the lineitem⋈orders shuffle is the only large exchange. */
  def jobChain(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val sup = Tables.t(s, dir, "supplier")
    val natS = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_regionkey").as("sn_region"))
    val regS = Tables.t(s, dir, "region").filter(col("r_name") === "AMERICA")
    val ord = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val cust = Tables.t(s, dir, "customer")
    val natC = Tables.t(s, dir, "nation")
    li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
      .join(broadcast(regS), col("sn_region") === col("r_regionkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(natC), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val jobChainSql: String =
    """SELECT n2.n_name AS n_name, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem, supplier, nation n1, region, orders, customer, nation n2
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
      |  AND n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
      |  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND c_nationkey = n2.n_nationkey
      |  AND o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n2.n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Bushy join — two independently-aggregated fact subtrees joined on
    * their dimension key (customer-side revenue vs supplier-side revenue
    * per nation). This is the shape `SplitPipelineRule` targets: the
    * subtrees share no key, so a linear plan would re-shuffle the fact
    * twice; aggregating each branch FIRST reduces both sides to
    * |nation| rows before the final join. */
  def jobBushy(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val custRev = li
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .as("cust_rev_d"))
    val suppRev = li
      .join(Tables.t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .as("supp_rev_d"))
    custRev
      .join(suppRev, col("nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.t(s, dir, "nation")), col("nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        col("cust_rev_d").cast("double").as("cust_rev"),
        col("supp_rev_d").cast("double").as("supp_rev"))
      .orderBy(col("n_name"))
  }

  val jobBushySql: String =
    """SELECT n_name, CAST(cust_rev_d AS DOUBLE) AS cust_rev,
      |  CAST(supp_rev_d AS DOUBLE) AS supp_rev
      |FROM (
      |  SELECT c_nationkey AS nationkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS cust_rev_d
      |  FROM lineitem, orders, customer
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  GROUP BY c_nationkey) cr
      |JOIN (
      |  SELECT s_nationkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS supp_rev_d
      |  FROM lineitem, supplier
      |  WHERE l_suppkey = s_suppkey
      |  GROUP BY s_nationkey) sr ON cr.nationkey = sr.s_nationkey
      |JOIN nation ON cr.nationkey = n_nationkey
      |ORDER BY n_name""".stripMargin

  /** Fact⋈fact⋈fact with NO broadcastable side — the regime JOB enters
    * when "dimensions" grow to fact size (reference
    * `benchmark/imdb` cast_info⋈title⋈name joins). Both
    * joins are explicitly hinted to SHUFFLE strategies (merge for
    * lineitem⋈orders — both huge, sort amortizes; shuffle_hash for
    * ⋈customer — build side is the smaller fact): at 100 TB none of
    * these sides fits an executor, so the plan must survive WITHOUT a
    * broadcast, shuffling each side exactly once on its join key. */
  def jobFactFact(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .join(cust.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val jobFactFactSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem, orders, customer
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** ANTI join UNDER an outer join — JOB's negated-subquery-plus-
    * enrichment shape: customers with NO 1998 order (anti), LEFT-
    * enriched with their event activity. The anti prunes before the
    * outer join, so the enrichment side joins against the reduced set;
    * the events branch pre-aggregates to one row per user BEFORE the
    * join (map-side reduction — never join a raw fact to a raw fact for
    * a per-key total). */
  def jobAntiOuter(s: SparkSession, dir: String): DataFrame = {
    val active98 = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val evAgg = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("ev_n"),
        sum(dec(col("value"))).cast("double").as("ev_total"))
    Tables.t(s, dir, "customer")
      .join(active98, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(evAgg, col("c_custkey") === col("user_id"), "left")
      .select(col("c_custkey"), col("c_mktsegment"),
        coalesce(col("ev_n"), lit(0L)).as("ev_n"),
        coalesce(col("ev_total"), lit(0.0)).as("ev_total"))
  }

  val jobAntiOuterSql: String =
    """SELECT c_custkey, c_mktsegment,
      |  coalesce(ev_n, 0) AS ev_n, coalesce(ev_total, 0.0) AS ev_total
      |FROM customer
      |LEFT JOIN (SELECT user_id, count(*) AS ev_n,
      |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ev_total
      |           FROM events GROUP BY user_id) e ON c_custkey = user_id
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey
      |    AND o_orderdate >= TIMESTAMP '1998-01-01'
      |    AND o_orderdate < TIMESTAMP '1999-01-01')""".stripMargin

  /** 10-relation chain — JOB's longest chains (10+ relations,
    * reference `benchmark/imdb`, the 29a-c family) with selectivity at BOTH
    * far ends (part brand on the supplier side, region on the customer
    * side) plus a pre-aggregated tenth relation (events per user). Every
    * reduced dimension broadcasts; lineitem⋈orders is the single large
    * exchange; the events branch aggregates to ≤|users| rows before
    * joining. */
  def jobLongChain(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val part = Tables.t(s, dir, "part").filter(col("p_brand") === "Brand#3")
    val sup = Tables.t(s, dir, "supplier")
    val natS = Tables.t(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_regionkey").as("sn_region"))
    val regS = Tables.t(s, dir, "region").filter(col("r_name") === "ASIA")
      .select(col("r_regionkey").as("sr_key"))
    val ord = Tables.t(s, dir, "orders")
    val cust = Tables.t(s, dir, "customer")
    val natC = Tables.t(s, dir, "nation")
    val regC = Tables.t(s, dir, "region").filter(col("r_name") === "AMERICA")
    val evAgg = Tables.t(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("ev_n"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(natS), col("s_nationkey") === col("sn_key"))
      .join(broadcast(regS), col("sn_region") === col("sr_key"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(natC), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(regC), col("n_regionkey") === col("r_regionkey"))
      .join(evAgg, col("c_custkey") === col("user_id"), "left")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
        sum(coalesce(col("ev_n"), lit(0L))).as("ev_weight"))
      .orderBy(col("n_name"))
  }

  val jobLongChainSql: String =
    """SELECT n2.n_name AS n_name, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  CAST(sum(coalesce(ev_n, 0)) AS BIGINT) AS ev_weight
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN region r1 ON n1.n_regionkey = r1.r_regionkey AND r1.r_name = 'ASIA'
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'AMERICA'
      |LEFT JOIN (SELECT user_id, count(*) AS ev_n FROM events GROUP BY user_id) e
      |  ON c_custkey = user_id
      |GROUP BY n2.n_name
      |ORDER BY n_name""".stripMargin

  /** CYCLIC join graph — two independent paths reach the SAME nation
    * relation instance (fact→supplier→nation and fact→orders→customer
    * with the cycle-closing `c_nationkey = n_nationkey` edge), the shape
    * of JOB's cyclic queries (reference `benchmark/imdb/29a.benchmark`
    * family: two paths to the same dimension). Catalyst folds the cycle
    * edge into the customer join's key set — both equi-conditions join in
    * one hash lookup, no post-join filter, no cartesian. */
  def jobCyclic(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val sup = Tables.t(s, dir, "supplier")
    val nat = Tables.t(s, dir, "nation")
    val reg = Tables.t(s, dir, "region").filter(col("r_name") === "EUROPE")
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("n_nationkey")) // cycle-closing edge
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy(col("n_name"))
  }

  val jobCyclicSql: String =
    """SELECT n_name, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey AND c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** DISJUNCTIVE cross-relation predicate — an OR spanning columns of TWO
    * different relations (`p_size >= 45 OR s_acctbal >= 9000`), the JOB
    * 29/30-family shape that defeats single-scan pushdown (reference
    * `benchmark/imdb/30a.benchmark` OR'd predicates). The equi-join keys
    * still drive hash joins; the disjunction evaluates as a residual
    * filter after both joins — it must NOT degrade the plan to a
    * cartesian product. */
  def jobDisjunctive(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    li.join(broadcast(Tables.t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .filter(col("p_size") >= 45 || col("s_acctbal") >= 9000)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("total"))
      .orderBy(col("l_returnflag"))
  }

  val jobDisjunctiveSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE (p_size >= 45 OR s_acctbal >= 9000)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** JOB 20-relation-extreme shape: 16 relations in one statement, every
    * dimension reached TWICE through independent alias paths (the IMDB
    * long tail's signature — reference `benchmark/imdb/29a.benchmark` et
    * al. join 17 relations with repeated dimension aliases). One fact in
    * two roles (l1, and l2 = another line of the same order), part /
    * supplier / nation / region each twice, plus a cycle-closing third
    * supplier alias carrying the customer's nation. Planner stress: the
    * join graph has 15 edges and two fact-fact edges; every dimension
    * leg must broadcast (12 of the 15 joins) so the only exchanges are
    * the two order-key fact shuffles, and the inequality
    * (`l2.linenumber <> l1.linenumber`) must ride the equi-join as a
    * residual, never degrade it to a nested loop. */
  def jobManyRelations(s: SparkSession, dir: String): DataFrame = {
    def t(n: String) = Tables.t(s, dir, n)
    val l1 = t("lineitem")
    val p1 = t("part").filter(col("p_size") < 30)
      .select(col("p_partkey").as("p1_pk"))
    val s1 = t("supplier")
      .select(col("s_suppkey").as("s1_sk"), col("s_nationkey").as("s1_nk"))
    val n1 = t("nation")
      .select(col("n_nationkey").as("n1_nk"), col("n_regionkey").as("n1_rk"))
    val r1 = t("region")
      .select(col("r_regionkey").as("r1_rk"), col("r_name").as("supp_region"))
    val o = t("orders").filter(col("o_orderstatus") =!= "F")
      .select(col("o_orderkey").as("o_ok"), col("o_custkey").as("o_ck"))
    val c = t("customer")
      .select(col("c_custkey").as("c_ck"), col("c_nationkey").as("c_nk"))
    val n2 = t("nation")
      .select(col("n_nationkey").as("n2_nk"), col("n_regionkey").as("n2_rk"))
    val r2 = t("region")
      .select(col("r_regionkey").as("r2_rk"), col("r_name").as("cust_region"))
    val l2 = t("lineitem").select(col("l_orderkey").as("l2_ok"),
      col("l_linenumber").as("l2_ln"), col("l_partkey").as("l2_pk"),
      col("l_suppkey").as("l2_sk"))
    val p2 = t("part").filter(col("p_size") < 40)
      .select(col("p_partkey").as("p2_pk"))
    val s2 = t("supplier")
      .select(col("s_suppkey").as("s2_sk"), col("s_nationkey").as("s2_nk"))
    val n3 = t("nation")
      .select(col("n_nationkey").as("n3_nk"), col("n_regionkey").as("n3_rk"))
    val r3 = t("region").select(col("r_regionkey").as("r3_rk"))
    val s3 = t("supplier")
      .select(col("s_suppkey").as("s3_sk"), col("s_nationkey").as("s3_nk"))
    val n4 = t("nation").select(col("n_nationkey").as("n4_nk"))
    // customer enriched with its geo (dims broadcast onto customer), then
    // orders⋈customer — the one place static stats can't see the size, so
    // AQE picks the strategy (no hint: nothing here is filter-tiny)
    val oc = o.join(c, col("o_ck") === col("c_ck"))
      .join(broadcast(n2), col("c_nk") === col("n2_nk"))
      .join(broadcast(r2), col("n2_rk") === col("r2_rk"))
    // second fact role with its own dimension tree
    val right = l2
      .join(broadcast(p2), col("l2_pk") === col("p2_pk"))
      .join(broadcast(s2), col("l2_sk") === col("s2_sk"))
      .join(broadcast(n3), col("s2_nk") === col("n3_nk"))
      .join(broadcast(r3), col("n3_rk") === col("r3_rk"))
    l1.join(broadcast(p1), col("l_partkey") === col("p1_pk"))
      .join(broadcast(s1), col("l_suppkey") === col("s1_sk"))
      .join(broadcast(n1), col("s1_nk") === col("n1_nk"))
      .join(broadcast(r1), col("n1_rk") === col("r1_rk"))
      .join(oc, col("l_orderkey") === col("o_ok"))
      .join(broadcast(s3),
        col("s3_sk") === col("l_suppkey") && col("s3_nk") === col("c_nk"))
      .join(broadcast(n4), col("s3_nk") === col("n4_nk"))
      .join(right,
        col("l2_ok") === col("l_orderkey") && col("l2_ln") =!= col("l_linenumber"))
      .groupBy(col("supp_region"), col("cust_region"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("rev"))
      .orderBy(col("supp_region"), col("cust_region"))
  }

  val jobManyRelationsSql: String =
    """SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
      |       count(*) AS n,
      |       CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |FROM lineitem l1
      |JOIN part p1     ON p1.p_partkey = l1.l_partkey
      |JOIN supplier s1 ON s1.s_suppkey = l1.l_suppkey
      |JOIN nation n1   ON n1.n_nationkey = s1.s_nationkey
      |JOIN region r1   ON r1.r_regionkey = n1.n_regionkey
      |JOIN orders o    ON o.o_orderkey = l1.l_orderkey
      |JOIN customer c  ON c.c_custkey = o.o_custkey
      |JOIN nation n2   ON n2.n_nationkey = c.c_nationkey
      |JOIN region r2   ON r2.r_regionkey = n2.n_regionkey
      |JOIN lineitem l2 ON l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_linenumber <> l1.l_linenumber
      |JOIN part p2     ON p2.p_partkey = l2.l_partkey
      |JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      |JOIN nation n3   ON n3.n_nationkey = s2.s_nationkey
      |JOIN region r3   ON r3.r_regionkey = n3.n_regionkey
      |JOIN supplier s3 ON s3.s_nationkey = c.c_nationkey
      |                AND s3.s_suppkey = l1.l_suppkey
      |JOIN nation n4   ON n4.n_nationkey = s3.s_nationkey
      |WHERE p1.p_size < 30 AND p2.p_size < 40 AND o.o_orderstatus <> 'F'
      |GROUP BY supp_region, cust_region
      |ORDER BY supp_region, cust_region""".stripMargin

  /** JOB 8a-family shape: dimension selectivity comes entirely from LIKE
    * predicates (reference `benchmark/imdb/8a.benchmark`: `mc.note LIKE
    * '%(200%)%'`, `cn.country_code`-style string filters drive the join
    * order). Both LIKE-filtered dims broadcast; the prefix LIKE pushes to
    * the scan as StringStartsWith, the suffix LIKE as StringEndsWith —
    * pinned in TpchQueriesSpec so a regression to post-scan filtering is
    * caught. */
  def jobLikeDims(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.t(s, dir, "part").filter(col("p_name").like("red%"))
    val sup = Tables.t(s, dir, "supplier").filter(col("s_name").like("%1"))
    Tables.t(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
  }

  val jobLikeDimsSql: String =
    """SELECT p_type, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE p_name LIKE 'red%' AND s_name LIKE '%1'
      |GROUP BY p_type""".stripMargin

  /** JOB LIKE-disjunction shape: an OR of two contains-LIKEs plus a NOT
    * LIKE on one dimension and a contains-LIKE on a second — the
    * AND-of-OR string-selectivity composition the optimizer must estimate
    * when ordering JOB joins. */
  def jobLikeDisjunct(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.t(s, dir, "part")
      .filter((col("p_name").like("%gear%") || col("p_name").like("%bolt%")) &&
        !col("p_name").like("%small%"))
    val ord = Tables.t(s, dir, "orders")
      .filter(col("o_orderpriority").like("%URGENT%"))
    Tables.t(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("l_quantity"))).cast("double") / count(lit(1)), 6)
          .as("avg_qty"))
  }

  val jobLikeDisjunctSql: String =
    """SELECT p_brand, count(*) AS n,
      |  CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS DOUBLE) AS avg_qty
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE (p_name LIKE '%gear%' OR p_name LIKE '%bolt%')
      |  AND p_name NOT LIKE '%small%'
      |  AND o_orderpriority LIKE '%URGENT%'
      |GROUP BY p_brand""".stripMargin

  /** JOB's signature UNGROUPED MIN-over-join-output aggregate
    * (`SELECT MIN(t.title), MIN(an.name) FROM ...` — every JOB query
    * returns mins over the join result): partial min runs map-side in
    * every scan task, the final exchange carries one row per partition —
    * the cheapest possible aggregate placement at any scale. */
  def jobMinJoin(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.t(s, dir, "part").filter(col("p_name").like("%widget%"))
    val sup = Tables.t(s, dir, "supplier").filter(col("s_name").like("%1"))
    val ord = Tables.t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    Tables.t(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .agg(min(col("p_name")).as("min_pname"), min(col("s_name")).as("min_sname"),
        min(col("o_orderdate")).as("min_odate"), count(lit(1)).as("n"))
  }

  val jobMinJoinSql: String =
    """SELECT min(p_name) AS min_pname, min(s_name) AS min_sname,
      |       min(o_orderdate) AS min_odate, count(*) AS n
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%widget%' AND s_name LIKE '%1' AND o_orderstatus = 'F'""".stripMargin

  /** JOB alias-reuse shape: the SAME table scanned TWICE under DIFFERENT
    * filters, both legs equi-joined to the fact at the same key — JOB's
    * repeated `movie_info mi, movie_info mi_idx` legs with different
    * `info_type` gates (reference `benchmark/imdb/19a.benchmark`'s
    * mi/mi_idx pair). Here lineitem plays the info table against
    * the orders fact: alias 1 keeps returned lines, alias 2 keeps
    * high-quantity lines. The plan property that matters at scale: each
    * alias's filter pushes into ITS OWN parquet scan (per-alias pruning,
    * not one shared unfiltered scan post-filtered twice) — pinned in
    * TpchQueriesSpec. */
  def jobAliasReuse(s: SparkSession, dir: String): DataFrame = {
    val l1 = Tables.t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("k1"), col("l_extendedprice").as("price1"))
    val l2 = Tables.t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey").as("k2"), col("l_quantity").as("qty2"))
    Tables.t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .join(l1, col("o_orderkey") === col("k1"))
      .join(l2, col("o_orderkey") === col("k2"))
      .agg(min(col("o_orderpriority")).as("min_pri"),
        min(dec(col("price1"))).cast("double").as("min_price"),
        max(dec(col("qty2"))).cast("double").as("max_qty"),
        count(lit(1)).as("n"))
  }

  val jobAliasReuseSql: String =
    """SELECT min(o_orderpriority) AS min_pri,
      |       CAST(min(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
      |       CAST(max(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty,
      |       count(*) AS n
      |FROM orders
      |JOIN lineitem l1 ON o_orderkey = l1.l_orderkey
      |JOIN lineitem l2 ON o_orderkey = l2.l_orderkey
      |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' AND l2.l_quantity > 45""".stripMargin

  /** JOB IN-list dimension shape: JOB filters dimensions with IN lists
    * (reference `benchmark/imdb` queries: company_type.kind IN
    * ('production companies', ...), info_type.info IN ('countries',
    * ...)) — the
    * selectivity source the optimizer must push INTO the scan as an `In`
    * filter, not evaluate post-scan. Two IN-filtered dims (one of them
    * reached through a second join hop, JOB's ci→rt pattern) broadcast
    * into the fact; TpchQueriesSpec pins the pushed In(...) filters. */
  def jobInDims(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.t(s, dir, "part")
      .filter(col("p_brand").isin("Brand#11", "Brand#22", "Brand#33"))
    val cust = Tables.t(s, dir, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
    Tables.t(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("p_brand"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
  }

  val jobInDimsSql: String =
    """SELECT p_brand, c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
      |  AND c_mktsegment IN ('BUILDING', 'MACHINERY')
      |GROUP BY p_brand, c_mktsegment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "job_in_dims" -> (jobInDims _),
    "job_alias_reuse" -> (jobAliasReuse _),
    "job_like_dims" -> (jobLikeDims _),
    "job_like_disjunct" -> (jobLikeDisjunct _),
    "job_min_join" -> (jobMinJoin _),
    "job_many_relations" -> (jobManyRelations _),
    "job_cyclic" -> (jobCyclic _),
    "job_disjunctive" -> (jobDisjunctive _),
    "job_fact_fact" -> (jobFactFact _),
    "job_anti_outer" -> (jobAntiOuter _),
    "job_long_chain" -> (jobLongChain _),
    "job_chain" -> (jobChain _),
    "job_bushy" -> (jobBushy _),
    "q1_pricing" -> (q1Pricing _),
    "q3_shipping" -> (q3Shipping _),
    "q5_region" -> (q5Region _),
    "q10_returned" -> (q10Returned _),
    "job_deep_join" -> (jobDeepJoin _))

  val oracle: Map[String, String] = Map(
    "job_in_dims" -> jobInDimsSql,
    "job_alias_reuse" -> jobAliasReuseSql,
    "job_like_dims" -> jobLikeDimsSql,
    "job_like_disjunct" -> jobLikeDisjunctSql,
    "job_min_join" -> jobMinJoinSql,
    "job_many_relations" -> jobManyRelationsSql,
    "job_cyclic" -> jobCyclicSql,
    "job_disjunctive" -> jobDisjunctiveSql,
    "job_fact_fact" -> jobFactFactSql,
    "job_anti_outer" -> jobAntiOuterSql,
    "job_long_chain" -> jobLongChainSql,
    "job_chain" -> jobChainSql,
    "job_bushy" -> jobBushySql,
    "q1_pricing" -> q1Sql,
    "q3_shipping" -> q3Sql,
    "q5_region" -> q5Sql,
    "q10_returned" -> q10Sql,
    "job_deep_join" -> jobDeepJoinSql)
}
