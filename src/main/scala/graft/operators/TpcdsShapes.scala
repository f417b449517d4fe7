package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** TPC-DS-style planner shapes (reference runs the 99-query TPC-DS suite
  * as a first-class benchmark: the 99 `.benchmark` files under
  * `benchmark/tpcds/sf1/`, driven by `benchmark/run_bench.py`). These are the planner-distinct stress
  * shapes a reporting workload hits weekly, adapted to the fixture
  * schema — the POINT is the plan shape (rollup feeding a window, one
  * CTE with two aggregation consumers, two fact scans star-joined,
  * heterogeneous channel union, per-category average band filter), not
  * the TPC-DS column lists.
  *
  * Money stays DECIMAL(18,2) until the final cast to DOUBLE (oracle
  * parity: exact under any partitioning/order); month keys are cast to
  * DATE on both sides (Spark date_trunc yields TIMESTAMP, DuckDB DATE).
  */
object TpcdsShapes extends graft.EntryModule {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** q67-shape: ROLLUP aggregate feeding a ranking window over the SAME
    * aggregated scan (TPC-DS q67 ranks rollup'd store_sales per
    * category), filtered by rank — one scan, one shuffle for the rollup,
    * one for the window partition. */
  def dsWindowRollup(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
    val w = Window.partitionBy(col("rf"))
      .orderBy(col("sum_qty").desc_nulls_last, col("ls").asc_nulls_first)
    agg.withColumn("rk", rank().over(w)).filter(col("rk") <= 2)
  }

  val dsWindowRollupSql: String =
    """WITH agg AS (
      |  SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |         count(*) AS n
      |  FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus))
      |SELECT rf, ls, sum_qty, n, rk FROM (
      |  SELECT *, rank() OVER (PARTITION BY rf
      |    ORDER BY sum_qty DESC NULLS LAST, ls ASC NULLS FIRST) AS rk
      |  FROM agg) t
      |WHERE rk <= 2""".stripMargin

  /** q95-shape: ONE CTE consumed by TWO aggregations whose results join
    * back together (TPC-DS q95 reuses ws_wh twice). In the DataFrame API
    * the shared subplan is a val used twice; Catalyst may re-execute the
    * scan per consumer — acceptable because the CTE is a pure projection
    * (re-scan beats materialize at scale; Spark's ReuseExchange dedups
    * the shuffle if the consumers' partitioning matches). */
  def dsCteReuse(s: SparkSession, dir: String): DataFrame = {
    val mo = Tables.t(s, dir, "orders").select(
      to_date(date_trunc("month", col("o_orderdate"))).as("month"),
      col("o_custkey"), col("o_totalprice"))
    val a = mo.groupBy(col("month")).agg(
      count(lit(1)).as("n_orders"),
      sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    val b = mo.groupBy(col("month"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
    a.join(b, Seq("month"))
  }

  val dsCteReuseSql: String =
    """WITH mo AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         o_custkey, o_totalprice FROM orders)
      |SELECT a.month AS month, a.n_orders, a.revenue, b.n_cust
      |FROM (SELECT month, count(*) AS n_orders,
      |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |      FROM mo GROUP BY month) a
      |JOIN (SELECT month, count(DISTINCT o_custkey) AS n_cust
      |      FROM mo GROUP BY month) b USING (month)""".stripMargin

  /** q64-shape: TWO fact scans (sales vs returns slices of lineitem)
    * joined on a composite key, then star-joined to broadcast dims (part,
    * supplier). The fact⋈fact join shuffles both sides on
    * (partkey, suppkey); the dims broadcast — the one big exchange a
    * two-fact star needs at any scale. */
  def dsTwoFact(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val sales = li.filter(col("l_returnflag") =!= "R").select(
      col("l_orderkey").as("s_ok"), col("l_partkey").as("s_pk"),
      col("l_suppkey").as("s_sk"), col("l_extendedprice").as("s_price"))
    val rets = li.filter(col("l_returnflag") === "R").select(
      col("l_orderkey").as("r_ok"), col("l_partkey").as("r_pk"),
      col("l_suppkey").as("r_sk"), col("l_extendedprice").as("r_price"))
    sales.join(rets,
        col("s_pk") === col("r_pk") && col("s_sk") === col("r_sk") &&
          col("s_ok") < col("r_ok"))
      .join(broadcast(Tables.t(s, dir, "part")), col("s_pk") === col("p_partkey"))
      .join(broadcast(Tables.t(s, dir, "supplier")), col("s_sk") === col("s_suppkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("s_price")) - dec(col("r_price"))).cast("double").as("price_delta"))
  }

  val dsTwoFactSql: String =
    """SELECT p_brand, count(*) AS n_pairs,
      |  CAST(sum(CAST(s.l_extendedprice AS DECIMAL(18,2)) - CAST(r.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_delta
      |FROM lineitem s
      |JOIN lineitem r ON s.l_partkey = r.l_partkey AND s.l_suppkey = r.l_suppkey
      |  AND s.l_orderkey < r.l_orderkey
      |JOIN part ON s.l_partkey = p_partkey
      |JOIN supplier ON s.l_suppkey = s_suppkey
      |WHERE r.l_returnflag = 'R' AND s.l_returnflag <> 'R'
      |GROUP BY p_brand""".stripMargin

  /** q71-shape: heterogeneous channel facts (orders = store, purchase
    * events = web) unioned under a common (channel, month, amount)
    * projection, then aggregated — the multi-channel union every TPC-DS
    * reporting query family (q5, q71, q77) is built on. Each branch's
    * filter/projection pushes to its own scan before the union. */
  def dsChannelUnion(s: SparkSession, dir: String): DataFrame = {
    val store = Tables.t(s, dir, "orders").select(
      lit("store").as("channel"),
      to_date(date_trunc("month", col("o_orderdate"))).as("month"),
      col("o_totalprice").as("amount"))
    val web = Tables.t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(lit("web").as("channel"),
        to_date(date_trunc("month", col("ts"))).as("month"),
        col("value").as("amount"))
    store.unionByName(web)
      .groupBy(col("channel"), col("month"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("amount"))).cast("double").as("total"))
  }

  val dsChannelUnionSql: String =
    """WITH chan AS (
      |  SELECT 'store' AS channel,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         o_totalprice AS amount FROM orders
      |  UNION ALL
      |  SELECT 'web' AS channel, CAST(date_trunc('month', ts) AS DATE) AS month,
      |         value AS amount FROM events WHERE event_type = 'purchase')
      |SELECT channel, month, count(*) AS n,
      |  CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM chan GROUP BY channel, month""".stripMargin

  /** q6-shape: keep fact rows priced above 1.3× their category average
    * (TPC-DS q6's correlated average-price subquery). The correlated
    * scalar subquery decorrelates to a category window over the joined
    * scan; the band test is phrased in exact DECIMAL cross-multiplied
    * integer form (price·cnt·10 > sum·13) so both engines make identical
    * boundary decisions — no float average on either side. */
  def dsAvgBand(s: SparkSession, dir: String): DataFrame = {
    val typed = Tables.t(s, dir, "lineitem")
      .join(broadcast(Tables.t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .select(col("p_type"), dec(col("l_extendedprice")).as("price"))
    val w = Window.partitionBy(col("p_type"))
    typed
      .withColumn("s", sum(col("price")).over(w))
      .withColumn("cnt", count(lit(1)).over(w))
      .filter(col("price") * col("cnt") * 10 > col("s") * 13)
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("revenue"))
  }

  val dsAvgBandSql: String =
    """WITH typed AS (
      |  SELECT p_type, CAST(l_extendedprice AS DECIMAL(18,2)) AS price
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |stats AS (
      |  SELECT p_type, price,
      |    sum(price) OVER (PARTITION BY p_type) AS s,
      |    count(*) OVER (PARTITION BY p_type) AS cnt
      |  FROM typed)
      |SELECT p_type, count(*) AS n, CAST(sum(price) AS DOUBLE) AS revenue
      |FROM stats WHERE price * cnt * 10 > s * 13
      |GROUP BY p_type""".stripMargin

  /** q88-shape: N independent scalar aggregates over the SAME fact with
    * disjoint filters, cross-joined into one row (TPC-DS q88 counts
    * store_sales across eight time-band/demographic slices). Planner
    * stress: scalar-subquery results as a single-row product; each band
    * is its own pushed-filter scan and the joins are trivially
    * broadcast (1 row each). */
  def dsMultiCount(s: SparkSession, dir: String): DataFrame = {
    def band(name: String, lo: Int, hi: Int): DataFrame =
      Tables.t(s, dir, "lineitem")
        .filter(col("l_quantity") >= lo && col("l_quantity") <= hi)
        .agg(count(lit(1)).as(name))
    band("n1", 1, 10)
      .crossJoin(band("n2", 11, 20))
      .crossJoin(band("n3", 21, 35))
      .crossJoin(band("n4", 36, 50))
  }

  val dsMultiCountSql: String =
    """SELECT
      | (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) AS n1,
      | (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) AS n2,
      | (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 21 AND 35) AS n3,
      | (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 36 AND 50) AS n4""".stripMargin

  /** q73-shape: per-key fact counts filtered to a HAVING band, then
    * joined back to the dimension (TPC-DS q73 finds customers with 1-5
    * store visits). The aggregate runs BEFORE the join, so the join input
    * is the band survivors, not the raw fact. */
  def dsHavingBand(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 12 && col("cnt") <= 16)
    counts.join(Tables.t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("cnt"))
  }

  val dsHavingBandSql: String =
    """SELECT c_custkey, c_mktsegment, cnt
      |FROM (SELECT o_custkey, count(*) AS cnt FROM orders
      |      GROUP BY o_custkey HAVING count(*) BETWEEN 12 AND 16) t
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** q14-shape: the key set INTERSECTed across two channel predicates
    * feeds a semi-join back into the fact aggregate (TPC-DS q14's
    * cross_items: items sold in store AND catalog AND web). */
  def dsIntersectItems(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val both = li.filter(col("l_quantity") > 45).select(col("l_partkey"))
      .intersect(li.filter(dec(col("l_extendedprice")) < 5000)
        .select(col("l_partkey")))
    li.join(both, Seq("l_partkey"), "left_semi")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
  }

  val dsIntersectItemsSql: String =
    """SELECT count(*) AS n, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem WHERE l_partkey IN (
      |  SELECT l_partkey FROM lineitem WHERE l_quantity > 45
      |  INTERSECT
      |  SELECT l_partkey FROM lineitem
      |  WHERE CAST(l_extendedprice AS DECIMAL(18,2)) < 5000)""".stripMargin

  /** q10/q35-shape: demographic rollup of customers gated by
    * EXISTS(orders) AND (EXISTS(purchases) OR EXISTS(clicks)). The AND'd
    * EXISTS is a LEFT SEMI join; the OR of two EXISTS decorrelates to
    * MARK joins (left join on the distinct key set + flag — the same
    * recipe as `Joins.markJoin`), because a semi-join can't express a
    * disjunction across two subqueries without losing which side
    * matched. Both mark-side key sets are distinct-projected (tiny) and
    * broadcast under AQE; the fact scan never shuffles. */
  def dsCorrelatedExists(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    def marks(kind: String, flag: String): DataFrame =
      ev.filter(col("event_type") === kind)
        .select(col("user_id").as("c_custkey")).distinct()
        .withColumn(flag, lit(true))
    Tables.t(s, dir, "customer")
      .join(Tables.t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .join(marks("purchase", "has_p"), Seq("c_custkey"), "left")
      .join(marks("click", "has_k"), Seq("c_custkey"), "left")
      .filter(coalesce(col("has_p"), lit(false)) ||
        coalesce(col("has_k"), lit(false)))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("c_acctbal"))).cast("double").as("bal"))
  }

  val dsCorrelatedExistsSql: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  AND (EXISTS (SELECT 1 FROM events
      |               WHERE user_id = c_custkey AND event_type = 'purchase')
      |    OR EXISTS (SELECT 1 FROM events
      |               WHERE user_id = c_custkey AND event_type = 'click'))
      |GROUP BY c_mktsegment""".stripMargin

  /** q78-shape: channel union → per-(channel, month) aggregate → ranking
    * window WITHIN each channel, keeping the top months. Distinct from
    * `dsChannelUnion` by the post-aggregate window stage (TPC-DS q78
    * ranks cross-channel ratios the same way): the window partitions by
    * channel, so it reuses the aggregate's hash partitioning — Spark
    * plans ONE exchange for both when keys align (agg on
    * (channel, month) then window on channel needs a re-partition; at
    * scale the window input is already the aggregate's small output, not
    * the fact). */
  def dsUnionWindow(s: SparkSession, dir: String): DataFrame = {
    val chan = Tables.t(s, dir, "orders").select(
        lit("store").as("channel"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        col("o_totalprice").as("amount"))
      .unionByName(Tables.t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(lit("web").as("channel"),
          to_date(date_trunc("month", col("ts"))).as("month"),
          col("value").as("amount")))
    val tot = chan.groupBy(col("channel"), col("month"))
      .agg(sum(dec(col("amount"))).cast("double").as("total"),
        count(lit(1)).as("n"))
    val w = Window.partitionBy(col("channel"))
      .orderBy(col("total").desc_nulls_last, col("month").asc_nulls_first)
    tot.withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
  }

  val dsUnionWindowSql: String =
    """WITH chan AS (
      |  SELECT 'store' AS channel,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         o_totalprice AS amount FROM orders
      |  UNION ALL
      |  SELECT 'web' AS channel, CAST(date_trunc('month', ts) AS DATE) AS month,
      |         value AS amount FROM events WHERE event_type = 'purchase'),
      |tot AS (
      |  SELECT channel, month,
      |         CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |         count(*) AS n
      |  FROM chan GROUP BY channel, month)
      |SELECT channel, month, total, n, rk FROM (
      |  SELECT *, rank() OVER (PARTITION BY channel
      |    ORDER BY total DESC NULLS LAST, month ASC NULLS FIRST) AS rk
      |  FROM tot) t
      |WHERE rk <= 3""".stripMargin

  /** q77-shape: ROLLUP over a JOINED star (not a bare fact): customer →
    * nation → region dims broadcast onto the probe, then
    * ROLLUP(region, nation) produces per-nation, per-region, and grand
    * totals in one aggregate (TPC-DS q77 rolls up channel totals the
    * same way). One broadcast join pass + one rollup shuffle. */
  def dsRollupJoin(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer")
      .join(broadcast(Tables.t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(dec(col("c_acctbal"))).cast("double").as("bal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"), col("bal"))

  val dsRollupJoinSql: String =
    """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
      |  count(*) AS n_cust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** q38-shape: a THREE-way INTERSECT chain of key sets (customers active
    * in each of three consecutive years — fixture dates span 1995-2001)
    * feeding a count — TPC-DS q38's tri-channel intersect. Each leg is
    * its own pushed-filter scan; INTERSECT plans as distinct + joins on
    * the (small) key sets, never on the fact. */
  def dsIntersectChain(s: SparkSession, dir: String): DataFrame = {
    def active(y: Int): DataFrame =
      Tables.t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_date(lit(f"$y%04d-01-01")) &&
          col("o_orderdate") < to_date(lit(f"${y + 1}%04d-01-01")))
        .select(col("o_custkey"))
    active(1996).intersect(active(1997)).intersect(active(1998))
      .agg(count(lit(1)).as("n"))
  }

  val dsIntersectChainSql: String =
    """SELECT count(*) AS n FROM (
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
      |  INTERSECT
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
      |  INTERSECT
      |  SELECT o_custkey FROM orders
      |  WHERE o_orderdate >= DATE '1998-01-01' AND o_orderdate < DATE '1999-01-01') t""".stripMargin

  /** q51-shape: two channel series aggregated per month, FULL OUTER
    * joined on the period key, then CUMULATIVE windows computed over the
    * joined frame and compared (TPC-DS q51 flags days where the web
    * cumulative overtakes the store cumulative). The outer join keeps
    * months present in only one channel; the running sums are global
    * windows over the tiny post-aggregate frame — the fact is reduced
    * BEFORE any window sees it. */
  def dsCumulCompare(s: SparkSession, dir: String): DataFrame = {
    val store = Tables.t(s, dir, "orders").groupBy(
        to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(sum(dec(col("o_totalprice"))).as("store_d"))
    val web = Tables.t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(date_trunc("month", col("ts"))).as("month"))
      .agg(sum(dec(col("value"))).as("web_d"))
    val w = Window.orderBy(col("month"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    store.join(web, Seq("month"), "full_outer")
      .withColumn("cum_store",
        sum(coalesce(col("store_d"), lit(0).cast(DecimalType(18, 2)))).over(w)
          .cast("double"))
      .withColumn("cum_web",
        sum(coalesce(col("web_d"), lit(0).cast(DecimalType(18, 2)))).over(w)
          .cast("double"))
      .filter(col("cum_web") * 100000 > col("cum_store"))
      .select(col("month"), col("cum_store"), col("cum_web"))
  }

  val dsCumulCompareSql: String =
    """WITH store AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS store_d
      |  FROM orders GROUP BY month),
      |web AS (
      |  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
      |         sum(CAST(value AS DECIMAL(18,2))) AS web_d
      |  FROM events WHERE event_type = 'purchase' GROUP BY month),
      |joined AS (
      |  SELECT coalesce(store.month, web.month) AS month, store_d, web_d
      |  FROM store FULL OUTER JOIN web ON store.month = web.month),
      |cum AS (
      |  SELECT month,
      |    CAST(sum(coalesce(store_d, CAST(0 AS DECIMAL(18,2)))) OVER (
      |      ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_store,
      |    CAST(sum(coalesce(web_d, CAST(0 AS DECIMAL(18,2)))) OVER (
      |      ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_web
      |  FROM joined)
      |SELECT month, cum_store, cum_web FROM cum
      |WHERE cum_web * 100000 > cum_store""".stripMargin

  /** q75-shape: YEAR-OVER-YEAR comparison — one aggregate per (year,
    * segment) self-joined on the shifted year key, reporting the revenue
    * delta for segments that declined (TPC-DS q75's current-vs-prior
    * channel totals). The self-join happens on the tiny post-aggregate
    * frame, never fact-to-fact. */
  def dsYearOverYear(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("yr"), col("c_mktsegment"))
      .agg(sum(dec(col("o_totalprice"))).as("rev_d"), count(lit(1)).as("n"))
    val cur = rev.select(col("yr"), col("c_mktsegment"),
      col("rev_d").as("cur_d"), col("n").as("cur_n"))
    val prev = rev.select((col("yr") + 1).as("yr"), col("c_mktsegment"),
      col("rev_d").as("prev_d"), col("n").as("prev_n"))
    cur.join(prev, Seq("yr", "c_mktsegment"))
      .filter(col("cur_d") < col("prev_d"))
      .select(col("yr"), col("c_mktsegment"),
        col("cur_d").cast("double").as("cur_rev"),
        col("prev_d").cast("double").as("prev_rev"),
        (col("prev_d") - col("cur_d")).cast("double").as("decline"))
  }

  val dsYearOverYearSql: String =
    """WITH rev AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS yr, c_mktsegment,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d, count(*) AS n
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY yr, c_mktsegment)
      |SELECT cur.yr AS yr, cur.c_mktsegment AS c_mktsegment,
      |  CAST(cur.rev_d AS DOUBLE) AS cur_rev,
      |  CAST(prev.rev_d AS DOUBLE) AS prev_rev,
      |  CAST(prev.rev_d - cur.rev_d AS DOUBLE) AS decline
      |FROM rev cur JOIN rev prev
      |  ON cur.yr = prev.yr + 1 AND cur.c_mktsegment = prev.c_mktsegment
      |WHERE cur.rev_d < prev.rev_d""".stripMargin

  /** q23-shape: two CTEs — "frequent items" (items in many distinct
    * orders) and "best customers" (spend above a fraction of the MAX
    * spend, the scalar-subquery-over-CTE ranking) — gating a two-channel
    * fact aggregate (reference `benchmark/tpcds/sf1/23.benchmark`). The
    * max-spend scalar broadcasts (1 row); both gates plan as semi joins,
    * never materializing the filtered fact. */
  def dsBestSellers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val freq = li.groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_orderkey")).as("nord"))
      .filter(col("nord") > 4).select("l_partkey")
    val custSales = Tables.t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).as("csales"))
    val mx = custSales.agg(max(col("csales").cast("double")).as("mx"))
    val best = custSales.crossJoin(broadcast(mx))
      .filter(col("csales").cast("double") > lit(0.5) * col("mx"))
      .select("o_custkey")
    li.join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(freq, Seq("l_partkey"), "left_semi")
      .join(best, Seq("o_custkey"), "left_semi")
      .groupBy(col("l_linestatus").as("channel"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("sales"),
        count(lit(1)).as("n"))
  }

  val dsBestSellersSql: String =
    """WITH freq AS (
      |  SELECT l_partkey FROM lineitem GROUP BY l_partkey
      |  HAVING count(DISTINCT l_orderkey) > 4),
      |cust_sales AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS csales
      |  FROM orders GROUP BY o_custkey),
      |best AS (
      |  SELECT o_custkey FROM cust_sales
      |  WHERE CAST(csales AS DOUBLE) > (SELECT 0.5 * max(CAST(csales AS DOUBLE)) FROM cust_sales))
      |SELECT l_linestatus AS channel,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales,
      |  count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_partkey IN (SELECT l_partkey FROM freq)
      |  AND o_custkey IN (SELECT o_custkey FROM best)
      |GROUP BY channel""".stripMargin

  /** q4/q11-shape: per-customer per-year per-channel totals CTE consumed
    * FOUR times (prev/cur × two channels), joined on the shifted year,
    * keeping customers whose priority-channel growth beat the standard
    * channel (reference `benchmark/tpcds/sf1/{4,11}.benchmark`). Growth
    * comparison cross-multiplies the DECIMAL totals — exact, no
    * division. The four consumers self-join on the small post-aggregate
    * frame, never fact-to-fact. */
  def dsGrowthChannels(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Spark-first re-expression of the 4-way CTE self-join: ONE
    // conditional aggregate pivots both channels into columns, ONE lag
    // window replaces the prev-year joins entirely — one fact scan, one
    // aggregate shuffle, one window shuffle, zero joins (the oracle SQL
    // keeps the CTE-self-join spelling; results are identical because
    // inner-join presence = all four totals non-null + consecutive years).
    val chan = Tables.t(s, dir, "orders")
      .groupBy(col("o_custkey").as("cust"),
        year(col("o_orderdate")).cast("int").as("yr"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          dec(col("o_totalprice")))).as("pri_total"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          dec(col("o_totalprice")))).as("std_total"))
    val w = Window.partitionBy(col("cust")).orderBy(col("yr"))
    chan.select(col("cust"), col("yr"),
        lag(col("yr"), 1).over(w).as("prev_yr"),
        lag(col("pri_total"), 1).over(w).as("p1_total"),
        col("pri_total").as("p2_total"),
        lag(col("std_total"), 1).over(w).as("s1_total"),
        col("std_total").as("s2_total"))
      .filter(col("prev_yr") === col("yr") - 1 &&
        col("p1_total").isNotNull && col("p2_total").isNotNull &&
        col("s1_total").isNotNull && col("s2_total").isNotNull &&
        col("p2_total") * col("s1_total") > col("s2_total") * col("p1_total"))
      .select(col("cust"), col("yr"),
        col("p1_total").cast("double").as("pri_prev"),
        col("p2_total").cast("double").as("pri_cur"),
        col("s1_total").cast("double").as("std_prev"),
        col("s2_total").cast("double").as("std_cur"))
  }

  val dsGrowthChannelsSql: String =
    """WITH chan AS (
      |  SELECT o_custkey AS cust, CAST(year(o_orderdate) AS INT) AS yr,
      |         CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'pri' ELSE 'std' END AS ch,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
      |  FROM orders GROUP BY cust, yr, ch)
      |SELECT p2.cust AS cust, p2.yr AS yr,
      |  CAST(p1.total AS DOUBLE) AS pri_prev, CAST(p2.total AS DOUBLE) AS pri_cur,
      |  CAST(s1.total AS DOUBLE) AS std_prev, CAST(s2.total AS DOUBLE) AS std_cur
      |FROM chan p1 JOIN chan p2 ON p1.cust = p2.cust AND p2.yr = p1.yr + 1
      |  AND p1.ch = 'pri' AND p2.ch = 'pri'
      |JOIN chan s1 ON s1.cust = p1.cust AND s1.yr = p1.yr AND s1.ch = 'std'
      |JOIN chan s2 ON s2.cust = p1.cust AND s2.yr = p2.yr AND s2.ch = 'std'
      |WHERE p2.total * s1.total > s2.total * p1.total""".stripMargin

  /** q47/q57-shape: monthly segment totals with BOTH window families the
    * moving-average queries need — a year-partition average (sum/count
    * over (seg, yr), exact DECIMAL sums divided as double) and
    * lag/lead over the month sequence — reporting months that deviate
    * >10% from their year's average (reference
    * `benchmark/tpcds/sf1/{47,57}.benchmark`). One aggregate shuffle,
    * one window shuffle on seg. */
  def dsMovingAvg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        year(col("o_orderdate")).cast("int").as("yr"))
      .agg(sum(dec(col("o_totalprice"))).as("v"))
    val wYr = Window.partitionBy(col("seg"), col("yr"))
    val wSeq = Window.partitionBy(col("seg")).orderBy(col("month"))
    m.select(col("seg"), col("month"), col("v").cast("double").as("v"),
        (sum(col("v")).over(wYr).cast("double") /
          count(lit(1)).over(wYr).cast("double")).as("yr_avg"),
        lag(col("v"), 1).over(wSeq).cast("double").as("prev_v"),
        lead(col("v"), 1).over(wSeq).cast("double").as("next_v"))
      .filter(abs(col("v") - col("yr_avg")) > lit(0.1) * col("yr_avg"))
  }

  val dsMovingAvgSql: String =
    """WITH m AS (
      |  SELECT c_mktsegment AS seg, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         CAST(year(o_orderdate) AS INT) AS yr,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY seg, month, yr),
      |w AS (
      |  SELECT seg, month, CAST(v AS DOUBLE) AS v,
      |    CAST(sum(v) OVER (PARTITION BY seg, yr) AS DOUBLE)
      |      / CAST(count(*) OVER (PARTITION BY seg, yr) AS DOUBLE) AS yr_avg,
      |    CAST(lag(v) OVER (PARTITION BY seg ORDER BY month) AS DOUBLE) AS prev_v,
      |    CAST(lead(v) OVER (PARTITION BY seg ORDER BY month) AS DOUBLE) AS next_v
      |  FROM m)
      |SELECT seg, month, v, yr_avg, prev_v, next_v
      |FROM w WHERE abs(v - yr_avg) > 0.1 * yr_avg""".stripMargin

  /** q17/q29-shape: THREE fact scans chained — a sale, a later return of
    * the same (part, supplier), and a still-later re-sale — aggregated
    * per brand (reference `benchmark/tpcds/sf1/{17,29}.benchmark`'s
    * store_sales ⋈ store_returns ⋈ catalog_sales quantity chain). The
    * two fact⋈fact joins shuffle on (pk, sk) once and reuse the
    * partitioning; part broadcasts. */
  def dsThreeFactChain(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    def slice(flagIsR: Boolean, pfx: String) = li
      .filter(if (flagIsR) col("l_returnflag") === "R" else col("l_returnflag") =!= "R")
      .select(col("l_orderkey").as(s"${pfx}_ok"), col("l_partkey").as(s"${pfx}_pk"),
        col("l_suppkey").as(s"${pfx}_sk"), col("l_quantity").as(s"${pfx}_q"))
    val sales = slice(flagIsR = false, "s")
    val rets = slice(flagIsR = true, "r")
    val resale = slice(flagIsR = false, "t")
    sales
      .join(rets, col("s_pk") === col("r_pk") && col("s_sk") === col("r_sk") &&
        col("s_ok") < col("r_ok"))
      .join(resale, col("t_pk") === col("r_pk") && col("t_sk") === col("r_sk") &&
        col("t_ok") > col("r_ok"))
      .join(broadcast(Tables.t(s, dir, "part")), col("p_partkey") === col("s_pk"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("s_q"))).cast("double").as("sold_q"),
        sum(dec(col("r_q"))).cast("double").as("ret_q"),
        sum(dec(col("t_q"))).cast("double").as("rebuy_q"))
  }

  val dsThreeFactChainSql: String =
    """WITH sales AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk, l_suppkey AS sk, l_quantity AS q
      |  FROM lineitem WHERE l_returnflag <> 'R'),
      |rets AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk, l_suppkey AS sk, l_quantity AS q
      |  FROM lineitem WHERE l_returnflag = 'R')
      |SELECT p_brand, count(*) AS n,
      |  CAST(sum(CAST(s.q AS DECIMAL(18,2))) AS DOUBLE) AS sold_q,
      |  CAST(sum(CAST(r.q AS DECIMAL(18,2))) AS DOUBLE) AS ret_q,
      |  CAST(sum(CAST(s2.q AS DECIMAL(18,2))) AS DOUBLE) AS rebuy_q
      |FROM sales s
      |JOIN rets r ON s.pk = r.pk AND s.sk = r.sk AND s.ok < r.ok
      |JOIN sales s2 ON s2.pk = r.pk AND s2.sk = r.sk AND s2.ok > r.ok
      |JOIN part ON p_partkey = s.pk
      |GROUP BY p_brand""".stripMargin

  /** q49-shape: per-channel return-ratio ranking — ratio of returned to
    * total quantity per (channel, item), ranked within each channel,
    * top 10 kept (reference `benchmark/tpcds/sf1/49.benchmark`'s union
    * of per-channel ranked return ratios). Sums stay DECIMAL so the
    * ratio is a deterministic double; partkey tie-break makes the rank
    * total-ordered. */
  def dsRankedReturns(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ratio = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_linestatus").as("channel"), col("l_partkey"))
      .agg(sum(when(col("l_returnflag") === "R", dec(col("l_quantity")))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("ret_q"),
        sum(dec(col("l_quantity"))).as("tot_q"))
      .filter(col("ret_q") > 0)
    val w = Window.partitionBy(col("channel"))
      .orderBy((col("ret_q").cast("double") / col("tot_q").cast("double")).desc,
        col("l_partkey"))
    ratio.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 10)
      .select(col("channel"), col("l_partkey"), col("rnk"))
  }

  val dsRankedReturnsSql: String =
    """WITH ratio AS (
      |  SELECT l_linestatus AS channel, l_partkey,
      |         sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2))
      |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS ret_q,
      |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS tot_q
      |  FROM lineitem GROUP BY channel, l_partkey)
      |SELECT channel, l_partkey, rnk FROM (
      |  SELECT channel, l_partkey,
      |    rank() OVER (PARTITION BY channel
      |      ORDER BY CAST(ret_q AS DOUBLE) / CAST(tot_q AS DOUBLE) DESC, l_partkey) AS rnk
      |  FROM ratio WHERE ret_q > 0) t
      |WHERE rnk <= 10""".stripMargin

  /** q93-shape: sales LEFT OUTER JOIN an aggregated returns side with
    * CONDITIONAL arithmetic on the match — net quantity is the sale's
    * quantity less the pair's returned quantity when a return exists,
    * unchanged otherwise (reference `benchmark/tpcds/sf1/93.benchmark`'s
    * store_sales ⋖ store_returns effective-quantity computation). The
    * returns side pre-aggregates per (part, supplier) BEFORE the join —
    * at scale the outer join's right side is item-cardinality, not
    * fact-cardinality. */
  def dsNetReturns(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val rets = li.filter(col("l_returnflag") === "R")
      .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .agg(sum(col("l_quantity")).as("rq"))
    li.filter(col("l_returnflag") =!= "R")
      .join(rets, col("l_partkey") === col("pk") && col("l_suppkey") === col("sk"),
        "left_outer")
      .join(broadcast(Tables.t(s, dir, "part")), col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"))
      .agg(sum(when(col("pk").isNotNull, col("l_quantity") - col("rq"))
          .otherwise(col("l_quantity")).cast(DecimalType(18, 2)))
          .cast("double").as("net_qty"),
        count(lit(1)).as("n"),
        sum(when(col("pk").isNotNull, 1L).otherwise(0L)).as("n_matched"))
  }

  val dsNetReturnsSql: String =
    """WITH rets AS (
      |  SELECT l_partkey AS pk, l_suppkey AS sk, sum(l_quantity) AS rq
      |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY pk, sk)
      |SELECT p_brand,
      |  CAST(sum(CAST(CASE WHEN rets.pk IS NOT NULL THEN s.l_quantity - rets.rq
      |                     ELSE s.l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS net_qty,
      |  count(*) AS n,
      |  CAST(sum(CASE WHEN rets.pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
      |FROM lineitem s
      |LEFT JOIN rets ON s.l_partkey = rets.pk AND s.l_suppkey = rets.sk
      |JOIN part ON p_partkey = s.l_partkey
      |WHERE s.l_returnflag <> 'R'
      |GROUP BY p_brand""".stripMargin

  /** q88-shape: a battery of independently-filtered counts of ONE fact
    * returned as the columns of a single row (reference
    * `benchmark/tpcds/sf1/88.benchmark`: 8 scalar subqueries over
    * store_sales crossed into one row). Spark-first re-expression: the
    * subquery battery folds into ONE conditional aggregate — one scan,
    * one 1-row exchange — instead of the reference's 8 scans; the oracle
    * keeps the literal 6-subquery cross-join form, so the gate proves
    * the fold is value-identical. */
  def dsScalarBattery(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    def cnt(p: Column) = sum(when(p, 1L).otherwise(0L))
    li.agg(
      cnt(col("l_quantity").between(1, 10) && col("l_discount") < 0.03).as("n1"),
      cnt(col("l_quantity").between(11, 20) && col("l_discount") < 0.05).as("n2"),
      cnt(col("l_quantity").between(21, 30) && col("l_discount") < 0.07).as("n3"),
      cnt(col("l_quantity").between(31, 40) && col("l_tax") < 0.04).as("n4"),
      cnt(col("l_quantity").between(41, 50) && col("l_tax") < 0.06).as("n5"),
      cnt(col("l_returnflag") === "R" && col("l_discount") >= 0.05).as("n6"))
  }

  val dsScalarBatterySql: String =
    """SELECT * FROM
      |(SELECT count(*) AS n1 FROM lineitem WHERE l_quantity BETWEEN 1 AND 10 AND l_discount < 0.03),
      |(SELECT count(*) AS n2 FROM lineitem WHERE l_quantity BETWEEN 11 AND 20 AND l_discount < 0.05),
      |(SELECT count(*) AS n3 FROM lineitem WHERE l_quantity BETWEEN 21 AND 30 AND l_discount < 0.07),
      |(SELECT count(*) AS n4 FROM lineitem WHERE l_quantity BETWEEN 31 AND 40 AND l_tax < 0.04),
      |(SELECT count(*) AS n5 FROM lineitem WHERE l_quantity BETWEEN 41 AND 50 AND l_tax < 0.06),
      |(SELECT count(*) AS n6 FROM lineitem WHERE l_returnflag = 'R' AND l_discount >= 0.05)""".stripMargin

  /** q9-shape: CASE WHEN over scalar-subquery counts selecting WHICH
    * aggregate each output column reports (reference
    * `benchmark/tpcds/sf1/9.benchmark`: 5 quantity buckets, each CASE
    * choosing between two avgs by a count threshold). Same Spark-first
    * fold as [[dsScalarBattery]]: all 9 reference subqueries (3 buckets ×
    * count/avg/avg) collapse into one conditional aggregate; the CASE
    * then runs on the single aggregated row. Money avgs stay DECIMAL
    * until the final DOUBLE cast (exact under any row order). */
  def dsCaseBuckets(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    // avg spelled as exact-decimal sum → double ÷ count: DuckDB's
    // avg(DECIMAL) returns an order-dependent double, the split form is
    // deterministic on both engines (and null-safe on an empty bucket:
    // null numerator short-circuits ANSI's divide-by-zero)
    def bucket(p: Column, i: Int) = Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n$i"),
      (sum(when(p, dec(col("l_extendedprice")))).cast("double") /
        sum(when(p, 1L).otherwise(0L)).cast("double")).as(s"pe$i"),
      (sum(when(p, dec(col("l_discount")))).cast("double") /
        sum(when(p, 1L).otherwise(0L)).cast("double")).as(s"pd$i"))
    val b1 = col("l_quantity").between(1, 20)
    val b2 = col("l_quantity").between(21, 40)
    val b3 = col("l_quantity") > 40
    val aggs = bucket(b1, 1) ++ bucket(b2, 2) ++ bucket(b3, 3)
    li.agg(aggs.head, aggs.tail: _*)
      .select(
        when(col("n1") > 20000, col("pe1")).otherwise(col("pd1")).as("b1"),
        when(col("n2") > 20000, col("pe2")).otherwise(col("pd2")).as("b2"),
        when(col("n3") > 20000, col("pe3")).otherwise(col("pd3")).as("b3"))
  }

  val dsCaseBucketsSql: String =
    """SELECT
      |  CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 20) > 20000
      |       THEN (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |             FROM lineitem WHERE l_quantity BETWEEN 1 AND 20)
      |       ELSE (SELECT CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |             FROM lineitem WHERE l_quantity BETWEEN 1 AND 20) END AS b1,
      |  CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 21 AND 40) > 20000
      |       THEN (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |             FROM lineitem WHERE l_quantity BETWEEN 21 AND 40)
      |       ELSE (SELECT CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |             FROM lineitem WHERE l_quantity BETWEEN 21 AND 40) END AS b2,
      |  CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity > 40) > 20000
      |       THEN (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |             FROM lineitem WHERE l_quantity > 40)
      |       ELSE (SELECT CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |             FROM lineitem WHERE l_quantity > 40) END AS b3""".stripMargin

  /** q95-shape: order-grain EXISTS pair — orders whose lines ship from
    * MORE than one supplier and none of whose lines were returned
    * (reference `benchmark/tpcds/sf1/95.benchmark` / TPC-H q21 family:
    * EXISTS(same order, different supplier) AND NOT EXISTS(returned)).
    * Spark-first: both correlated EXISTS collapse into ONE order-grain
    * aggregate of the fact (distinct-supplier count + returned flag) —
    * one fact shuffle on the order key replaces two correlated fact
    * self-joins; the oracle keeps the literal EXISTS/NOT EXISTS form. */
  def dsExistsPair(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val multi = li.groupBy(col("l_orderkey").as("ok"))
      .agg(countDistinct(col("l_suppkey")).as("ns"),
        max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("ret"))
      .filter(col("ns") > 1 && col("ret") === 0L)
      .select(col("ok"))
    Tables.t(s, dir, "orders")
      .join(multi, col("o_orderkey") === col("ok"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
  }

  val dsExistsPairSql: String =
    """WITH multi AS (
      |  SELECT l1.l_orderkey AS ok FROM lineitem l1
      |  WHERE EXISTS (SELECT 1 FROM lineitem l2
      |                WHERE l2.l_orderkey = l1.l_orderkey
      |                  AND l2.l_suppkey <> l1.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                    WHERE l3.l_orderkey = l1.l_orderkey
      |                      AND l3.l_returnflag = 'R')
      |  GROUP BY l1.l_orderkey)
      |SELECT count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN multi ON o_orderkey = ok""".stripMargin

  /** q31-shape: two channels' month-over-month growth compared by
    * JOINING the grouped series on (segment, month) — the join-aligned
    * period-comparison form (reference `benchmark/tpcds/sf1/31.benchmark`
    * compares store vs web quarter-over-quarter growth per county),
    * distinct from [[dsMovingAvg]]'s pure-window form. Both channel
    * aggregates share one orders⋈customer scan shape; the lag windows
    * re-use each aggregate's (seg) partitioning; growth ratios divide as
    * DOUBLE (exact decimal→double conversion on both engines). */
  def dsShareGrowth(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
    def channel(p: Column) = base.filter(p)
      .groupBy(col("c_mktsegment").as("seg"),
        to_date(date_trunc("month", col("o_orderdate"))).as("m"))
      .agg(sum(dec(col("o_totalprice"))).as("v"))
      .withColumn("pv",
        lag(col("v"), 1).over(Window.partitionBy(col("seg")).orderBy(col("m"))))
      .filter(col("pv").isNotNull)
      .select(col("seg"), col("m"),
        (col("v").cast("double") / col("pv").cast("double")).as("growth"))
    val hi = channel(col("o_totalprice") >= 100000).withColumnRenamed("growth", "hi_growth")
    val lo = channel(col("o_totalprice") < 100000).withColumnRenamed("growth", "lo_growth")
    hi.join(lo, Seq("seg", "m"))
      .filter(col("hi_growth") > col("lo_growth"))
      .select(col("seg"), col("m"), col("hi_growth"), col("lo_growth"))
  }

  val dsShareGrowthSql: String =
    """WITH base AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |         o_totalprice
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |hi AS (
      |  SELECT seg, m, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      |  FROM base WHERE o_totalprice >= 100000 GROUP BY seg, m),
      |lo AS (
      |  SELECT seg, m, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      |  FROM base WHERE o_totalprice < 100000 GROUP BY seg, m),
      |hg AS (SELECT seg, m, v, lag(v) OVER (PARTITION BY seg ORDER BY m) AS pv FROM hi),
      |lg AS (SELECT seg, m, v, lag(v) OVER (PARTITION BY seg ORDER BY m) AS pv FROM lo)
      |SELECT hg.seg AS seg, hg.m AS m,
      |  CAST(hg.v AS DOUBLE) / CAST(hg.pv AS DOUBLE) AS hi_growth,
      |  CAST(lg.v AS DOUBLE) / CAST(lg.pv AS DOUBLE) AS lo_growth
      |FROM hg JOIN lg ON hg.seg = lg.seg AND hg.m = lg.m
      |WHERE hg.pv IS NOT NULL AND lg.pv IS NOT NULL
      |  AND CAST(hg.v AS DOUBLE) / CAST(hg.pv AS DOUBLE)
      |    > CAST(lg.v AS DOUBLE) / CAST(lg.pv AS DOUBLE)""".stripMargin

  /** q34/q73-shape: basket-size band — orders whose line count falls in
    * a HAVING band, joined BACK to the order/customer detail (reference
    * `benchmark/tpcds/sf1/{34,73}.benchmark`: households with 15-20
    * items per trip, then the buyers' names). One fact aggregate at
    * order grain, band filter, then two joins; the band must apply
    * BEFORE the joins (the aggregate's HAVING prunes ~2/3 of orders). */
  def dsBasketBand(s: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("ok"))
      .agg(count(lit(1)).as("n_items"))
      .filter(col("n_items").between(5, 7))
    Tables.t(s, dir, "orders")
      .join(baskets, col("o_orderkey") === col("ok"))
      .join(Tables.t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("rev"),
        sum(col("n_items")).cast("long").as("items"))
      .orderBy(col("seg"))
  }

  val dsBasketBandSql: String =
    """WITH baskets AS (
      |  SELECT l_orderkey AS ok, count(*) AS n_items
      |  FROM lineitem GROUP BY l_orderkey HAVING count(*) BETWEEN 5 AND 7)
      |SELECT c_mktsegment AS seg, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
      |       CAST(sum(n_items) AS BIGINT) AS items
      |FROM orders JOIN baskets ON o_orderkey = ok
      |JOIN customer ON c_custkey = o_custkey
      |GROUP BY seg ORDER BY seg""".stripMargin

  /** q8-shape: EXPRESSION join keys — customers and suppliers matched on
    * a computed key (name-suffix here; zip prefix in the reference,
    * `benchmark/tpcds/sf1/8.benchmark` substr(ca_zip,1,5) IN (...))
    * plus a plain column key. The planner must hash-partition on the
    * expression (no pre-materialized column exists on either side) and
    * keep the compound key an equi-join. */
  def dsExprKeyJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(s, dir, "customer")
      .select(substring(col("c_name"), -2, 2).as("suffix"),
        col("c_nationkey").as("c_nk"), col("c_acctbal"))
    val su = Tables.t(s, dir, "supplier")
      .select(substring(col("s_name"), -2, 2).as("s_suffix"),
        col("s_nationkey").as("s_nk"), col("s_acctbal"))
    c.join(su, col("suffix") === col("s_suffix") && col("c_nk") === col("s_nk"))
      .groupBy(col("suffix"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(dec(col("c_acctbal")) + dec(col("s_acctbal"))), 2)
          .cast("double").as("bal"))
      .orderBy(col("suffix"))
  }

  val dsExprKeyJoinSql: String =
    """SELECT substr(c_name, -2) AS suffix, count(*) AS n_pairs,
      |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))
      |                      + CAST(s_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS bal
      |FROM customer JOIN supplier
      |  ON substr(c_name, -2) = substr(s_name, -2)
      | AND c_nationkey = s_nationkey
      |GROUP BY suffix ORDER BY suffix""".stripMargin

  /** q36/q70-shape: ranking WITHIN each ROLLUP grouping level — the
    * window partitions on `grouping_id()` of the rollup output
    * (reference `benchmark/tpcds/sf1/{36,70}.benchmark`: gross-margin
    * rank within (state, county) lattice levels). One Expand for the
    * rollup, one window over the (tiny) aggregated frame; the grouping
    * id must flow into the partition spec, not be re-derived. */
  def dsRollupRank(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"),
        sum(dec(col("l_quantity"))).cast("double").as("qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("rev"))
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("gid"), col("qty"), col("rev"))
    agg.withColumn("rk",
        rank().over(Window.partitionBy(col("gid"), col("rf"))
          .orderBy(col("rev").desc, col("ls").asc_nulls_first)))
      .orderBy(col("gid"), col("rf").asc_nulls_first, col("ls").asc_nulls_first)
  }

  val dsRollupRankSql: String =
    """WITH agg AS (
      |  SELECT l_returnflag AS rf, l_linestatus AS ls,
      |         GROUPING(l_returnflag, l_linestatus) AS gid,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |  FROM lineitem
      |  GROUP BY ROLLUP (l_returnflag, l_linestatus))
      |SELECT rf, ls, gid, qty, rev,
      |       rank() OVER (PARTITION BY gid, rf
      |                    ORDER BY rev DESC, ls NULLS FIRST) AS rk
      |FROM agg
      |ORDER BY gid, rf NULLS FIRST, ls NULLS FIRST""".stripMargin

  /** q44-shape: best/worst rank join — the same aggregated frame ranked
    * ascending AND descending, positions equi-joined so row k pairs the
    * k-th best with the k-th worst (reference
    * `benchmark/tpcds/sf1/44.benchmark`). The two windows share one
    * aggregate; the position join is tiny (top-10 after filter). */
  def dsBestWorst(s: SparkSession, dir: String): DataFrame = {
    val perf = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("pk"))
      .agg((sum(dec(col("l_discount"))).cast("double") /
        count(lit(1)).cast("double")).as("d"), count(lit(1)).as("n"))
      .filter(col("n") >= 3).drop("n")
    val best = perf.withColumn("pos",
      row_number().over(Window.orderBy(col("d").asc, col("pk"))))
    val worst = perf.select(col("pk").as("w_pk"), col("d").as("w_d"))
      .withColumn("pos",
        row_number().over(Window.orderBy(col("w_d").desc, col("w_pk"))))
    best.join(worst, "pos").filter(col("pos") <= 10)
      .select(col("pos"), col("pk").as("best_pk"),
        round(col("d"), 6).as("best_d"),
        col("w_pk").as("worst_pk"), round(col("w_d"), 6).as("worst_d"))
      .orderBy(col("pos"))
  }

  val dsBestWorstSql: String =
    """WITH perf AS (
      |  SELECT l_partkey AS pk,
      |         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS d
      |  FROM lineitem GROUP BY l_partkey HAVING count(*) >= 3),
      |best AS (SELECT pk, d, row_number() OVER (ORDER BY d ASC, pk) AS pos FROM perf),
      |worst AS (SELECT pk, d, row_number() OVER (ORDER BY d DESC, pk) AS pos FROM perf)
      |SELECT b.pos AS pos, b.pk AS best_pk,
      |       CAST(round(b.d, 6) AS DOUBLE) AS best_d,
      |       w.pk AS worst_pk, CAST(round(w.d, 6) AS DOUBLE) AS worst_d
      |FROM best b JOIN worst w ON b.pos = w.pos
      |WHERE b.pos <= 10 ORDER BY b.pos""".stripMargin

  /** q64-shape (full): TPC-DS q64 builds a WIDE multi-join cross_sales
    * CTE and joins it to ITSELF across two years (cs1.year=1999 to
    * cs2.year=2000 on item+store with cnt2 <= cnt1).
    *
    * MEASURED plan decision (round 11): the naive CTE-self-join form
    * scans the fact TWICE — Catalyst pushes each year slice's filter
    * below the aggregate and prunes each consumer's columns (y2 drops
    * n_supp), so the two wide subtrees are NOT canonically equal and
    * ReuseExchange can never fire (verified in the formatted plan: two
    * full scan→3-join→aggregate pipelines under the self-join). The
    * Spark-first plan is ONE conditional-aggregation pass: group by
    * (part, brand) with per-year filtered aggregates — one fact scan,
    * one shuffle, zero self-joins. At 100 TB that halves the dominant
    * cost; TpcdsShapesSpec pins the single scan. The oracle keeps the
    * reference's self-join SQL — same result, cross-checked. */
  def dsTwoPass(s: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(18, 2))
    val rev = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
    val yr = year(col("o_orderdate"))
    Tables.t(s, dir, "lineitem")
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .filter(yr.isin(1996, 1997))
      .groupBy(col("p_partkey"), col("p_brand"))
      .agg(
        count(when(yr === 1996, lit(1))).as("cnt1"),
        countDistinct(when(yr === 1996, col("s_suppkey"))).as("n_supp1"),
        sum(when(yr === 1996, rev)).as("rev1_d"),
        count(when(yr === 1997, lit(1))).as("cnt2"),
        sum(when(yr === 1997, rev)).as("rev2_d"))
      .filter(col("cnt1") > 0 && col("cnt2") > 0 && col("cnt2") <= col("cnt1"))
      .select(col("p_partkey"), col("p_brand"), col("cnt1"), col("n_supp1"),
        col("rev1_d").cast("double").as("rev1"),
        col("cnt2"), col("rev2_d").cast("double").as("rev2"))
  }

  val dsTwoPassSql: String =
    """WITH wide AS (
      |  SELECT p_partkey, p_brand, year(o_orderdate) AS yr,
      |         count(*) AS cnt, count(DISTINCT s_suppkey) AS n_supp,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2, 3)
      |SELECT y1.p_partkey AS p_partkey, y1.p_brand AS p_brand,
      |       y1.cnt AS cnt1, y1.n_supp AS n_supp1,
      |       CAST(y1.rev_d AS DOUBLE) AS rev1,
      |       y2.cnt AS cnt2, CAST(y2.rev_d AS DOUBLE) AS rev2
      |FROM wide y1
      |JOIN wide y2 ON y1.p_partkey = y2.p_partkey AND y1.p_brand = y2.p_brand
      |WHERE y1.yr = 1996 AND y2.yr = 1997 AND y2.cnt <= y1.cnt""".stripMargin

  /** q78-shape: channel fact slices ANTI-joined against the returns set
    * before aggregating, then the per-(year, item) channel aggregates
    * ratio'd (TPC-DS q78 does this with ss/ws/cs vs their returns
    * tables).
    *
    * MEASURED plan decision (round 11): the per-channel form (three
    * filtered slices, each anti-joined, LEFT-joined back together) scans
    * the fact THREE times — the channel filters diverge the canonical
    * subtrees, so neither the slices nor the thrice-referenced returns
    * distinct are exchange-reusable (verified: no ReusedExchange in the
    * formatted plan). Because the channels PARTITION the rows
    * (l_suppkey % 3), the Spark-first plan is one anti-join over the
    * undivided non-returned fact followed by ONE conditional aggregate:
    * per-channel sums as filtered aggregates on the same (year, item)
    * group — one fact scan, one returns scan, one join, one shuffle.
    * TpcdsShapesSpec pins the single anti-join and scan count. The
    * oracle keeps the reference's per-channel self-join SQL — same
    * result, cross-checked. */
  def dsThreeChannel(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val rets = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("r_ok"), col("l_partkey").as("r_pk")).distinct()
    val c = col("l_suppkey") % 3
    val grouped = li.filter(col("l_returnflag") =!= "R")
      .join(rets,
        col("l_orderkey") === col("r_ok") && col("l_partkey") === col("r_pk"),
        "left_anti")
      .groupBy(year(col("l_shipdate")).as("yr"), col("l_partkey"))
      .agg(
        sum(when(c === 0, dec(col("l_quantity")))).as("qty"),
        sum(when(c === 0, dec(col("l_extendedprice")))).as("amt"),
        sum(when(c === 1, dec(col("l_quantity")))).as("ws_qty"),
        sum(when(c === 2, dec(col("l_quantity")))).as("cs_qty"))
    val other = coalesce(col("ws_qty"), lit(0)) + coalesce(col("cs_qty"), lit(0))
    grouped
      .filter(col("qty").isNotNull && other > 0)
      .select(col("yr"), col("l_partkey"),
        col("qty").cast("double").as("ss_qty"),
        col("amt").cast("double").as("ss_amt"),
        round(col("qty").cast("double") / other.cast("double"), 6).as("ratio"))
  }

  val dsThreeChannelSql: String =
    """WITH rets AS (
      |  SELECT DISTINCT l_orderkey AS r_ok, l_partkey AS r_pk
      |  FROM lineitem WHERE l_returnflag = 'R'),
      |chan AS (
      |  SELECT l_suppkey % 3 AS c, year(l_shipdate) AS yr, l_partkey,
      |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS amt
      |  FROM lineitem l
      |  WHERE l_returnflag <> 'R' AND NOT EXISTS (
      |    SELECT 1 FROM rets r WHERE r.r_ok = l.l_orderkey AND r.r_pk = l.l_partkey)
      |  GROUP BY 1, 2, 3)
      |SELECT ss.yr AS yr, ss.l_partkey AS l_partkey,
      |       CAST(ss.qty AS DOUBLE) AS ss_qty, CAST(ss.amt AS DOUBLE) AS ss_amt,
      |       CAST(round(CAST(ss.qty AS DOUBLE) /
      |            CAST(coalesce(ws.qty, 0) + coalesce(cs.qty, 0) AS DOUBLE), 6)
      |            AS DOUBLE) AS ratio
      |FROM chan ss
      |LEFT JOIN chan ws ON ws.c = 1 AND ss.yr = ws.yr AND ss.l_partkey = ws.l_partkey
      |LEFT JOIN chan cs ON cs.c = 2 AND ss.yr = cs.yr AND ss.l_partkey = cs.l_partkey
      |WHERE ss.c = 0 AND coalesce(ws.qty, 0) + coalesce(cs.qty, 0) > 0""".stripMargin

  /** q35-shape: correlated EXISTS **and** an OR of two IN-subqueries in
    * one WHERE (TPC-DS q35's signature predicate combination — Spark
    * plans all three as ExistenceJoins whose results feed one boolean
    * expression; none may degrade to a cartesian). Identical SQL string
    * on both engines. */
  val dsInExistsSql: String =
    """SELECT c_mktsegment, n_name, count(*) AS n,
      |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS bal_sum,
      |       CAST(max(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_max
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
      |              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      |              AND o.o_orderdate < TIMESTAMP '1997-01-01')
      |  AND (c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |       OR c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000))
      |GROUP BY c_mktsegment, n_name""".stripMargin

  def dsInExists(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, dsInExistsSql)

  /** q72-shape: lead-time fact join with a DATE-DIM SELF-JOIN pair
    * (TPC-DS q72 joins date_dim three times, demanding
    * d3.d_date > d1.d_date + 5; here the month spine derived from orders
    * joins once on the ORDER month and once on the SHIP month with
    * d2 > d1 plus a 30-day lead filter). The spine is tiny at any scale —
    * both dim joins broadcast; the only big exchange is lineitem⋈orders. */
  def dsLeadTime(s: SparkSession, dir: String): DataFrame = {
    val dd = Tables.t(s, dir, "orders")
      .select(to_date(date_trunc("month", col("o_orderdate"))).as("m")).distinct()
    Tables.t(s, dir, "lineitem")
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(dd.select(col("m").as("m1"))),
        to_date(date_trunc("month", col("o_orderdate"))) === col("m1"))
      .join(broadcast(dd.select(col("m").as("m2"))),
        to_date(date_trunc("month", col("l_shipdate"))) === col("m2"))
      .filter(col("m2") > col("m1") &&
        datediff(col("l_shipdate"), col("o_orderdate")) > 30)
      .groupBy(col("p_brand"), col("m1").as("order_month"))
      .agg(count(lit(1)).as("n_late"),
        round(avg(datediff(col("l_shipdate"), col("o_orderdate")).cast("double")), 6)
          .as("avg_lead"))
  }

  val dsLeadTimeSql: String =
    """WITH dd AS (
      |  SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS m FROM orders)
      |SELECT p_brand, d1.m AS order_month, count(*) AS n_late,
      |       CAST(round(avg(date_diff('day', o_orderdate, l_shipdate)), 6) AS DOUBLE) AS avg_lead
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |JOIN dd d1 ON CAST(date_trunc('month', o_orderdate) AS DATE) = d1.m
      |JOIN dd d2 ON CAST(date_trunc('month', l_shipdate) AS DATE) = d2.m
      |WHERE d2.m > d1.m AND date_diff('day', o_orderdate, l_shipdate) > 30
      |GROUP BY p_brand, d1.m""".stripMargin

  /** q49-shape: per-channel DUAL rankings (return-quantity ratio and
    * return-amount ratio), keep rank<=10 in EITHER, union the channels
    * (TPC-DS q49 unions web/catalog/store "worst return ratios" with
    * two rankings each). Unlike [[dsRankedReturns]] (one scan, one
    * ranking), each channel here is an independent scan+window pipeline
    * recombined by UNION ALL — the per-channel window runs on
    * |items|-bounded aggregates. */
  def dsChannelRankedUnion(s: SparkSession, dir: String): DataFrame = {
    val zero = lit(0).cast(DecimalType(18, 2))
    def chan(cVal: Int, name: String): DataFrame = {
      val agg = Tables.t(s, dir, "lineitem")
        .filter(col("l_suppkey") % 3 === cVal)
        .groupBy(col("l_partkey"))
        .agg(
          sum(when(col("l_returnflag") === "R", dec(col("l_quantity")))
            .otherwise(zero)).as("ret_q"),
          sum(dec(col("l_quantity"))).as("tot_q"),
          sum(when(col("l_returnflag") === "R", dec(col("l_extendedprice")))
            .otherwise(zero)).as("ret_a"),
          sum(dec(col("l_extendedprice"))).as("tot_a"))
        .filter(col("ret_q") > 0)
      val rq = col("ret_q").cast("double") / col("tot_q").cast("double")
      val ra = col("ret_a").cast("double") / col("tot_a").cast("double")
      agg
        .withColumn("rnk_q", rank().over(Window.orderBy(rq.desc, col("l_partkey"))))
        .withColumn("rnk_a", rank().over(Window.orderBy(ra.desc, col("l_partkey"))))
        .filter(col("rnk_q") <= 10 || col("rnk_a") <= 10)
        .select(lit(name).as("channel"), col("l_partkey"),
          round(rq, 6).as("ret_ratio"), round(ra, 6).as("amt_ratio"),
          col("rnk_q"), col("rnk_a"))
    }
    chan(0, "store").unionByName(chan(1, "web")).unionByName(chan(2, "catalog"))
  }

  val dsChannelRankedUnionSql: String =
    """WITH agg AS (
      |  SELECT l_suppkey % 3 AS c, l_partkey,
      |         sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2))
      |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS ret_q,
      |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS tot_q,
      |         sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(18,2))
      |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS ret_a,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS tot_a
      |  FROM lineitem GROUP BY 1, 2),
      |ranked AS (
      |  SELECT c, l_partkey,
      |         CAST(ret_q AS DOUBLE) / CAST(tot_q AS DOUBLE) AS rq,
      |         CAST(ret_a AS DOUBLE) / CAST(tot_a AS DOUBLE) AS ra,
      |         rank() OVER (PARTITION BY c
      |           ORDER BY CAST(ret_q AS DOUBLE) / CAST(tot_q AS DOUBLE) DESC, l_partkey) AS rnk_q,
      |         rank() OVER (PARTITION BY c
      |           ORDER BY CAST(ret_a AS DOUBLE) / CAST(tot_a AS DOUBLE) DESC, l_partkey) AS rnk_a
      |  FROM agg WHERE ret_q > 0)
      |SELECT CASE c WHEN 0 THEN 'store' WHEN 1 THEN 'web' ELSE 'catalog' END AS channel,
      |       l_partkey, CAST(round(rq, 6) AS DOUBLE) AS ret_ratio,
      |       CAST(round(ra, 6) AS DOUBLE) AS amt_ratio, rnk_q, rnk_a
      |FROM ranked WHERE rnk_q <= 10 OR rnk_a <= 10""".stripMargin

  /** q23-shape (full): the reference's three-CTE funnel — frequent items
    * (count > 2 per (item, sold-month) over a 4-year window), a scalar
    * best-customer threshold (spend > 20% of the max channel-0
    * customer), then a UNION ALL of TWO other channels' sales gated by
    * BOTH sets (reference `benchmark/tpcds/sf1/23.benchmark`:
    * frequent_ss_items × best_ss_customer gating cs/ws slices). Fuller
    * than [[dsBestSellers]]: month-grain frequency, channel-sliced spend,
    * dual-channel union tail. Both gates are semi joins; the scalar max
    * broadcasts; nothing fact-sized crosses the network twice. */
  def dsFreqBestUnion(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val ord = Tables.t(s, dir, "orders")
    val cust = Tables.t(s, dir, "customer")
    val freq = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(year(col("o_orderdate")).between(1994, 1997))
      .groupBy(col("l_partkey"), date_trunc("month", col("o_orderdate")).as("sm"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 2)
      .select(col("l_partkey"))
    val sales0 = li.filter(col("l_suppkey") % 3 === 0)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).as("csales"))
    val mx = sales0.agg(max(col("csales").cast("double")).as("cmax"))
    val best = sales0.crossJoin(broadcast(mx))
      .filter(col("csales").cast("double") > lit(0.2) * col("cmax"))
      .select(col("o_custkey").as("bc"))
    def chanSlice(c: Int, name: String): DataFrame =
      li.filter(col("l_suppkey") % 3 === c)
        .join(ord.filter(year(col("o_orderdate")) === 1996),
          col("l_orderkey") === col("o_orderkey"))
        .join(freq, Seq("l_partkey"), "left_semi")
        .join(best, col("o_custkey") === col("bc"), "left_semi")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"))
        .agg(sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).as("sales_d"))
        .select(lit(name).as("channel"), col("c_name"),
          col("sales_d").cast("double").as("sales"))
    chanSlice(1, "web").unionByName(chanSlice(2, "catalog"))
  }

  val dsFreqBestUnionSql: String =
    """WITH freq AS (
      |  SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE year(o_orderdate) BETWEEN 1994 AND 1997
      |  GROUP BY l_partkey, date_trunc('month', o_orderdate)
      |  HAVING count(*) > 2),
      |sales0 AS (
      |  SELECT o_custkey,
      |         sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |             CAST(l_extendedprice AS DECIMAL(18,2))) AS csales
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_suppkey % 3 = 0 GROUP BY o_custkey),
      |best AS (
      |  SELECT o_custkey FROM sales0
      |  WHERE CAST(csales AS DOUBLE) > (SELECT 0.2 * max(CAST(csales AS DOUBLE)) FROM sales0))
      |SELECT 'web' AS channel, c_name,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |                CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |              JOIN customer ON o_custkey = c_custkey
      |WHERE l_suppkey % 3 = 1 AND year(o_orderdate) = 1996
      |  AND l_partkey IN (SELECT l_partkey FROM freq)
      |  AND o_custkey IN (SELECT o_custkey FROM best)
      |GROUP BY c_name
      |UNION ALL
      |SELECT 'catalog' AS channel, c_name,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |                CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |              JOIN customer ON o_custkey = c_custkey
      |WHERE l_suppkey % 3 = 2 AND year(o_orderdate) = 1996
      |  AND l_partkey IN (SELECT l_partkey FROM freq)
      |  AND o_custkey IN (SELECT o_custkey FROM best)
      |GROUP BY c_name""".stripMargin

  /** q88-shape (full): EIGHT time-slot counts, each slot a scalar
    * subquery of the fact JOINED to a dimension gate, crossed into one
    * row (reference `benchmark/tpcds/sf1/88.benchmark`: 8 half-hour
    * slots × hd/store dims). Fuller than [[dsScalarBattery]] (6 slots,
    * no dim join): the Spark side folds all 8 dim-gated subqueries into
    * ONE join + ONE conditional aggregate — the oracle keeps the 8-way
    * cross-join spelling, so the gate proves the fold. */
  def dsMultiSlot(s: SparkSession, dir: String): DataFrame = {
    val j = Tables.t(s, dir, "lineitem")
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM"))
    def slot(i: Int): Column = {
      val band = col("l_quantity").between(i * 6 + 1, i * 6 + 6)
      val disc =
        if (i % 2 == 0) col("l_discount") <= 0.05 else col("l_discount") > 0.05
      sum(when(band && disc, 1L).otherwise(0L)).as(s"h$i")
    }
    j.agg(slot(0), (1 to 7).map(slot): _*)
  }

  val dsMultiSlotSql: String = {
    def sub(i: Int): String = {
      val lo = i * 6 + 1; val hi = i * 6 + 6
      val disc = if (i % 2 == 0) "l_discount <= 0.05" else "l_discount > 0.05"
      s"""(SELECT count(*) AS h$i FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | WHERE o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
         |   AND l_quantity BETWEEN $lo AND $hi AND $disc)""".stripMargin
    }
    "SELECT * FROM\n" + (0 to 7).map(sub).mkString(",\n")
  }

  /** q31-shape (full): the six-CTE-instance share-growth join — THREE
    * quarters × TWO channels of per-county totals, the reference joining
    * six instances of the CTE on county with CASE-guarded growth-ratio
    * comparisons (reference `benchmark/tpcds/sf1/31.benchmark`). Fuller
    * than [[dsShareGrowth]] (two instances, lag windows): this is the
    * literal six-way recombination — which the Spark side collapses to
    * ONE conditional aggregate per county (channel × quarter filtered
    * sums), zero joins, one fact scan; presence of all six groups =
    * six non-null sums. The oracle keeps the six-instance join SQL. */
  def dsSixCteShare(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.t(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1996)
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
    val q = quarter(col("o_orderdate"))
    val web = col("o_custkey") % 2 === 1
    def csum(p: Column) = sum(when(p, dec(col("o_totalprice"))))
    def ratio(a: Column, b: Column): Column =
      when(b.cast("double") > 0, a.cast("double") / b.cast("double"))
    base.groupBy(col("n_name").as("county"))
      .agg(
        csum(!web && q === 1).as("ss1"), csum(!web && q === 2).as("ss2"),
        csum(!web && q === 3).as("ss3"),
        csum(web && q === 1).as("ws1"), csum(web && q === 2).as("ws2"),
        csum(web && q === 3).as("ws3"))
      .filter(col("ss1").isNotNull && col("ss2").isNotNull &&
        col("ss3").isNotNull && col("ws1").isNotNull &&
        col("ws2").isNotNull && col("ws3").isNotNull)
      .filter(ratio(col("ws2"), col("ws1")) > ratio(col("ss2"), col("ss1")) &&
        ratio(col("ws3"), col("ws2")) > ratio(col("ss3"), col("ss2")))
      .select(col("county"), lit(1996).as("yr"),
        round(ratio(col("ws2"), col("ws1")), 6).as("web_q1_q2"),
        round(ratio(col("ss2"), col("ss1")), 6).as("store_q1_q2"),
        round(ratio(col("ws3"), col("ws2")), 6).as("web_q2_q3"),
        round(ratio(col("ss3"), col("ss2")), 6).as("store_q2_q3"))
  }

  val dsSixCteShareSql: String =
    """WITH chan AS (
      |  SELECT CASE WHEN o_custkey % 2 = 1 THEN 'web' ELSE 'store' END AS ch,
      |         n_name AS county, quarter(o_orderdate) AS qoy,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |              JOIN nation ON c_nationkey = n_nationkey
      |  WHERE year(o_orderdate) = 1996
      |  GROUP BY 1, 2, 3)
      |SELECT ss1.county AS county, 1996 AS yr,
      |       CAST(round(CAST(ws2.v AS DOUBLE)/CAST(ws1.v AS DOUBLE), 6) AS DOUBLE) AS web_q1_q2,
      |       CAST(round(CAST(ss2.v AS DOUBLE)/CAST(ss1.v AS DOUBLE), 6) AS DOUBLE) AS store_q1_q2,
      |       CAST(round(CAST(ws3.v AS DOUBLE)/CAST(ws2.v AS DOUBLE), 6) AS DOUBLE) AS web_q2_q3,
      |       CAST(round(CAST(ss3.v AS DOUBLE)/CAST(ss2.v AS DOUBLE), 6) AS DOUBLE) AS store_q2_q3
      |FROM chan ss1, chan ss2, chan ss3, chan ws1, chan ws2, chan ws3
      |WHERE ss1.ch = 'store' AND ss1.qoy = 1
      |  AND ss2.ch = 'store' AND ss2.qoy = 2
      |  AND ss3.ch = 'store' AND ss3.qoy = 3
      |  AND ws1.ch = 'web' AND ws1.qoy = 1
      |  AND ws2.ch = 'web' AND ws2.qoy = 2
      |  AND ws3.ch = 'web' AND ws3.qoy = 3
      |  AND ss1.county = ss2.county AND ss2.county = ss3.county
      |  AND ss1.county = ws1.county AND ws1.county = ws2.county
      |  AND ws1.county = ws3.county
      |  AND (CASE WHEN CAST(ws1.v AS DOUBLE) > 0
      |            THEN CAST(ws2.v AS DOUBLE)/CAST(ws1.v AS DOUBLE) END) >
      |      (CASE WHEN CAST(ss1.v AS DOUBLE) > 0
      |            THEN CAST(ss2.v AS DOUBLE)/CAST(ss1.v AS DOUBLE) END)
      |  AND (CASE WHEN CAST(ws2.v AS DOUBLE) > 0
      |            THEN CAST(ws3.v AS DOUBLE)/CAST(ws2.v AS DOUBLE) END) >
      |      (CASE WHEN CAST(ss2.v AS DOUBLE) > 0
      |            THEN CAST(ss3.v AS DOUBLE)/CAST(ss2.v AS DOUBLE) END)""".stripMargin

  /** q93-shape (full): per-line return adjustment at CUSTOMER grain with
    * a REASON gate on the returns side (reference
    * `benchmark/tpcds/sf1/93.benchmark`: store_sales LEFT JOIN
    * store_returns on (item, ticket), r_reason_desc filter, actual
    * sales = (qty − ret_qty)·price when returned else qty·price, summed
    * per customer). Fuller than [[dsNetReturns]] (brand grain, no reason
    * gate). The returns side is pre-aggregated and reason-filtered
    * BEFORE the fact-sized left join. */
  def dsReturnAdjusted(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val rets = li.filter(col("l_returnflag") === "R" && col("l_tax") >= 0.04)
      .groupBy(col("l_orderkey").as("r_ok"), col("l_partkey").as("r_pk"))
      .agg(sum(dec(col("l_quantity"))).as("ret_q"))
    li.filter(col("l_returnflag") =!= "R")
      .join(rets,
        col("l_orderkey") === col("r_ok") && col("l_partkey") === col("r_pk"),
        "left_outer")
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(
        when(col("r_ok").isNotNull,
          (dec(col("l_quantity")) - col("ret_q")).cast(DecimalType(18, 2)) *
            dec(col("l_extendedprice")))
          .otherwise(dec(col("l_quantity")) * dec(col("l_extendedprice"))))
        .as("act_d"),
        count(lit(1)).as("n"))
      .select(col("o_custkey"), col("act_d").cast("double").as("act_sales"),
        col("n"))
  }

  val dsReturnAdjustedSql: String =
    """WITH rets AS (
      |  SELECT l_orderkey AS r_ok, l_partkey AS r_pk,
      |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS ret_q
      |  FROM lineitem WHERE l_returnflag = 'R' AND l_tax >= 0.04
      |  GROUP BY 1, 2)
      |SELECT o_custkey,
      |  CAST(sum(CASE WHEN r_ok IS NOT NULL
      |       THEN CAST(CAST(s.l_quantity AS DECIMAL(18,2)) - ret_q AS DECIMAL(18,2))
      |            * CAST(s.l_extendedprice AS DECIMAL(18,2))
      |       ELSE CAST(s.l_quantity AS DECIMAL(18,2))
      |            * CAST(s.l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS act_sales,
      |  count(*) AS n
      |FROM lineitem s
      |LEFT JOIN rets ON s.l_orderkey = r_ok AND s.l_partkey = r_pk
      |JOIN orders ON s.l_orderkey = o_orderkey
      |WHERE s.l_returnflag <> 'R'
      |GROUP BY o_custkey""".stripMargin

  /** q95-shape (full): the ws_wh CTE — orders shipped from MORE than one
    * "warehouse" (supplier nation) — feeding BOTH gates: the order must
    * be in the multi-warehouse set AND have a returned line (reference
    * `benchmark/tpcds/sf1/95.benchmark`: ws_wh used by the IN and the
    * EXISTS-with-returns). Fuller than [[dsExistsPair]] (no dim in the
    * self-aggregation): the warehouse identity needs the supplier
    * broadcast inside the order-grain aggregate. */
  def dsMultiWhExists(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val wh = li
      .join(broadcast(Tables.t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_orderkey").as("wk"))
      .agg(countDistinct(col("s_nationkey")).as("n_wh"))
      .filter(col("n_wh") > 1)
      .select("wk")
    val returned = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("rk"))
    Tables.t(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1996)
      .join(wh, col("o_orderkey") === col("wk"), "left_semi")
      .join(returned, col("o_orderkey") === col("rk"), "left_semi")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
  }

  val dsMultiWhExistsSql: String =
    """WITH wh AS (
      |  SELECT l_orderkey FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY l_orderkey HAVING count(DISTINCT s_nationkey) > 1)
      |SELECT count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE year(o_orderdate) = 1996
      |  AND o_orderkey IN (SELECT l_orderkey FROM wh)
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o_orderkey AND l.l_returnflag = 'R')""".stripMargin

  /** q97-shape: channel-overlap counts — the distinct buyer/item sets of
    * TWO channels FULL-OUTER-joined, then one row of store-only /
    * catalog-only / both counts (reference
    * `benchmark/tpcds/sf1/97.benchmark`: ssci FULL OUTER JOIN csci). The
    * fixture channels are the sold vs returned (partkey, suppkey) pair
    * sets. Scale posture: both distincts and the full outer hash on the
    * SAME (pk, sk) key, so the join adds no exchange beyond the two
    * distinct shuffles; the final count is a 1-row partial-aggregated
    * reduce. */
  def dsChannelOverlap(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val sales = li.filter(col("l_returnflag") =!= "R")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct().withColumn("in_s", lit(1))
    val rets = li.filter(col("l_returnflag") === "R")
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct().withColumn("in_r", lit(1))
    sales.join(rets, Seq("pk", "sk"), "full_outer")
      .agg(
        count(when(col("in_s").isNotNull && col("in_r").isNull, lit(1))).as("sales_only"),
        count(when(col("in_s").isNull && col("in_r").isNotNull, lit(1))).as("rets_only"),
        count(when(col("in_s").isNotNull && col("in_r").isNotNull, lit(1))).as("both_ch"))
  }

  val dsChannelOverlapSql: String =
    """SELECT
      |  count(CASE WHEN s.pk IS NOT NULL AND r.pk IS NULL THEN 1 END) AS sales_only,
      |  count(CASE WHEN s.pk IS NULL AND r.pk IS NOT NULL THEN 1 END) AS rets_only,
      |  count(CASE WHEN s.pk IS NOT NULL AND r.pk IS NOT NULL THEN 1 END) AS both_ch
      |FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
      |      FROM lineitem WHERE l_returnflag <> 'R') s
      |FULL OUTER JOIN (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
      |      FROM lineitem WHERE l_returnflag = 'R') r
      |  ON s.pk = r.pk AND s.sk = r.sk""".stripMargin

  /** q59-shape: weekly revenue pivoted into day-of-week columns, the
    * pivoted frame SELF-joined on a one-year week shift (reference
    * `benchmark/tpcds/sf1/59.benchmark`: wss joined to itself on
    * d_week_seq1 = d_week_seq2 - 52). Week/day keys are pure integer
    * arithmetic off a fixed epoch (TPC-DS d_week_seq is exactly such a
    * sequence) so both engines bucket identically. Scale posture: the
    * pivot is 7 conditional sums in ONE aggregate (no Pivot node, no
    * second scan); the two self-join consumers share the aggregate's
    * exchange (identical canonical subtrees — ReuseExchange fires),
    * and only the shifted side reshuffles on (wk+52). */
  def dsWeekPivot(s: SparkSession, dir: String): DataFrame = {
    val days = datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
    val base = Tables.t(s, dir, "orders").select(
      floor(days / 7).as("wk"), pmod(days, lit(7)).as("dow"), col("o_totalprice"))
    val wkAgg = base.groupBy(col("wk")).agg(
      sum(when(col("dow") === 0, dec(col("o_totalprice")))).as("d0"),
      sum(when(col("dow") === 1, dec(col("o_totalprice")))).as("d1"),
      sum(when(col("dow") === 2, dec(col("o_totalprice")))).as("d2"),
      sum(when(col("dow") === 3, dec(col("o_totalprice")))).as("d3"),
      sum(when(col("dow") === 4, dec(col("o_totalprice")))).as("d4"),
      sum(when(col("dow") === 5, dec(col("o_totalprice")))).as("d5"),
      sum(when(col("dow") === 6, dec(col("o_totalprice")))).as("d6"))
    val prev = wkAgg.select(col("wk").as("pwk") +:
      (0 to 6).map(i => col(s"d$i").as(s"p$i")): _*)
    wkAgg.join(prev, col("wk") === col("pwk") + 52)
      .select(col("wk") +:
        ((0 to 6).map(i => col(s"d$i").cast("double").as(s"d$i")) ++
          (0 to 6).map(i => col(s"p$i").cast("double").as(s"p$i"))): _*)
  }

  val dsWeekPivotSql: String =
    """WITH wss AS (
      |  SELECT CAST(floor(date_diff('day', DATE '1995-01-01', o_orderdate) / 7) AS BIGINT) AS wk,
      |         ((date_diff('day', DATE '1995-01-01', o_orderdate) % 7) + 7) % 7 AS dow,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders),
      |agg AS (
      |  SELECT wk,
      |    sum(CASE WHEN dow = 0 THEN price END) AS d0,
      |    sum(CASE WHEN dow = 1 THEN price END) AS d1,
      |    sum(CASE WHEN dow = 2 THEN price END) AS d2,
      |    sum(CASE WHEN dow = 3 THEN price END) AS d3,
      |    sum(CASE WHEN dow = 4 THEN price END) AS d4,
      |    sum(CASE WHEN dow = 5 THEN price END) AS d5,
      |    sum(CASE WHEN dow = 6 THEN price END) AS d6
      |  FROM wss GROUP BY wk)
      |SELECT c.wk AS wk,
      |  CAST(c.d0 AS DOUBLE) AS d0, CAST(c.d1 AS DOUBLE) AS d1,
      |  CAST(c.d2 AS DOUBLE) AS d2, CAST(c.d3 AS DOUBLE) AS d3,
      |  CAST(c.d4 AS DOUBLE) AS d4, CAST(c.d5 AS DOUBLE) AS d5,
      |  CAST(c.d6 AS DOUBLE) AS d6,
      |  CAST(p.d0 AS DOUBLE) AS p0, CAST(p.d1 AS DOUBLE) AS p1,
      |  CAST(p.d2 AS DOUBLE) AS p2, CAST(p.d3 AS DOUBLE) AS p3,
      |  CAST(p.d4 AS DOUBLE) AS p4, CAST(p.d5 AS DOUBLE) AS p5,
      |  CAST(p.d6 AS DOUBLE) AS p6
      |FROM agg c JOIN agg p ON c.wk = p.wk + 52""".stripMargin

  /** q65-shape: aggregate-of-aggregate band — per-(supplier, part)
    * revenue joined against its own per-supplier average, keeping pairs
    * at <= 10% of the average (reference `benchmark/tpcds/sf1/65
    * .benchmark`: sc.revenue <= 0.1 * sb.ave). The band compares by
    * decimal CROSS-MULTIPLICATION (rev * cnt * 10 <= total), the same
    * exact-arithmetic trick as [[dsAvgBand]] — no float average on
    * either engine, so the boundary is bit-exact. Scale posture: the
    * pair aggregate is referenced twice but both consumers hash on
    * l_suppkey-prefixed keys; the supplier dim broadcasts. */
  def dsMinAvg(s: SparkSession, dir: String): DataFrame = {
    val perPair = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("rev"))
    val perSupp = perPair.groupBy(col("l_suppkey"))
      .agg(sum(col("rev")).as("total"), count(lit(1)).as("cnt"))
    perPair.join(perSupp, Seq("l_suppkey"))
      .filter(col("rev") * col("cnt") * 10 <= col("total"))
      .join(broadcast(Tables.t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("l_partkey"),
        col("rev").cast("double").as("rev"))
  }

  val dsMinAvgSql: String =
    """WITH pair AS (
      |  SELECT l_suppkey, l_partkey,
      |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |supp AS (
      |  SELECT l_suppkey, sum(rev) AS total, count(*) AS cnt
      |  FROM pair GROUP BY 1)
      |SELECT s_name, l_partkey, CAST(rev AS DOUBLE) AS rev
      |FROM pair JOIN supp USING (l_suppkey)
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev * cnt * 10 <= total""".stripMargin

  /** q92/q32-shape: "excess discount" — fact rows whose discount exceeds
    * 1.3x the per-part average, summed to one row (reference
    * `benchmark/tpcds/sf1/92.benchmark`: ws_ext_discount_amt > 1.3 *
    * avg over the same item; the reference plans it as a correlated
    * scalar subquery). Spark-first form: decorrelate by hand into a
    * per-part aggregate + shuffle join on partkey, with the 1.3x band
    * as decimal cross-multiplication (disc * cnt * 10 > total * 13) —
    * exact on both engines. Scale posture: one fact scan per side of
    * one partkey-hashed join; the final global sum is a 1-row reduce. */
  def dsExcessDiscount(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(dec(col("l_discount"))).as("total_disc"),
        count(lit(1)).as("cnt"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(dec(col("l_discount")) * col("cnt") * 10 > col("total_disc") * 13)
      .agg(count(lit(1)).as("n_excess"),
        sum(dec(col("l_extendedprice"))).cast("double").as("excess_rev"))
  }

  val dsExcessDiscountSql: String =
    """WITH d AS (
      |  SELECT l_partkey AS pk,
      |         sum(CAST(l_discount AS DECIMAL(18,2))) AS total_disc,
      |         count(*) AS cnt
      |  FROM lineitem GROUP BY 1)
      |SELECT count(*) AS n_excess,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS excess_rev
      |FROM lineitem JOIN d ON l_partkey = pk
      |WHERE CAST(l_discount AS DECIMAL(18,2)) * cnt * 10 > total_disc * 13""".stripMargin

  /** q62-shape: shipping-lag bucket counts — days between order and ship
    * date bucketed into 30/60/90/120/120+ conditional counts per group
    * (reference `benchmark/tpcds/sf1/62.benchmark`: sum(case when
    * ws_ship_date_sk - ws_sold_date_sk <= 30 ...) per warehouse/ship
    * mode). Fixture grain: lineitem⋈orders on orderkey (the one
    * fact-fact shuffle this shape needs), bucketed per order priority.
    * All five buckets are filtered counts inside ONE aggregate — one
    * pass, no per-bucket scans. */
  def dsShipLagBuckets(s: SparkSession, dir: String): DataFrame = {
    val lag = datediff(col("l_shipdate"), col("o_orderdate"))
    Tables.t(s, dir, "lineitem")
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(when(lag <= 30, lit(1))).as("d30"),
        count(when(lag > 30 && lag <= 60, lit(1))).as("d60"),
        count(when(lag > 60 && lag <= 90, lit(1))).as("d90"),
        count(when(lag > 90 && lag <= 120, lit(1))).as("d120"),
        count(when(lag > 120, lit(1))).as("d_over"))
  }

  val dsShipLagBucketsSql: String =
    """SELECT o_orderpriority,
      |  count(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 1 END) AS d30,
      |  count(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 30
      |              AND date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 1 END) AS d60,
      |  count(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
      |              AND date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 1 END) AS d90,
      |  count(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90
      |              AND date_diff('day', o_orderdate, l_shipdate) <= 120 THEN 1 END) AS d120,
      |  count(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 120 THEN 1 END) AS d_over
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** q39-shape: per-(part, month) demand statistics, kept where the
    * coefficient of variation clears a bar, SELF-joined on consecutive
    * months (reference `benchmark/tpcds/sf1/39.benchmark`: inv1.cov
    * joined to inv2 on d_moy = d_moy + 1, both sides stdev/mean > 1).
    * Quantities are integers so the per-group mean is bit-exact on both
    * engines (integer sums are exact in double); the stddev filter
    * boundary is measure-zero. Scale posture: the monthly aggregate's
    * exchange is shared by both self-join sides (identical canonical
    * subtrees), and the already-(pk, mon)-hashed side joins without a
    * new shuffle — only the month-shifted side re-exchanges. */
  def dsInventoryCov(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_partkey"),
        to_date(date_trunc("month", col("l_shipdate"))).as("mon"))
      .agg(avg(col("l_quantity").cast("double")).as("mean"),
        stddev_samp(col("l_quantity").cast("double")).as("sd"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("sd") > col("mean") * 0.35)
    val nxt = monthly.select(col("l_partkey").as("pk2"),
      col("mon").as("mon2"), col("mean").as("mean2"), col("sd").as("sd2"))
    monthly.join(nxt,
        col("l_partkey") === col("pk2") &&
          add_months(col("mon"), 1) === col("mon2"))
      .select(col("l_partkey").as("pk"), col("mon"),
        col("mean").as("mean1"), col("sd").as("sd1"),
        col("mean2"), col("sd2"))
  }

  val dsInventoryCovSql: String =
    """WITH monthly AS (
      |  SELECT l_partkey, CAST(date_trunc('month', l_shipdate) AS DATE) AS mon,
      |         avg(CAST(l_quantity AS DOUBLE)) AS mean,
      |         stddev_samp(CAST(l_quantity AS DOUBLE)) AS sd,
      |         count(*) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |cov AS (SELECT * FROM monthly WHERE n >= 2 AND sd > mean * 0.35)
      |SELECT c.l_partkey AS pk, c.mon AS mon, c.mean AS mean1, c.sd AS sd1,
      |       n.mean AS mean2, n.sd AS sd2
      |FROM cov c JOIN cov n
      |  ON c.l_partkey = n.l_partkey AND n.mon = c.mon + INTERVAL 1 MONTH""".stripMargin

  /** q87-shape: EXCEPT-chained distinct sets — channel A's buyers minus
    * B's minus C's, counted (reference `benchmark/tpcds/sf1/87.benchmark`:
    * store EXCEPT catalog EXCEPT web on (lastname, firstname, date)).
    * EXCEPT is left-associative on both engines; Spark plans each as a
    * LeftAnti join over the distinct sets — two anti joins, never a
    * materialized set difference. */
  def dsExceptCounts(s: SparkSession, dir: String): DataFrame = {
    def buyers(pri: String) = Tables.t(s, dir, "orders")
      .filter(col("o_orderpriority") === pri &&
        year(col("o_orderdate")) === 1996)
      .select(col("o_custkey")).distinct()
    buyers("1-URGENT").except(buyers("2-HIGH")).except(buyers("3-MEDIUM"))
      .agg(count(lit(1)).as("n_remaining"))
  }

  val dsExceptCountsSql: String =
    """SELECT count(*) AS n_remaining FROM (
      |  SELECT DISTINCT o_custkey FROM orders
      |   WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1996
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders
      |   WHERE o_orderpriority = '2-HIGH' AND year(o_orderdate) = 1996
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders
      |   WHERE o_orderpriority = '3-MEDIUM' AND year(o_orderdate) = 1996) t""".stripMargin

  /** q13/q34-class two-level aggregate: per-customer order counts
    * RE-aggregated into a histogram (customers per order-count) — the
    * aggregate-on-aggregate rekey every "distribution of X per Y" report
    * runs. Scale posture: first shuffle on custkey, second on the tiny
    * count domain; the second aggregate's input is |customers|, never
    * fact-sized. */
  def dsCountHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .groupBy(col("n_orders")).agg(count(lit(1)).as("n_cust"))

  val dsCountHistogramSql: String =
    """SELECT n_orders, count(*) AS n_cust
      |FROM (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) t
      |GROUP BY n_orders""".stripMargin

  /** q48-shape: OR of three conjunctive band predicates over ONE fact
    * scan (reference `benchmark/tpcds/sf1/48.benchmark`: three
    * (marital-status AND education AND sales-price band) disjuncts).
    * The disjunction must stay a single pushed-down scan filter — three
    * per-band scans unioned would read the fact three times. */
  def dsOrBands(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .filter(
        (col("l_quantity").between(1, 10) && col("l_discount").between(0.00, 0.03)) ||
          (col("l_quantity").between(20, 30) && col("l_discount").between(0.04, 0.07)) ||
          (col("l_quantity").between(40, 50) && col("l_discount").between(0.08, 0.10)))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))

  val dsOrBandsSql: String =
    """SELECT count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE
      |  (l_quantity BETWEEN 1 AND 10 AND l_discount BETWEEN 0.00 AND 0.03) OR
      |  (l_quantity BETWEEN 20 AND 30 AND l_discount BETWEEN 0.04 AND 0.07) OR
      |  (l_quantity BETWEEN 40 AND 50 AND l_discount BETWEEN 0.08 AND 0.10)""".stripMargin

  /** q90-shape: the am/pm ratio — two time-slot counts over one scan,
    * divided (reference `benchmark/tpcds/sf1/90.benchmark`: morning vs
    * evening web_sales counts as two subqueries, then their DECIMAL
    * ratio). Spark-first fold: both slots are filtered counts in ONE
    * aggregate (the reference's two scans collapse); the ratio divides
    * exact integer counts in double — deterministic on both engines. */
  def dsRatioSlots(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .agg(
        count(when(hour(col("ts")).between(6, 11), lit(1))).as("n_am"),
        count(when(hour(col("ts")).between(18, 23), lit(1))).as("n_pm"))
      .select(col("n_am"), col("n_pm"),
        // empty-slot guard: ANSI Spark raises DIVIDE_BY_ZERO where the
        // reference would too (q90 divides counts) — NULL ratio on an
        // empty pm slot is the portable spelling of "no denominator"
        when(col("n_pm") === 0, lit(null))
          .otherwise(col("n_am").cast("double") / col("n_pm").cast("double"))
          .as("am_pm_ratio"))

  val dsRatioSlotsSql: String =
    """SELECT n_am, n_pm,
      |       CASE WHEN n_pm = 0 THEN NULL
      |            ELSE CAST(n_am AS DOUBLE) / CAST(n_pm AS DOUBLE) END AS am_pm_ratio
      |FROM (SELECT
      |  count(CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 1 END) AS n_am,
      |  count(CASE WHEN hour(ts) BETWEEN 18 AND 23 THEN 1 END) AS n_pm
      |FROM events) t""".stripMargin

  /** q41-shape: dimension SELF-subquery on a non-key attribute — parts
    * whose brand appears in a filtered slice of the SAME dimension
    * (reference `benchmark/tpcds/sf1/41.benchmark`: i_manufact IN
    * (SELECT i_manufact FROM item WHERE <OR'd attribute combos>),
    * count of distinct product names). Plans as a broadcast semi join of
    * the dim against its own filtered projection — no fact involved,
    * no correlated per-row execution. */
  def dsSelfSubquery(s: SparkSession, dir: String): DataFrame = {
    val sub = Tables.t(s, dir, "part")
      .filter(col("p_size").between(1, 15) &&
        ((col("p_type") === "STANDARD" && col("p_retailprice") < 950) ||
          (col("p_type") === "PROMO" && col("p_retailprice") >= 950)))
      .select(col("p_brand").as("b")).distinct()
    Tables.t(s, dir, "part")
      .filter(col("p_size").between(10, 20))
      .join(broadcast(sub), col("p_brand") === col("b"), "left_semi")
      .agg(countDistinct(col("p_name")).as("n_names"))
  }

  val dsSelfSubquerySql: String =
    """SELECT count(DISTINCT p_name) AS n_names
      |FROM part
      |WHERE p_size BETWEEN 10 AND 20
      |  AND p_brand IN (
      |    SELECT p_brand FROM part
      |    WHERE p_size BETWEEN 1 AND 15
      |      AND ((p_type = 'STANDARD' AND p_retailprice < 950) OR
      |           (p_type = 'PROMO' AND p_retailprice >= 950)))""".stripMargin

  /** q30/q81-shape: outlier band at AGGREGATE grain — per-customer
    * return totals kept where they exceed 1.2× the per-nation AVERAGE of
    * those totals (reference `benchmark/tpcds/sf1/30.benchmark` /
    * `81.benchmark`: ctr_total_return > 1.2 * avg(ctr_total_return) OVER
    * the same state, as a correlated subquery). Unlike [[dsAvgBand]]
    * (row grain), the band here compares an aggregate against the
    * average of aggregates — decorrelated to per-nation (sum, count)
    * stats joined back, with the 1.2× bar as exact decimal
    * cross-multiplication. Scale posture: the stats side is
    * |nations|-sized and broadcasts; the heavy shuffles are the
    * custkey aggregate and the customer join, both key-parallel. */
  def dsReturnOutliers(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("ret_total"))
    val withNation = perCust.join(Tables.t(s, dir, "customer"),
      col("o_custkey") === col("c_custkey"))
    val natStats = withNation.groupBy(col("c_nationkey").as("nk"))
      .agg(sum(col("ret_total")).as("nat_total"), count(lit(1)).as("nat_cnt"))
    withNation.join(broadcast(natStats), col("c_nationkey") === col("nk"))
      .filter(col("ret_total") * col("nat_cnt") * 10 > col("nat_total") * 12)
      .select(col("c_custkey"), col("c_nationkey"),
        col("ret_total").cast("double").as("ret_total"))
  }

  val dsReturnOutliersSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS ret_total
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R' GROUP BY 1),
      |wn AS (
      |  SELECT c_custkey, c_nationkey, ret_total
      |  FROM per_cust JOIN customer ON o_custkey = c_custkey),
      |ns AS (
      |  SELECT c_nationkey AS nk, sum(ret_total) AS nat_total, count(*) AS nat_cnt
      |  FROM wn GROUP BY 1)
      |SELECT c_custkey, c_nationkey, CAST(ret_total AS DOUBLE) AS ret_total
      |FROM wn JOIN ns ON c_nationkey = nk
      |WHERE ret_total * nat_cnt * 10 > nat_total * 12""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ds_return_outliers" -> (dsReturnOutliers _),
    "ds_except_counts" -> (dsExceptCounts _),
    "ds_count_histogram" -> (dsCountHistogram _),
    "ds_or_bands" -> (dsOrBands _),
    "ds_ratio_slots" -> (dsRatioSlots _),
    "ds_self_subquery" -> (dsSelfSubquery _),
    "ds_channel_overlap" -> (dsChannelOverlap _),
    "ds_week_pivot" -> (dsWeekPivot _),
    "ds_min_avg" -> (dsMinAvg _),
    "ds_excess_discount" -> (dsExcessDiscount _),
    "ds_ship_lag_buckets" -> (dsShipLagBuckets _),
    "ds_inventory_cov" -> (dsInventoryCov _),
    "ds_two_pass" -> (dsTwoPass _),
    "ds_three_channel" -> (dsThreeChannel _),
    "ds_in_exists" -> (dsInExists _),
    "ds_freq_best_union" -> (dsFreqBestUnion _),
    "ds_multi_slot" -> (dsMultiSlot _),
    "ds_six_cte_share" -> (dsSixCteShare _),
    "ds_return_adjusted" -> (dsReturnAdjusted _),
    "ds_multi_wh_exists" -> (dsMultiWhExists _),
    "ds_lead_time" -> (dsLeadTime _),
    "ds_channel_ranked_union" -> (dsChannelRankedUnion _),
    "ds_rollup_rank" -> (dsRollupRank _),
    "ds_best_worst" -> (dsBestWorst _),
    "ds_basket_band" -> (dsBasketBand _),
    "ds_expr_key_join" -> (dsExprKeyJoin _),
    "ds_scalar_battery" -> (dsScalarBattery _),
    "ds_case_buckets" -> (dsCaseBuckets _),
    "ds_exists_pair" -> (dsExistsPair _),
    "ds_share_growth" -> (dsShareGrowth _),
    "ds_best_sellers" -> (dsBestSellers _),
    "ds_growth_channels" -> (dsGrowthChannels _),
    "ds_moving_avg" -> (dsMovingAvg _),
    "ds_three_fact_chain" -> (dsThreeFactChain _),
    "ds_ranked_returns" -> (dsRankedReturns _),
    "ds_net_returns" -> (dsNetReturns _),
    "ds_cumul_compare" -> (dsCumulCompare _),
    "ds_year_over_year" -> (dsYearOverYear _),
    "ds_correlated_exists" -> (dsCorrelatedExists _),
    "ds_union_window" -> (dsUnionWindow _),
    "ds_rollup_join" -> (dsRollupJoin _),
    "ds_intersect_chain" -> (dsIntersectChain _),
    "ds_multi_count" -> (dsMultiCount _),
    "ds_having_band" -> (dsHavingBand _),
    "ds_intersect_items" -> (dsIntersectItems _),
    "ds_window_rollup" -> (dsWindowRollup _),
    "ds_cte_reuse" -> (dsCteReuse _),
    "ds_two_fact" -> (dsTwoFact _),
    "ds_channel_union" -> (dsChannelUnion _),
    "ds_avg_band" -> (dsAvgBand _))

  val oracle: Map[String, String] = Map(
    "ds_return_outliers" -> dsReturnOutliersSql,
    "ds_except_counts" -> dsExceptCountsSql,
    "ds_count_histogram" -> dsCountHistogramSql,
    "ds_or_bands" -> dsOrBandsSql,
    "ds_ratio_slots" -> dsRatioSlotsSql,
    "ds_self_subquery" -> dsSelfSubquerySql,
    "ds_channel_overlap" -> dsChannelOverlapSql,
    "ds_week_pivot" -> dsWeekPivotSql,
    "ds_min_avg" -> dsMinAvgSql,
    "ds_excess_discount" -> dsExcessDiscountSql,
    "ds_ship_lag_buckets" -> dsShipLagBucketsSql,
    "ds_inventory_cov" -> dsInventoryCovSql,
    "ds_two_pass" -> dsTwoPassSql,
    "ds_freq_best_union" -> dsFreqBestUnionSql,
    "ds_multi_slot" -> dsMultiSlotSql,
    "ds_six_cte_share" -> dsSixCteShareSql,
    "ds_return_adjusted" -> dsReturnAdjustedSql,
    "ds_multi_wh_exists" -> dsMultiWhExistsSql,
    "ds_three_channel" -> dsThreeChannelSql,
    "ds_in_exists" -> dsInExistsSql,
    "ds_lead_time" -> dsLeadTimeSql,
    "ds_channel_ranked_union" -> dsChannelRankedUnionSql,
    "ds_rollup_rank" -> dsRollupRankSql,
    "ds_best_worst" -> dsBestWorstSql,
    "ds_basket_band" -> dsBasketBandSql,
    "ds_expr_key_join" -> dsExprKeyJoinSql,
    "ds_scalar_battery" -> dsScalarBatterySql,
    "ds_case_buckets" -> dsCaseBucketsSql,
    "ds_exists_pair" -> dsExistsPairSql,
    "ds_share_growth" -> dsShareGrowthSql,
    "ds_best_sellers" -> dsBestSellersSql,
    "ds_growth_channels" -> dsGrowthChannelsSql,
    "ds_moving_avg" -> dsMovingAvgSql,
    "ds_three_fact_chain" -> dsThreeFactChainSql,
    "ds_ranked_returns" -> dsRankedReturnsSql,
    "ds_net_returns" -> dsNetReturnsSql,
    "ds_cumul_compare" -> dsCumulCompareSql,
    "ds_year_over_year" -> dsYearOverYearSql,
    "ds_correlated_exists" -> dsCorrelatedExistsSql,
    "ds_union_window" -> dsUnionWindowSql,
    "ds_rollup_join" -> dsRollupJoinSql,
    "ds_intersect_chain" -> dsIntersectChainSql,
    "ds_multi_count" -> dsMultiCountSql,
    "ds_having_band" -> dsHavingBandSql,
    "ds_intersect_items" -> dsIntersectItemsSql,
    "ds_window_rollup" -> dsWindowRollupSql,
    "ds_cte_reuse" -> dsCteReuseSql,
    "ds_two_fact" -> dsTwoFactSql,
    "ds_channel_union" -> dsChannelUnionSql,
    "ds_avg_band" -> dsAvgBandSql)
}
