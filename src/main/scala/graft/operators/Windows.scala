package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** The reference's full window-function surface (reference
  * `src/execution/operator/aggregate/physical_window.cpp`, expression kinds
  * `src/include/duckdb/common/enums/expression_type.hpp:89-102`, frames
  * `window_expression.hpp:16-27`): ranking, distribution, lead/lag,
  * first/last/nth, windowed aggregates over ROWS and RANGE frames.
  *
  * Determinism discipline: ranking windows order by a unique tie-break key;
  * windowed sums go through DECIMAL so frame evaluation is exact and
  * identical across engines and partitionings.
  */
object Windows extends graft.EntryModule {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** row_number / rank / dense_rank per partition; top-5 per nation. */
  def winRank(s: SparkSession, dir: String): DataFrame = {
    val byBal = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc)
    val byBalKey = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.t(s, dir, "customer")
      .withColumn("rn", row_number().over(byBalKey))
      .withColumn("rnk", rank().over(byBal))
      .withColumn("drnk", dense_rank().over(byBal))
      .filter(col("rn") <= 5)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        col("rn"), col("rnk"), col("drnk"))
  }

  val winRankSql: String =
    """SELECT c_nationkey, c_custkey, c_acctbal, rn, rnk, drnk FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
      |    rank()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk,
      |    dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk
      |  FROM customer) t
      |WHERE rn <= 5""".stripMargin

  /** Running total + moving aggregate over a ROWS frame. */
  def winRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val moving = w.rowsBetween(-3, 0)
    val ahead = w.rowsBetween(Window.currentRow, 2)
    Tables.t(s, dir, "orders").filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(dec(col("o_totalprice"))).over(running).cast("double").as("run_total"),
        count(lit(1)).over(moving).as("mov_n"),
        (sum(dec(col("o_totalprice"))).over(moving).cast("double") /
          count(lit(1)).over(moving)).as("mov_avg"),
        sum(dec(col("o_totalprice"))).over(ahead).cast("double").as("fwd_total"))
  }

  val winRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total,
      |  count(*) OVER w3 AS mov_n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS DOUBLE)
      |    / count(*) OVER w3 AS mov_avg,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS DOUBLE) AS fwd_total
      |FROM orders WHERE o_custkey < 100
      |WINDOW w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin

  /** lead / lag with per-user event-time ordering (µs-exact gaps). */
  def winLeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
          .as("gap_us"))
  }

  val winLeadLagSql: String =
    """SELECT user_id, event_id,
      |  lag(value, 1) OVER w AS prev_value,
      |  lead(event_type, 1) OVER w AS next_type,
      |  epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  /** RANGE frame over a numeric ordering (value-based frame bounds). */
  def winRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      .rangeBetween(-5, 0)
    Tables.t(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"),
        count(lit(1)).over(w).as("n_in_range"),
        sum(dec(col("l_quantity"))).over(w).cast("double").as("qty_in_range"))
  }

  val winRangeSql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
      |  count(*) OVER w AS n_in_range,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE) AS qty_in_range
      |FROM lineitem WHERE l_orderkey < 1000
      |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity
      |             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Distribution functions: ntile / percent_rank / cume_dist. */
  def winDist(s: SparkSession, dir: String): DataFrame = {
    val byKey = Window.partitionBy(col("c_nationkey")).orderBy(col("c_custkey"))
    val byBal = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal"))
    Tables.t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"),
        ntile(4).over(byKey).as("quartile"),
        // pr/cd are exact integer ratios (k/n) — both engines produce the
        // same IEEE double; rounding would INTRODUCE half-boundary
        // divergence (hit at sf0.1: 333/640 = 0.5203125).
        percent_rank().over(byBal).as("pr"),
        cume_dist().over(byBal).as("cd"))
  }

  val winDistSql: String =
    """SELECT c_nationkey, c_custkey,
      |  ntile(4) OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS quartile,
      |  percent_rank() OVER wb AS pr,
      |  cume_dist() OVER wb AS cd
      |FROM customer
      |WINDOW wb AS (PARTITION BY c_nationkey ORDER BY c_acctbal)""".stripMargin

  /** first_value / last_value / nth_value over an unbounded frame. */
  def winFirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_custkey"),
        first(col("c_name")).over(w).as("richest"),
        last(col("c_name")).over(w).as("poorest"),
        nth_value(col("c_name"), 2).over(w).as("second"))
  }

  val winFirstLastSql: String =
    """SELECT c_nationkey, c_custkey,
      |  first_value(c_name) OVER w AS richest,
      |  last_value(c_name) OVER w AS poorest,
      |  nth_value(c_name, 2) OVER w AS second
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  /** Batch sessionization via windows: lag-gap detection + running session
    * counter — the window-function formulation of the streaming
    * sessionizer (graft.streaming.StreamingOps.sessionize), 30-minute
    * inactivity gap. */
  def winSession(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.t(s, dir, "events")
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .withColumn("session_id",
        sum(when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1)
          .otherwise(0)).over(run).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
  }

  val winSessionSql: String =
    """SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS start_ts, max(ts) AS end_ts
      |FROM (
      |  SELECT user_id, ts,
      |    CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      |    FROM events) g) s
      |GROUP BY user_id, session_id""".stripMargin

  /** Frame EXCLUDE CURRENT ROW (reference `window_expression.hpp`
    * WindowExcludeMode): Spark has no EXCLUDE syntax, but for
    * distributive aggregates it composes exactly — aggregate over the
    * full frame minus the current row's contribution — PROVIDED the NULL
    * cases are handled: subtracting a NULL current value would null the
    * whole neighbor sum, and an excluded-frame with zero non-null
    * contributors must yield NULL (SQL sum-of-empty), not 0. The oracle
    * runs DuckDB's NATIVE `EXCLUDE CURRENT ROW`, so the composition is
    * verified against the real operator semantics, in exact DECIMAL. */
  def winExclude(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, 2)
    val exclNonNull = count(col("value")).over(w) -
      when(col("value").isNotNull, 1).otherwise(0)
    Tables.t(s, dir, "events").filter(col("user_id") < 100)
      .select(col("user_id"), col("event_id"),
        when(exclNonNull === 0, lit(null))
          .otherwise(sum(dec(col("value"))).over(w) -
            coalesce(dec(col("value")), lit(0).cast(DecimalType(18, 2))))
          .cast("double").as("neighbor_sum"),
        (count(lit(1)).over(w) - 1).as("n_neighbors"))
  }

  val winExcludeSql: String =
    """SELECT user_id, event_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS neighbor_sum,
      |  count(*) OVER w AS n_neighbors
      |FROM events WHERE user_id < 100
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
      |             EXCLUDE CURRENT ROW)""".stripMargin

  /** Frame EXCLUDE GROUP / EXCLUDE TIES (reference
    * `window_expression.hpp` WindowExcludeMode — the remaining two of
    * the four modes; CURRENT ROW is [[winExclude]], NO OTHERS is the
    * default everywhere). Composition relies on a RANGE frame property:
    * the current row's PEER GROUP always lies wholly inside any RANGE
    * frame containing the current row (peers sit at distance 0), so
    *   EXCLUDE GROUP = frame_agg − peer_group_agg
    *   EXCLUDE TIES  = frame_agg − peer_group_agg + current_row
    * with the peer aggregate from a RANGE CURRENT ROW..CURRENT ROW
    * window over the SAME order key. (A ROWS frame has no such
    * guarantee — peers can fall outside it — which is why this entry is
    * RANGE-framed; the reference's executor walks the same peer-bounds
    * logic per row.) NULL care as in [[winExclude]]: zero surviving
    * non-null contributors ⇒ NULL, and a NULL current value must not
    * null the TIES sum. The month index is deliberately coarse so peer
    * groups are real (several events share a month); the oracle runs
    * DuckDB's NATIVE EXCLUDE GROUP / EXCLUDE TIES. */
  def winExcludeGroup(s: SparkSession, dir: String): DataFrame = {
    val zero = lit(0).cast(DecimalType(18, 2))
    val e = Tables.t(s, dir, "events").filter(col("user_id") < 50)
      .withColumn("mi", year(col("ts")) * 12 + month(col("ts")))
    val wF = Window.partitionBy(col("user_id")).orderBy(col("mi"))
      .rangeBetween(-1, 1)
    val wP = Window.partitionBy(col("user_id")).orderBy(col("mi"))
      .rangeBetween(0, 0)
    val frameSum = coalesce(sum(dec(col("value"))).over(wF), zero)
    val peerSum = coalesce(sum(dec(col("value"))).over(wP), zero)
    val frameNn = count(col("value")).over(wF)
    val peerNn = count(col("value")).over(wP)
    val curNn = when(col("value").isNotNull, 1L).otherwise(0L)
    e.select(col("user_id"), col("event_id"),
      when(frameNn - peerNn === 0, lit(null))
        .otherwise(frameSum - peerSum).cast("double").as("excl_group"),
      when(frameNn - peerNn + curNn === 0, lit(null))
        .otherwise(frameSum - peerSum +
          coalesce(dec(col("value")), zero)).cast("double").as("excl_ties"),
      (count(lit(1)).over(wF) - count(lit(1)).over(wP)).as("n_grp"),
      (count(lit(1)).over(wF) - count(lit(1)).over(wP) + 1).as("n_ties"))
  }

  val winExcludeGroupSql: String =
    """SELECT user_id, event_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER wg AS DOUBLE) AS excl_group,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER wt AS DOUBLE) AS excl_ties,
      |  count(*) OVER wg AS n_grp,
      |  count(*) OVER wt AS n_ties
      |FROM (SELECT user_id, event_id, value,
      |        year(ts) * 12 + month(ts) AS mi
      |      FROM events WHERE user_id < 50) e
      |WINDOW wg AS (PARTITION BY user_id ORDER BY mi
      |              RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP),
      |       wt AS (PARTITION BY user_id ORDER BY mi
      |              RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES)""".stripMargin

  /** QUALIFY — filter on a window result without a subquery (reference
    * `src/planner/binder/query_node/bind_select_node.cpp` QUALIFY
    * binding): top-3 orders per customer by price. Spark's relational
    * form is the explicit window + filter; Catalyst folds the rank
    * predicate into a WindowGroupLimit so each partition stops at k
    * rows — the top-k-per-key plan that holds at any scale. */
  def winQualify(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  val winQualifySql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey
      |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |FROM orders
      |QUALIFY rn <= 3""".stripMargin

  /** RANGE frame bounded by a TIME INTERVAL over a timestamp ordering —
    * the trailing-window form every monitoring query uses ("events and
    * spend in the last hour, per entity, at every event"), a different
    * executor path from the numeric RANGE frame `win_range` pins (frame
    * edges move by calendar arithmetic on the ORDER column, and peers
    * are timestamp-equal rows). The IDENTICAL SQL text runs on both
    * engines — `INTERVAL 1 HOUR` parses in both grammars — so the pin
    * is also a dialect-compatibility statement. count + exact cents sum
    * keep the outputs integer-deterministic regardless of peer order.
    * Scale posture: one shuffle on user_id; the frame scan is the
    * standard sliding two-pointer over each partition's sorted run. */
  def winRangeInterval(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, winRangeIntervalSql)

  val winRangeIntervalSql: String =
    """SELECT event_id, user_id,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_1h,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id
      |    ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cents_1h
      |FROM events""".stripMargin

  /** GROUPS frame mode — frame bounds counted in PEER GROUPS (maximal
    * runs of rows tied on the ORDER BY key) rather than rows or values.
    * The reference raises "GROUPS mode for window functions is not
    * implemented yet" (reference `src/execution/window_segment_tree.cpp`
    * path via `window_expression.hpp:16-27` WindowBoundary), and so does
    * the DuckDB 1.0.0 oracle — so this is implemented BEYOND the
    * reference, from the SQL:2011 definition, via an exact relational
    * equivalence instead of a new executor mode:
    *
    *   dense_rank() numbers peer groups 1,2,3,… consecutively, so
    *   GROUPS BETWEEN p PRECEDING AND f FOLLOWING over (K ORDER BY v)
    *     ≡ RANGE BETWEEN p PRECEDING AND f FOLLOWING over
    *       (K ORDER BY dense_rank() OVER (K ORDER BY v))
    *
    * (consecutiveness is what makes RANGE-on-the-rank hit exactly the
    * groups at distance ≤ p/f — a gap-free integer ordering; rank()
    * would NOT work, its gaps skip groups). EXCLUDE GROUP / EXCLUDE
    * TIES compose exactly as in [[winExcludeGroup]] — the peer group is
    * the grp = grp slice (RANGE CURRENT ROW..CURRENT ROW on the rank),
    * and a GROUPS frame containing the current row always contains its
    * whole peer group, so frame − peers (resp. + current row) is exact;
    * empty survivor sets go to NULL, the SQL-standard empty-frame sum.
    *
    * The oracle runs the SAME equivalence spelled in portable SQL (both
    * grammars parse it), so the pin verifies the GROUPS semantics
    * end-to-end, not one engine against itself. Scale posture: both
    * window passes share one hash partitioning on l_returnflag — one
    * shuffle, two sorted passes (Spark cannot know grp is monotone in
    * l_quantity, so it re-sorts; the exchange is reused). */
  def winGroups(s: SparkSession, dir: String): DataFrame = {
    val part = col("l_returnflag")
    val g = Tables.t(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
      .withColumn("grp",
        dense_rank().over(Window.partitionBy(part).orderBy(col("l_quantity"))))
    val byGrp = Window.partitionBy(part).orderBy(col("grp"))
    val w11 = byGrp.rangeBetween(-1, 1)          // GROUPS 1 PRECEDING..1 FOLLOWING
    val wU1 = byGrp.rangeBetween(Window.unboundedPreceding, 1)
    val wP = byGrp.rangeBetween(0, 0)            // the current peer group
    val frameSum = sum(dec(col("l_quantity"))).over(w11)
    val peerSum = sum(dec(col("l_quantity"))).over(wP)
    val nFrame = count(lit(1)).over(w11)
    val nPeer = count(lit(1)).over(wP)
    g.select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      col("l_quantity"),
      nFrame.as("n_g11"),
      frameSum.cast("double").as("qty_g11"),
      count(lit(1)).over(wU1).as("n_gu1f"),
      when(nFrame - nPeer === 0, lit(null))
        .otherwise(frameSum - peerSum).cast("double").as("qty_excl_grp"),
      (nFrame - nPeer + 1).as("n_excl_ties"))
  }

  val winGroupsSql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
      |  count(*) OVER w1 AS n_g11,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w1 AS DOUBLE) AS qty_g11,
      |  count(*) OVER wu AS n_gu1f,
      |  CAST(CASE WHEN count(*) OVER w1 - count(*) OVER wp = 0 THEN NULL
      |       ELSE sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w1
      |          - sum(CAST(l_quantity AS DECIMAL(18,2))) OVER wp END
      |       AS DOUBLE) AS qty_excl_grp,
      |  count(*) OVER w1 - count(*) OVER wp + 1 AS n_excl_ties
      |FROM (SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
      |        dense_rank() OVER (PARTITION BY l_returnflag
      |                           ORDER BY l_quantity) AS grp
      |      FROM lineitem WHERE l_orderkey < 1000) g
      |WINDOW w1 AS (PARTITION BY l_returnflag ORDER BY grp
      |              RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING),
      |       wu AS (PARTITION BY l_returnflag ORDER BY grp
      |              RANGE BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING),
      |       wp AS (PARTITION BY l_returnflag ORDER BY grp
      |              RANGE BETWEEN CURRENT ROW AND CURRENT ROW)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_groups" -> (winGroups _),
    "win_qualify" -> (winQualify _),
    "win_exclude" -> (winExclude _),
    "win_exclude_group" -> (winExcludeGroup _),
    "win_session" -> (winSession _),
    "win_rank" -> (winRank _),
    "win_running" -> (winRunning _),
    "win_leadlag" -> (winLeadLag _),
    "win_range" -> (winRange _),
    "win_range_interval" -> (winRangeInterval _),
    "win_dist" -> (winDist _),
    "win_firstlast" -> (winFirstLast _))

  val oracle: Map[String, String] = Map(
    "win_groups" -> winGroupsSql,
    "win_qualify" -> winQualifySql,
    "win_exclude" -> winExcludeSql,
    "win_exclude_group" -> winExcludeGroupSql,
    "win_session" -> winSessionSql,
    "win_rank" -> winRankSql,
    "win_running" -> winRunningSql,
    "win_leadlag" -> winLeadLagSql,
    "win_range" -> winRangeSql,
    "win_range_interval" -> winRangeIntervalSql,
    "win_dist" -> winDistSql,
    "win_firstlast" -> winFirstLastSql)
}
