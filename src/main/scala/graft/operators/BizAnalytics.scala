package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Business-analytics shapes over the event and order fixtures — the
  * session/attribution/Pareto/cohort-value battery that rounds out the
  * product-analytics tranche in [[OlapSuites]]. Everything is
  * engineered integer-or-decimal-exact before any division, so both
  * engines agree bitwise (the established determinism contract). */
object BizAnalytics extends graft.EntryModule {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Batch sessionization + session statistics — the 30-minute-gap rule
    * (the `win_session` window pinned the mechanism; this entry delivers
    * the product metric): a session starts at the first event or after a
    * >30 min silence, sessions get per-user ordinals from a running sum
    * of start flags, and the readout is per event-type-of-first-event…
    * no — per session-length bucket: how many sessions, their event
    * counts, and exact median duration. Duration stays integer
    * microseconds until one rounded division. Scale posture: ONE shuffle
    * on user_id drives both windows (same partition key), then a
    * |sessions|-grain aggregate and a bucket-grain summary. */
  def eventsSessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = Tables.t(s, dir, "events")
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_start",
        when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("is_start")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("dur_us"))
    sess.groupBy(
        when(col("n_events") === 1, "bounce")
          .when(col("n_events") <= 5, "short").otherwise("long").as("bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        round(expr("percentile(dur_us, 0.5)") / 1e6, 4).as("median_dur_s"))
  }

  val eventsSessionsSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS gap_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS is_start,
      |    event_id
      |  FROM g),
      |numbered AS (
      |  SELECT user_id, ts,
      |    sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, sid, count(*) AS n_events,
      |         max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
      |  FROM numbered GROUP BY user_id, sid)
      |SELECT CASE WHEN n_events = 1 THEN 'bounce'
      |            WHEN n_events <= 5 THEN 'short' ELSE 'long' END AS bucket,
      |       count(*) AS n_sessions,
      |       CAST(sum(n_events) AS BIGINT) AS n_events,
      |       round(quantile_cont(dur_us, 0.5) / 1e6, 4) AS median_dur_s
      |FROM sess GROUP BY 1""".stripMargin

  /** Last-touch attribution — each purchase credited to the latest
    * strictly-earlier view/click by the same user (the marketing
    * last-non-direct-click model). The credited channel rides a
    * `last(_, ignoreNulls)` over the (ts, event_id)-ordered user window
    * — frame ends one row BEFORE current, so a purchase can never credit
    * itself or a simultaneous purchase; purchases with no prior
    * touchpoint land in 'direct'. Revenue sums in DECIMAL (exact), cast
    * once at the end. Scale posture: one shuffle on user_id, then a
    * |channels|-row aggregate. */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.t(s, dir, "events")
      .withColumn("touch",
        last(when(col("event_type").isin("view", "click"), col("event_type")),
          ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(dec(col("value"))).cast("double").as("revenue"))
  }

  val eventsAttributionSql: String =
    """WITH touched AS (
      |  SELECT event_type, value,
      |    last_value(CASE WHEN event_type IN ('view', 'click')
      |                    THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events)
      |SELECT coalesce(touch, 'direct') AS channel,
      |       count(*) AS n_purchases,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM touched WHERE event_type = 'purchase'
      |GROUP BY 1""".stripMargin

  /** Pareto / ABC inventory classification — parts ranked by exact
    * DECIMAL revenue, the running share computed from DECIMAL cumulative
    * and grand totals (cum/total compares via cross-multiplication-free
    * decimal division — both engines divide the same exact decimals), A
    * = first 80% of revenue, B = next 15%, C = the tail. The cumulative
    * window orders by (revenue DESC, partkey) — a total order, so the
    * running sum is the same permutation everywhere. Scale posture: one
    * aggregate to |parts|, one global range-partitioned cumulative sort
    * (the documented approx swap is a two-pass bucketed cumsum), one
    * 3-row summary. */
  def paretoAbc(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice"))).as("rev"))
    val w = Window.orderBy(col("rev").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum", sum(col("rev")).over(w))
      .crossJoin(broadcast(rev.agg(sum(col("rev")).as("total"))))
      // Compare in scaled DECIMALS (cum·100 ≤ total·80), never through a
      // double: DuckDB would evaluate `total * 0.80` as an exact decimal
      // product while Spark's 0.80 literal is a double — a boundary part
      // could land in different classes. Integer-scaled decimal algebra
      // is exact and identical on both engines.
      .withColumn("cls",
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B").otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev")).cast("double").as("class_rev"))
  }

  val paretoAbcSql: String =
    """WITH rev AS (
      |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem GROUP BY l_partkey),
      |cum AS (
      |  SELECT l_partkey, rev,
      |    sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    (SELECT sum(rev) FROM rev) AS total
      |  FROM rev)
      |SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
      |            WHEN cum * 100 <= total * 95 THEN 'B' ELSE 'C' END AS cls,
      |       count(*) AS n_parts,
      |       CAST(sum(rev) AS DOUBLE) AS class_rev
      |FROM cum GROUP BY 1""".stripMargin

  /** Cohort lifetime value — customers cohorted by FIRST-order year,
    * revenue laid out by years-since-first (the monetary sibling of
    * `events_retention`): the cohort×age matrix every LTV model starts
    * from. Years are integer extracts, revenue is exact DECIMAL until
    * the final cast. Scale posture: per-customer min aggregate,
    * broadcast-sized cohort map joined back, one grouped sum. */
  def custCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(s, dir, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
        dec(col("o_totalprice")).as("v"))
    val cohorts = o.groupBy(col("o_custkey")).agg(min(col("yr")).as("cohort"))
    o.join(cohorts, Seq("o_custkey"))
      .groupBy(col("cohort"), (col("yr") - col("cohort")).as("age"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"),
        sum(col("v")).cast("double").as("revenue"))
  }

  val custCohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS yr,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS v
      |  FROM orders),
      |cohorts AS (SELECT o_custkey, min(yr) AS cohort FROM o GROUP BY o_custkey)
      |SELECT cohort, yr - cohort AS age,
      |       count(DISTINCT o_custkey) AS n_cust,
      |       count(*) AS n_orders,
      |       CAST(sum(v) AS DOUBLE) AS revenue
      |FROM o JOIN cohorts USING (o_custkey)
      |GROUP BY cohort, age""".stripMargin

  /** Exponentially-weighted moving average — the smoothing pass every
    * monitoring/forecasting pipeline runs over a metric stream. The
    * kernel is the BOUNDED-HORIZON EWMA (8 taps, α = 1/2): weights
    * halve per step back, so an 8-tap window carries ≥ 99.6% of the
    * infinite-horizon mass — the standard truncation that turns the
    * sequential recurrence ewmaₜ = α·xₜ + (1−α)·ewmaₜ₋₁ into a
    * WINDOWED, hence distributable, operator (the exact recurrence is
    * inherently serial per key; `dml_incremental_agg` shows the
    * streaming-state alternative).
    *
    * INTEGER-EXACT: values are cents (the fixture's 2-decimal grain,
    * round(value·100) is exact), α = 1/2 makes the tap weights the
    * integers 128, 64, …, 1, the weighted sum and the weight sum are
    * BIGINT, and the single division is truncating integer division —
    * bit-identical across engines; a float EWMA would drift in the
    * pow() and accumulation order. Partial heads (rows with < 8
    * predecessors) renormalize over the PRESENT taps' weights, the
    * same convention pandas `ewm(adjust=True)` uses. Scale posture:
    * one shuffle on user_id drives the whole window; 8 lag() calls
    * share one window frame (a single WindowExec pass), no
    * self-join. */
  def tsEwma(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val taps = (0 to 7).map { k =>
      val w = 128L >> k
      val x = if (k == 0) col("cents") else lag(col("cents"), k).over(byUser)
      (coalesce(x * w, lit(0L)), when(x.isNotNull, lit(w)).otherwise(lit(0L)))
    }
    Tables.t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .select(col("event_id"), col("user_id"),
        taps.map(_._1).reduce(_ + _).as("num"),
        taps.map(_._2).reduce(_ + _).as("den"))
      // nullif guard: a NULL metric row has den = 0 (ANSI divide-by-zero
      // otherwise); its EWMA is NULL on both engines.
      .select(col("event_id"), col("user_id"),
        expr("num DIV nullif(den, 0)").as("ewma_cents"))
  }

  val tsEwmaSql: String = {
    val num = (0 to 7).map { k =>
      val w = 128L >> k
      val x = if (k == 0) "cents"
        else s"lag(cents, $k) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
      s"coalesce($x * $w, 0)"
    }.mkString(" + ")
    val den = (0 to 7).map { k =>
      val w = 128L >> k
      val x = if (k == 0) "cents"
        else s"lag(cents, $k) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
      s"CASE WHEN $x IS NOT NULL THEN $w ELSE 0 END"
    }.mkString(" + ")
    s"""WITH c AS (
       |  SELECT event_id, user_id, ts,
       |         CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |t AS (SELECT event_id, user_id, ($num) AS num, ($den) AS den FROM c)
       |SELECT event_id, user_id,
       |       CAST(num // nullif(den, 0) AS BIGINT) AS ewma_cents
       |FROM t""".stripMargin
  }

  /** Holt's linear-trend forecast (Holt 1957 — the level+trend upgrade
    * of [[tsEwma]]'s plain smoothing) over each user's last 8 events, in
    * EXACT integer arithmetic: with α = 1/2, β = 1/4 the recursion
    *
    *   l_t = (y_t + l_{t−1} + b_{t−1}) / 2
    *   b_t = (l_t − l_{t−1}) / 4 + (3/4)·b_{t−1}
    *
    * carried at scale 8ᵗ clears every denominator — substituting
    * L_t = 8ᵗ·l_t, B_t = 8ᵗ·b_t gives the DIVISION-FREE integer form
    *
    *   L_t = 4·(8ᵗ⁻¹·y_t + L_{t−1} + B_{t−1})
    *   B_t = 8ᵗ⁻¹·y_t − L_{t−1} + 7·B_{t−1}
    *
    * (spec-pinned against an exact-fraction reference), so level, trend,
    * and the one-step forecast `(L₈+B₈) DIV 8⁸` are bit-deterministic
    * BIGINTs on both engines — no float smoothing state anywhere.
    * Magnitudes: |L₈| ≤ ~8⁸·max|cents| ≈ 1.7·10¹² per unit cent — far
    * inside BIGINT. Init: l₁ = y₁, b₁ = y₂ − y₁ (the standard Holt
    * seed). Scale posture: one shuffle on user_id for the last-8 window,
    * one pivot aggregate, then a pure codegen projection — the same
    * shape as every per-key windowed fold here. */
  def tsHolt(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val ev = Tables.t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= 8)
    val wide = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        (1 to 8).map(k =>
          max(when(col("rn") === 9 - k, col("cents"))).as(s"y$k")): _*)
      .filter(col("n") === 8)
    var l: org.apache.spark.sql.Column = lit(8L) * col("y1")
    var b: org.apache.spark.sql.Column = lit(8L) * (col("y2") - col("y1"))
    var scale = 8L
    for (t <- 2 to 8) {
      val (lp, bp) = (l, b)
      l = lit(4L) * (lit(scale) * col(s"y$t") + lp + bp)
      b = lit(scale) * col(s"y$t") - lp + lit(7L) * bp
      scale *= 8
    }
    wide.select(col("user_id"), l.as("l8"), b.as("b8"))
      .withColumn("forecast_cents", expr("(l8 + b8) DIV 16777216"))
  }

  /** The identical last-8 pivot and unrolled integer recursion in the
    * oracle dialect (one CTE per step). */
  val tsHoltSql: String = {
    val steps = (2 to 8).map { t =>
      val s8 = math.pow(8, t - 1).toLong
      s"""h$t AS (SELECT user_id, y2, y3, y4, y5, y6, y7, y8,
         |  4 * ($s8 * y$t + l + b) AS l, $s8 * y$t - l + 7 * b AS b
         |  FROM h${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (
       |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
       |    row_number() OVER (PARTITION BY user_id
       |                       ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events),
       |wide AS (
       |  SELECT user_id, count(*) AS n,
       |    ${(1 to 8).map(k => s"max(CASE WHEN rn = ${9 - k} THEN cents END) AS y$k")
            .mkString(", ")}
       |  FROM c WHERE rn <= 8 GROUP BY user_id),
       |h1 AS (SELECT user_id, y2, y3, y4, y5, y6, y7, y8,
       |  8 * y1 AS l, 8 * (y2 - y1) AS b FROM wide WHERE n = 8),
       |$steps
       |SELECT user_id, CAST(l AS BIGINT) AS l8, CAST(b AS BIGINT) AS b8,
       |  CAST((l + b) // 16777216 AS BIGINT) AS forecast_cents
       |FROM h8""".stripMargin
  }

  /** SCD Type-2 dimension-history build (Kimball's slowly-changing
    * dimension, the warehouse op every large-scale ETL runs nightly):
    * compress each user's event stream to its event_type CHANGE rows and
    * version them with [valid_from, valid_to) ranges + an is_current
    * flag. Deterministic by construction: the per-user order is total
    * (ts, then the unique event_id), so change detection, version
    * numbers, and interval bounds are identical across engines and
    * partitionings. Scale posture: ONE exchange on user_id serves the
    * change-detect lag, the version row_number, and the valid_to lead
    * (same partition key and sort — Spark reuses the sort across all
    * three window functions, and the change filter collapses the data to
    * change-grain before the second window pass). At 100 TB this is the
    * standard "build the customer-dimension history from the change
    * feed" job: no joins, no skew beyond the user key itself. */
  def eventsScd2(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.t(s, dir, "events")
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(byUser))
      .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  val eventsScd2Sql: String =
    """WITH ordered AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |chg AS (
      |  SELECT user_id, ts, event_id, event_type FROM ordered
      |  WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id,
      |  row_number() OVER w AS version,
      |  event_type AS state,
      |  ts AS valid_from,
      |  lead(ts) OVER w AS valid_to,
      |  (lead(ts) OVER w IS NULL) AS is_current
      |FROM chg
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_ewma" -> (tsEwma _),
    "ts_holt" -> (tsHolt _),
    "events_scd2" -> (eventsScd2 _),
    "events_sessions" -> (eventsSessions _),
    "events_attribution" -> (eventsAttribution _),
    "pareto_abc" -> (paretoAbc _),
    "cust_cohort_ltv" -> (custCohortLtv _))

  val oracle: Map[String, String] = Map(
    "ts_ewma" -> tsEwmaSql,
    "ts_holt" -> tsHoltSql,
    "events_scd2" -> eventsScd2Sql,
    "events_sessions" -> eventsSessionsSql,
    "events_attribution" -> eventsAttributionSql,
    "pareto_abc" -> paretoAbcSql,
    "cust_cohort_ltv" -> custCohortLtvSql)
}
