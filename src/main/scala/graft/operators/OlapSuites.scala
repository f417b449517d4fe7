package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Analogs for the reference's OTHER OLAP benchmark suites beyond
  * TPC-H/TPC-DS/JOB — the db-benchmark (h2oai) grouping battery and
  * ClickBench (reference `benchmark/h2oai/group/queries/` and
  * `benchmark/clickbench/queries/`, 10 + 43 SQL files). Most shapes are
  * already covered by the `agg_*`/`win_*`/`shape_*` families (sums by
  * key at varying cardinality, median+sd per group, top-2 per group via
  * row_number, corr² per group, uniq counts, ordered LIMIT) — these two
  * entries pin the shapes those families DON'T hit. */
object OlapSuites extends graft.EntryModule {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** h2oai groupby q10 (reference `benchmark/h2oai/group/queries/q10.sql`:
    * `GROUP BY id1, …, id6` with sum + count): the NEAR-ROW-CARDINALITY
    * grouping stress — six keys whose combination is the row identity, so
    * the aggregate's hash table holds ~|rows| groups (60 k at sf0.01) and
    * map-side partial aggregation reduces nothing. Scale posture: one
    * hash-aggregate exchange on all six keys; the reduction happening
    * nowhere is the POINT (the question measures grouping machinery, not
    * data reduction), and Spark's two-phase aggregate degrades gracefully
    * to a pure shuffle-and-finalize here. */
  def h2oGroupbySix(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("v3"),
        count(lit(1)).as("cnt"))

  val h2oGroupbySixSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |       l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS v3,
      |       count(*) AS cnt
      |FROM lineitem
      |GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |         l_returnflag, l_linestatus""".stripMargin

  /** ClickBench's domain-extraction top-N family (reference
    * `benchmark/clickbench/queries/` — e.g. "GROUP BY domain ORDER BY
    * uniq users DESC LIMIT 10" with the domain REGEXP-extracted from the
    * URL inside the grouping key): a computed string key feeding a
    * count-distinct aggregate feeding an ordered LIMIT with a total-order
    * tie-break. The regexp runs once per row inside the scan's codegen
    * stage; the distinct count shuffles on the computed key. */
  def cbDomainTopn(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(
        (regexp_extract(col("source"), "src([0-9]+)", 1).cast("int") % 5)
          .as("bucket"),
        col("lang"), col("n_chars"))
      .groupBy(col("bucket"))
      .agg(countDistinct(col("lang")).as("u"),
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("chars"))
      .orderBy(col("u").desc, col("n").desc, col("bucket").asc)
      .limit(3)

  val cbDomainTopnSql: String =
    """SELECT CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT) % 5 AS bucket,
      |       count(DISTINCT lang) AS u, count(*) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY 1
      |ORDER BY u DESC, n DESC, bucket ASC
      |LIMIT 3""".stripMargin

  /** ClickBench q30 (reference `benchmark/clickbench/queries/q30.sql`:
    * `SUM(ResolutionWidth), SUM(ResolutionWidth + 1), …, SUM(+ 89)` —
    * NINETY aggregates over one scan): the WIDE-AGGREGATE stress no
    * other entry hits — it measures whether 90 accumulators stay in one
    * codegen'd partial-aggregate pass (one scan, one exchange of a
    * single 90-column row) instead of 90 passes. Values are exact cents
    * integers so all 90 BIGINT sums are engine-identical; both the
    * Spark columns and the oracle string are generated from the same
    * k-range so the battery cannot drift. */
  def cbWideSums(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .select(round(col("value") * 100).cast("long").as("cents"))
      .agg(sum(col("cents") + 0).as("s0"),
        (1 until 90).map(k => sum(col("cents") + k).as(s"s$k")): _*)

  val cbWideSumsSql: String =
    (0 until 90).map(k =>
      s"CAST(sum(CAST(round(value * 100) AS BIGINT) + $k) AS BIGINT) AS s$k")
      .mkString("SELECT ", ",\n       ", "\nFROM events")

  /** ClickBench q22 (reference `benchmark/clickbench/queries/q22.sql`:
    * `WHERE Title LIKE '%Google%' AND URL NOT LIKE '%.google.%' AND
    * SearchPhrase <> '' … MIN(URL), MIN(Title), COUNT(*),
    * COUNT(DISTINCT UserID) … ORDER BY c DESC LIMIT 10` — the suite's
    * hardest query): a positive LIKE + a NEGATED LIKE + an inequality
    * all pushed to the scan, feeding MIN-over-strings + a count-distinct
    * in one grouped pass, then an ordered LIMIT with a total-order
    * tie-break. The distinct forces the two-phase
    * distinct-aggregate expansion; the string mins ride the same
    * hash aggregate. */
  def cbSearchPhrases(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .filter(col("text").like("%data%") &&
        !col("source").like("%7%") && col("lang") =!= "")
      .groupBy(col("lang"))
      .agg(min(col("source")).as("min_src"),
        min(col("text")).as("min_text"),
        count(lit(1)).as("c"),
        countDistinct(col("n_chars")).as("u"))
      .orderBy(col("c").desc, col("lang").asc)
      .limit(10)

  val cbSearchPhrasesSql: String =
    """SELECT lang, min(source) AS min_src, min(text) AS min_text,
      |       count(*) AS c, count(DISTINCT n_chars) AS u
      |FROM documents
      |WHERE text LIKE '%data%' AND source NOT LIKE '%7%' AND lang <> ''
      |GROUP BY lang
      |ORDER BY c DESC, lang ASC
      |LIMIT 10""".stripMargin

  /** ClickBench's URL-host family (reference
    * `benchmark/clickbench/queries/q29.sql`: REGEXP-extract the host
    * from Referer, avg(strlen) + count + min per host, HAVING on the
    * count, ordered LIMIT). The fixture has no URL column, so a
    * deterministic referer is synthesized from source+doc_id on BOTH
    * engines; the host comes back out via the same
    * `https?://(?:www\.)?([^/]+)/` capture group q29 uses —
    * regexp_extract has the SAME (str, pattern, group) signature on
    * Spark and DuckDB, which is why the pin avoids q29's regexp_replace
    * backreference (spelled `\1` on DuckDB but `$1` on Spark). Scale
    * posture: regex runs once per row inside the scan's codegen stage;
    * one hash-aggregate exchange on the extracted host. */
  def cbUrlHostTopn(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(concat(lit("https://www."), col("source"),
        lit(".example.com/p/"), (col("doc_id") % 50).cast("string"))
        .as("referer"))
      .select(regexp_extract(col("referer"),
        "https?://(?:www\\.)?([^/]+)/", 1).as("k"),
        col("referer"))
      .groupBy(col("k"))
      .agg(round(avg(length(col("referer"))), 4).as("l"),
        count(lit(1)).as("c"),
        min(col("referer")).as("mn"))
      .filter(col("c") >= 10)
      .orderBy(col("l").desc, col("k").asc)
      .limit(25)

  val cbUrlHostTopnSql: String =
    """WITH urls AS (
      |  SELECT 'https://www.' || source || '.example.com/p/'
      |         || CAST(doc_id % 50 AS VARCHAR) AS referer
      |  FROM documents)
      |SELECT regexp_extract(referer, 'https?://(?:www\.)?([^/]+)/', 1) AS k,
      |       round(avg(length(referer)), 4) AS l,
      |       count(*) AS c, min(referer) AS mn
      |FROM urls
      |GROUP BY k HAVING count(*) >= 10
      |ORDER BY l DESC, k ASC
      |LIMIT 25""".stripMargin

  /** ClickBench's deep-page top-N (reference
    * `benchmark/clickbench/queries/q39-q42.sql`: `ORDER BY PageViews
    * DESC LIMIT 10 OFFSET 100..10000` — pagination INTO an ordered
    * aggregate). OFFSET composes with the ordered LIMIT as a single
    * driver-side window over the (tiny) sorted aggregate; the
    * total-order tie-break keys make the page deterministic on both
    * engines. Scale posture: the aggregate output (|event_type| ×
    * 20 buckets) is tiny regardless of fact size, so the global sort +
    * offset never sees more than the group count. */
  def cbViewsOffset(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .select(col("event_type"), (col("user_id") % 20).as("ub"))
      .groupBy(col("event_type"), col("ub"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("event_type").asc, col("ub").asc)
      .offset(25)
      .limit(10)

  val cbViewsOffsetSql: String =
    """SELECT event_type, user_id % 20 AS ub, count(*) AS c
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY c DESC, event_type ASC, ub ASC
      |LIMIT 10 OFFSET 25""".stripMargin

  /** h2oai groupby q06 (reference
    * `benchmark/h2oai/group/queries/q06.sql`: `quantile_cont(v3, 0.5)
    * AS median_v3, stddev(v3) AS sd_v3 GROUP BY id4, id5`) at NEAR-ROW
    * cardinality — one group per l_orderkey (~4 rows each), so the
    * HOLISTIC aggregates (exact median needs the group's values
    * materialized; Spark's `percentile` matches quantile_cont's linear
    * interpolation) run against the grouping machinery itself rather
    * than reducing data. stddev is the n-1 sample form on both engines
    * (NULL for 1-row groups on both). Scale posture: exact percentile
    * buffers per-group values — fine at ~4 rows/group at ANY corpus
    * size since group count scales with rows, not group size;
    * approx_percentile is the documented swap if group sizes (not
    * counts) ever grow. */
  def h2oMedianSd(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("median_q"),
        round(stddev(col("l_extendedprice")), 4).as("sd_price"),
        count(lit(1)).as("cnt"))

  val h2oMedianSdSql: String =
    """SELECT l_orderkey,
      |       round(quantile_cont(l_quantity, 0.5), 4) AS median_q,
      |       round(stddev(l_extendedprice), 4) AS sd_price,
      |       count(*) AS cnt
      |FROM lineitem
      |GROUP BY l_orderkey""".stripMargin

  /** h2oai join battery (reference `benchmark/h2oai/join/queries/q01-q05
    * .sql`): enrichment joins that keep x.* and verify via aggregates
    * over the joined result (the reference's own RESULT_QUERY pattern —
    * `SELECT COUNT(*), SUM(v1) FROM ans`). Three cardinality regimes:
    *
    * q01 analog — x JOIN small (tiny key domain): every lineitem row
    * enriched from the 100x-smaller supplier side. Scale posture: pure
    * broadcast-hash enrichment, zero fact shuffle. */
  def h2oJoinSmall(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .join(broadcast(Tables.t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_acctbal"))),
        col("l_suppkey") === col("s_suppkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s_acctbal")), 2).as("v_small"),
        sum(dec(col("l_extendedprice"))).cast("double").as("v_x"))

  val h2oJoinSmallSql: String =
    """SELECT count(*) AS n,
      |       round(sum(s_acctbal), 2) AS v_small,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS v_x
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin

  /** q03 analog — x LEFT JOIN medium with UNMATCHED keys on a STRING
    * join column (h2oai's medium table joins on string id5 and its NA
    * variants leave nulls): only sources with suffix % 3 = 0 exist on
    * the build side, so two thirds of the probe rows carry NULL payload
    * — the count(payload) vs count(*) split is what the pin checks.
    * Scale posture: the dim derives from a pre-aggregated scan (tiny) →
    * broadcast; the LEFT join preserves probe-side partitioning. */
  def h2oJoinMediumLeft(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    val dim = docs
      .filter(regexp_extract(col("source"), "src([0-9]+)", 1)
        .cast("int") % 3 === 0)
      .groupBy(col("source"))
      .agg(avg(col("n_chars")).as("src_avg"))
    docs.select(col("source"), col("n_chars"))
      .join(broadcast(dim), Seq("source"), "left")
      .agg(count(lit(1)).as("n"),
        count(col("src_avg")).as("n_matched"),
        round(sum(col("src_avg")), 2).as("v_medium"))
  }

  val h2oJoinMediumLeftSql: String =
    """WITH dim AS (
      |  SELECT source, avg(n_chars) AS src_avg
      |  FROM documents
      |  WHERE CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT) % 3 = 0
      |  GROUP BY source)
      |SELECT count(*) AS n, count(src_avg) AS n_matched,
      |       round(sum(src_avg), 2) AS v_medium
      |FROM documents LEFT JOIN dim USING (source)""".stripMargin

  /** q05 analog — x JOIN big at PROBE-SIDE cardinality (h2oai's 1e7⋈1e7
    * 1:1 join, both sides the full row count): orders against its own
    * key-complete projection — every row matches exactly once. Scale
    * posture: this is the one battery member that MUST shuffle at real
    * scale (neither side fits a broadcast at 1e7+); both sides hash on
    * the shared key into one co-partitioned exchange pair, and the 1:1
    * key multiplicity means no post-join inflation. */
  def h2oJoinBig(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val big = Tables.t(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        dec(col("o_totalprice")).as("v2"))
    x.join(big, col("o_orderkey") === col("k"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("v1"),
        sum(col("v2")).cast("double").as("v2"))
  }

  val h2oJoinBigSql: String =
    """SELECT count(*) AS n,
      |       CAST(sum(CAST(x.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v1,
      |       CAST(sum(CAST(big.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v2
      |FROM orders x JOIN orders big ON x.o_orderkey = big.o_orderkey""".stripMargin

  /** Sequential conversion funnel (the product-analytics shape ClickBench
    * doesn't carry): per user, first VIEW, first CLICK strictly after
    * that view, first PURCHASE strictly after that click. Each stage's
    * bound depends on the previous stage's RESULT — three chained
    * conditional mins over one user-partitioned window (ONE shuffle; the
    * oracle phrases the same cascade as three grouped joins). NULL
    * propagation is the semantics: a user with no view can convert at no
    * later stage (`ts > NULL` filters everything on both engines). */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    Tables.t(s, dir, "events")
      .withColumn("v",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c",
        min(when(col("event_type") === "click" && col("ts") > col("v"),
          col("ts"))).over(w))
      .withColumn("p",
        min(when(col("event_type") === "purchase" && col("ts") > col("c"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(first(col("v")).as("first_view"),
        first(col("c")).as("first_click"),
        first(col("p")).as("first_purchase"))
  }

  val eventsFunnelSql: String =
    """WITH s1 AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
      |  FROM events GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS first_click
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s1.first_view
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS first_purchase
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s2.first_click
      |  GROUP BY e.user_id)
      |SELECT user_id, first_view, first_click, first_purchase
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin

  /** Weekly cohort retention — the other canonical product-analytics
    * shape: users cohorted by their first-seen epoch week, then counted
    * distinctly at each week offset (0..3). Epoch-week arithmetic is
    * pure integer (`days-since-1970 DIV 7` — the dsWeekPivot parity
    * lesson: spell the floor identically on both engines), so the
    * cohort matrix is exact. Scale posture: one per-user min aggregate,
    * one broadcastable join back (per-user cohort is |users|-sized), one
    * grouped multi-distinct aggregate. */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events").select(col("user_id"),
      expr("datediff(CAST(ts AS DATE), DATE '1970-01-01') DIV 7").as("wk"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    ev.join(cohorts, Seq("user_id"))
      .select(col("user_id"), col("cohort"), (col("wk") - col("cohort")).as("off"))
      .groupBy(col("cohort"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("off") === 1, col("user_id"))).as("w1"),
        countDistinct(when(col("off") === 2, col("user_id"))).as("w2"),
        countDistinct(when(col("off") === 3, col("user_id"))).as("w3"))
  }

  val eventsRetentionSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk
      |  FROM events),
      |cohorts AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id)
      |SELECT cohort, count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT CASE WHEN wk - cohort = 1 THEN user_id END) AS w1,
      |  count(DISTINCT CASE WHEN wk - cohort = 2 THEN user_id END) AS w2,
      |  count(DISTINCT CASE WHEN wk - cohort = 3 THEN user_id END) AS w3
      |FROM ev JOIN cohorts USING (user_id)
      |GROUP BY cohort""".stripMargin

  /** Rolling 7-day active users (DAU/WAU/stickiness) — the sliding
    * DISTINCT shape none of the `win_*` family covers (windowed
    * count-distinct is unsupported as a window function on BOTH engines,
    * so the published formulation is this one): pre-distinct the fact to
    * (day, user) grain, then range-join against the day dimension and
    * count distinct per report day. Scale posture: the day dimension is
    * calendar-bounded (tiny forever) → broadcast; the fact side is
    * pre-shrunk to |users|×|days| BEFORE the 7-way inflation, and the
    * per-day distinct shuffles on the report day. Stickiness (DAU/WAU,
    * Facebook's engagement ratio) is a quotient of two exact integers,
    * so the rounding agrees bitwise across engines. */
  def eventsWau(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.t(s, dir, "events")
      .select(col("ts").cast("date").as("ud"), col("user_id")).distinct()
    val days = du.select(col("ud").as("d")).distinct()
    du.join(broadcast(days),
        col("ud") >= date_sub(col("d"), 6) && col("ud") <= col("d"))
      .groupBy(col("d"))
      .agg(countDistinct(when(col("ud") === col("d"), col("user_id")))
          .as("dau"),
        countDistinct(col("user_id")).as("wau"))
      .select(col("d"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
  }

  val eventsWauSql: String =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS ud, user_id FROM events),
      |days AS (SELECT DISTINCT ud AS d FROM du)
      |SELECT d,
      |       count(DISTINCT CASE WHEN ud = d THEN user_id END) AS dau,
      |       count(DISTINCT user_id) AS wau,
      |       round(CAST(count(DISTINCT CASE WHEN ud = d THEN user_id END) AS DOUBLE)
      |             / count(DISTINCT user_id), 4) AS stickiness
      |FROM du JOIN days ON ud BETWEEN d - 6 AND d
      |GROUP BY d""".stripMargin

  /** First-order Markov transition matrix over per-user event streams —
    * the path-analysis shape behind "where do users go after X":
    * lag(event_type) over (user, ts, event_id order) pairs each event
    * with its predecessor, transitions are counted, and each row carries
    * its conditional probability P(cur | prev) as a share of the prev
    * state's outgoing total. The (ts, event_id) compound order key makes
    * the pairing total-order deterministic under same-timestamp events.
    * Scale posture: one shuffle on user_id for the lag window, then a
    * 25-row (|types|²) aggregate; the probability share is a window over
    * that tiny aggregate. n/total is a quotient of exact integers. */
  def eventsPaths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.t(s, dir, "events")
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("cur"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("prev"))), 4))
  }

  val eventsPathsSql: String =
    """WITH lagged AS (
      |  SELECT user_id, event_type AS cur,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS prev
      |  FROM events),
      |t AS (
      |  SELECT prev, cur, count(*) AS n
      |  FROM lagged WHERE prev IS NOT NULL
      |  GROUP BY prev, cur)
      |SELECT prev, cur, n,
      |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev), 4) AS p
      |FROM t""".stripMargin

  /** Per-type inter-arrival latency profile — the gap statistics behind
    * rate-limit tuning and session-timeout selection: consecutive
    * same-user same-type events are paired by a lag window and the gap
    * distribution summarized per type (count, mean, exact median, max).
    * Gaps stay INTEGER MICROSECONDS (`unix_micros`/`epoch_us` — the
    * same clock on both engines) through every aggregate: avg divides an
    * exact int128/long sum once, the exact median interpolates between
    * two integers — both correctly-rounded single operations, so the
    * doubles agree bitwise and no engine-order float accumulation
    * exists anywhere. Scale posture: one shuffle on (user, type) for the
    * window, then a |types|-row aggregate; the holistic exact median
    * buffers per-(type) gap lists — the documented approx_percentile
    * swap applies if per-type volumes outgrow an executor. */
  def eventsInterarrival(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.t(s, dir, "events")
      .withColumn("gap",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("gap")) / 1e6, 4).as("mean_s"),
        round(expr("percentile(gap, 0.5)") / 1e6, 4).as("median_s"),
        round(max(col("gap")) / 1e6, 4).as("max_s"))
  }

  val eventsInterarrivalSql: String =
    """WITH lagged AS (
      |  SELECT event_type,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |           PARTITION BY user_id, event_type
      |           ORDER BY ts, event_id) AS gap
      |  FROM events)
      |SELECT event_type, count(*) AS n_gaps,
      |       round(avg(gap) / 1e6, 4) AS mean_s,
      |       round(quantile_cont(gap, 0.5) / 1e6, 4) AS median_s,
      |       round(max(gap) / 1e6, 4) AS max_s
      |FROM lagged WHERE gap IS NOT NULL
      |GROUP BY event_type""".stripMargin

  /** Daily-volume anomaly scan — the ops-dashboard z-score pass: daily
    * counts per type, each day scored against its type's across-days
    * mean/sample-sd, |z| ≥ 2 flagged. Every aggregate input is an exact
    * integer (daily counts), and a ~30-day series of counts keeps sums
    * and sums-of-squares integer-valued below 2^53 — so mean and sd are
    * order-independent bitwise-identical doubles on any engine or
    * cluster size. The NULLIF guards the all-days-equal sd = 0 corpus
    * (the ANSI divide-by-zero lesson). Scale posture: one grouped count
    * (map-side combining), then a window over the |types|×|days|
    * metadata-sized aggregate. */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
    Tables.t(s, dir, "events")
      .groupBy(col("event_type"), col("ts").cast("date").as("d"))
      .agg(count(lit(1)).as("c"))
      .withColumn("z", round((col("c") - avg(col("c")).over(w)) /
        nullif(stddev(col("c")).over(w), lit(0.0)), 4))
      .withColumn("is_anomaly", abs(col("z")) >= 2.0)
  }

  val eventsAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, d, c,
      |       round((c - avg(c) OVER (PARTITION BY event_type))
      |             / NULLIF(stddev(c) OVER (PARTITION BY event_type), 0), 4) AS z,
      |       abs(round((c - avg(c) OVER (PARTITION BY event_type))
      |             / NULLIF(stddev(c) OVER (PARTITION BY event_type), 0), 4)) >= 2.0
      |         AS is_anomaly
      |FROM daily""".stripMargin

  /** Calendar gap-fill + forward-fill — the resampling pass every
    * time-series pipeline runs before charting or joining irregular
    * observations: sparsify the fact (1-in-97 sample makes real gaps),
    * build the dense type×day grid from a generated calendar, LEFT join
    * the observations back, and carry the last observation forward with
    * its age. The fill is `last_value IGNORE NULLS` over a running
    * frame — rows before a type's first observation stay NULL on both
    * engines (no fabricated zero). Scale posture: the calendar is
    * generated, not scanned (bounded by date range forever); the grid is
    * |types|×|days| metadata-sized; the only fact-sized work is the
    * grouped count, which map-side combines. */
  def tsGapfill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.t(s, dir, "events")
      .filter(col("event_id") % 97 === 0)
      .select(col("event_type"), col("ts").cast("date").as("d"))
    val daily = ev.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("c_obs"))
    val cal = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(cal))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("event_type", "d"), "left")
      .withColumn("c_fill", last(col("c_obs"), ignoreNulls = true).over(w))
      .withColumn("last_obs_d",
        last(when(col("c_obs").isNotNull, col("d")), ignoreNulls = true).over(w))
      .withColumn("gap_days",
        datediff(col("d"), col("last_obs_d")).cast("long"))
  }

  val tsGapfillSql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d
      |  FROM events WHERE event_id % 97 = 0),
      |daily AS (SELECT event_type, d, count(*) AS c_obs FROM ev GROUP BY 1, 2),
      |cal AS (
      |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM (SELECT min(d) AS lo, max(d) AS hi FROM ev)),
      |grid AS (SELECT event_type, d FROM (SELECT DISTINCT event_type FROM ev), cal)
      |SELECT g.event_type, g.d, c_obs,
      |       last_value(c_obs IGNORE NULLS) OVER w AS c_fill,
      |       last_value(CASE WHEN c_obs IS NOT NULL THEN g.d END IGNORE NULLS)
      |         OVER w AS last_obs_d,
      |       date_diff('day',
      |         last_value(CASE WHEN c_obs IS NOT NULL THEN g.d END IGNORE NULLS)
      |           OVER w, g.d) AS gap_days
      |FROM grid g LEFT JOIN daily USING (event_type, d)
      |WINDOW w AS (PARTITION BY g.event_type ORDER BY g.d
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Deterministic A/B experiment readout — the two-proportion z-test
    * every growth team runs: users are assigned to arms by
    * `hash64(seed, user_id) % 1e6 < 500000` (the same salted-hash
    * bucketing the mixture samplers use — assignment is reproducible on
    * any engine, cluster size, or re-run, which is the property that
    * makes an experiment auditable), conversion = "has ≥1 purchase", and
    * the readout is one row: both arms' counts, rates, and the pooled
    * two-proportion z statistic. Every float is derived from four exact
    * integers through an identically-spelled chain of correctly-rounded
    * ops, so the rounded z agrees bitwise. The NULLIF guards the
    * degenerate all-convert/none-convert corpus. Scale posture: one
    * per-user aggregate (map-side combining), then a 2-row → 1-row
    * reduction. */
  def eventsAbAssign(s: SparkSession, dir: String): DataFrame = {
    val arm = when(
      graft.pipeline.Dedup.hash64(29, col("user_id").cast("string"))
        % 1000000L < 500000L, "A").otherwise("B")
    val perUser = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .select(arm.as("arm"), col("conv"))
    perUser.agg(
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "A", col("conv")).otherwise(0L)).as("k_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === "B", col("conv")).otherwise(0L)).as("k_b"))
      .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        // every divisor goes through nullif: a one-arm corpus (all users
        // hash to A) must yield NULL rates/z, matching DuckDB's native
        // divide-by-zero → NULL, not an ANSI DIVIDE_BY_ZERO error
        round(col("k_a").cast("double") / nullif(col("n_a"), lit(0L)), 4)
          .as("rate_a"),
        round(col("k_b").cast("double") / nullif(col("n_b"), lit(0L)), 4)
          .as("rate_b"),
        round((col("k_a").cast("double") / nullif(col("n_a"), lit(0L))
            - col("k_b").cast("double") / nullif(col("n_b"), lit(0L))) /
          nullif(sqrt(
            ((col("k_a") + col("k_b")).cast("double")
                / nullif(col("n_a") + col("n_b"), lit(0L)))
              * (lit(1.0) - (col("k_a") + col("k_b")).cast("double")
                  / nullif(col("n_a") + col("n_b"), lit(0L)))
              * (lit(1.0) / nullif(col("n_a"), lit(0L))
                  + lit(1.0) / nullif(col("n_b"), lit(0L)))), lit(0.0)), 4)
          .as("z"))
  }

  val eventsAbAssignSql: String = {
    val u = graft.pipeline.Dedup.hash64Sql("29", "CAST(user_id AS VARCHAR)")
    s"""WITH per_user AS (
       |  SELECT CASE WHEN $u % 1000000 < 500000 THEN 'A' ELSE 'B' END AS arm,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY user_id),
       |c AS (
       |  SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS k_a,
       |         CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |         CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS k_b
       |  FROM per_user)
       |SELECT n_a, k_a, n_b, k_b,
       |  round(CAST(k_a AS DOUBLE) / NULLIF(n_a, 0), 4) AS rate_a,
       |  round(CAST(k_b AS DOUBLE) / NULLIF(n_b, 0), 4) AS rate_b,
       |  round((CAST(k_a AS DOUBLE) / NULLIF(n_a, 0)
       |         - CAST(k_b AS DOUBLE) / NULLIF(n_b, 0))
       |    / NULLIF(sqrt(
       |        (CAST(k_a + k_b AS DOUBLE) / NULLIF(n_a + n_b, 0))
       |        * (1.0 - CAST(k_a + k_b AS DOUBLE) / NULLIF(n_a + n_b, 0))
       |        * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0), 4) AS z
       |FROM c""".stripMargin
  }

  /** RFM customer segmentation — the classic marketing cube: per
    * customer recency (last order date), frequency (order count), and
    * monetary (exact DECIMAL revenue sum), each scored into quintiles by
    * ntile(5) under a TOTAL order (metric, then custkey — both engines
    * split ntile remainders identically per the SQL standard, and the
    * tie-break makes the permutation unique), then the 125-cell segment
    * cube summarized. Scale posture: one per-customer aggregate, then
    * three global ntile sorts over the |customers| summary — the
    * documented swap at real scale is approx-quantile CUT POINTS
    * (percentile_approx) instead of exact global sorts; the quintile
    * SEMANTICS (equal-count bins) are what the entry pins. */
  def custRfm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = Tables.t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("r"),
        count(lit(1)).as("f"),
        sum(dec(col("o_totalprice"))).as("m"))
    perCust
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("r").asc, col("o_custkey").asc)))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("f").asc, col("o_custkey").asc)))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("m").asc, col("o_custkey").asc)))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("m")).cast("double").as("m_total"))
  }

  val custRfmSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, max(o_orderdate) AS r, count(*) AS f,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m
      |  FROM orders GROUP BY o_custkey),
      |scored AS (
      |  SELECT ntile(5) OVER (ORDER BY r ASC, o_custkey ASC) AS r_score,
      |         ntile(5) OVER (ORDER BY f ASC, o_custkey ASC) AS f_score,
      |         ntile(5) OVER (ORDER BY m ASC, o_custkey ASC) AS m_score,
      |         m
      |  FROM per_cust)
      |SELECT r_score, f_score, m_score, count(*) AS n_cust,
      |       CAST(sum(m) AS DOUBLE) AS m_total
      |FROM scored GROUP BY r_score, f_score, m_score""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "h2o_groupby_six" -> (h2oGroupbySix _),
    "h2o_join_small" -> (h2oJoinSmall _),
    "h2o_join_medium_left" -> (h2oJoinMediumLeft _),
    "h2o_join_big" -> (h2oJoinBig _),
    "h2o_median_sd" -> (h2oMedianSd _),
    "cb_domain_topn" -> (cbDomainTopn _),
    "cb_wide_sums" -> (cbWideSums _),
    "cb_search_phrases" -> (cbSearchPhrases _),
    "cb_url_host_topn" -> (cbUrlHostTopn _),
    "cb_views_offset" -> (cbViewsOffset _),
    "events_funnel" -> (eventsFunnel _),
    "events_retention" -> (eventsRetention _),
    "events_wau" -> (eventsWau _),
    "events_paths" -> (eventsPaths _),
    "events_interarrival" -> (eventsInterarrival _),
    "events_anomaly" -> (eventsAnomaly _),
    "ts_gapfill" -> (tsGapfill _),
    "events_ab_assign" -> (eventsAbAssign _),
    "cust_rfm" -> (custRfm _))

  val oracle: Map[String, String] = Map(
    "h2o_groupby_six" -> h2oGroupbySixSql,
    "h2o_join_small" -> h2oJoinSmallSql,
    "h2o_join_medium_left" -> h2oJoinMediumLeftSql,
    "h2o_join_big" -> h2oJoinBigSql,
    "h2o_median_sd" -> h2oMedianSdSql,
    "cb_domain_topn" -> cbDomainTopnSql,
    "cb_wide_sums" -> cbWideSumsSql,
    "cb_search_phrases" -> cbSearchPhrasesSql,
    "cb_url_host_topn" -> cbUrlHostTopnSql,
    "cb_views_offset" -> cbViewsOffsetSql,
    "events_funnel" -> eventsFunnelSql,
    "events_retention" -> eventsRetentionSql,
    "events_wau" -> eventsWauSql,
    "events_paths" -> eventsPathsSql,
    "events_interarrival" -> eventsInterarrivalSql,
    "events_anomaly" -> eventsAnomalySql,
    "ts_gapfill" -> tsGapfillSql,
    "events_ab_assign" -> eventsAbAssignSql,
    "cust_rfm" -> custRfmSql)
}
