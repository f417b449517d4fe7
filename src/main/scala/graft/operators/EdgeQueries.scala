package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Adversarial-semantics corpus — the sqllogictest habit of the reference
  * (`/root/reference/test/sql/` probes every operator against NULL keys,
  * all-NULL groups, empty inputs, special floats, degenerate frames) as
  * driver-gated oracle entries. Each query pins a semantics corner the
  * fixture-shaped entries never touch, and every one is value-compared
  * against DuckDB at the correctness gate.
  *
  * Nearly all entries run the SAME SQL string through `spark.sql` and
  * DuckDB (dialect-shared on purpose — this doubles as the SQL-string
  * surface test); the exceptions hold per-dialect strings where the
  * spelling genuinely differs: integer division (`DIV` vs `//`), list
  * functions (`try_element_at`/`slice` vs `list_extract`/`list_slice`),
  * regex (`RLIKE` + global-default replace vs `regexp_matches` + 'g'),
  * bit ops (`^`/`shiftleft` vs `xor()`/`<<`), and date part extraction
  * (`weekday`/`datediff` vs `isodow`/`date_diff`).
  *
  * Known divergence documented, not tested: CAST of a fractional number
  * to INT rounds in DuckDB (2.7 → 3) but truncates in Spark ANSI
  * (2.7 → 2); users must round() explicitly before casting for portable
  * results.
  */
object EdgeQueries extends graft.EntryModule {

  /** Ungrouped aggregate over ZERO rows: count 0, every other agg NULL
    * (reference `test/sql/aggregate/aggregates/test_aggregate_types.test`
    * empty-input blocks). */
  val edgeAggEmptySql: String =
    """SELECT count(*) AS n, sum(l_quantity) AS s, min(l_shipdate) AS mn,
      |       avg(l_extendedprice) AS av
      |FROM lineitem WHERE l_orderkey < 0""".stripMargin

  /** Aggregates over an ALL-NULL column: count(col) 0 vs count(*) n,
    * sum/min/max/avg all NULL. */
  val edgeAggAllnullSql: String =
    """SELECT count(x) AS n_nonnull, count(*) AS n_all, sum(x) AS s,
      |       min(x) AS mn, max(x) AS mx, avg(x) AS av
      |FROM (SELECT nullif(c_acctbal, c_acctbal) AS x FROM customer) t""".stripMargin

  /** GROUP BY a nullable key: the NULL group exists, groups by equality
    * (NULL keys collect into ONE group, not one group per row). */
  val edgeGroupNullkeySql: String =
    """SELECT nullif(c_nationkey % 5, 0) AS g, count(*) AS n,
      |       round(sum(c_acctbal), 4) AS s
      |FROM customer GROUP BY nullif(c_nationkey % 5, 0)""".stripMargin

  /** Joins where one side is EMPTY: left join keeps every left row with
    * NULL payload; inner join returns zero rows. */
  val edgeJoinEmptySideSql: String =
    """SELECT l.n_left, l.n_matched, i.n_inner FROM
      |  (SELECT count(*) AS n_left, count(o_orderkey) AS n_matched
      |   FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderkey < 0) o
      |     ON c_custkey = o_custkey) l,
      |  (SELECT count(*) AS n_inner
      |   FROM customer JOIN (SELECT * FROM orders WHERE o_orderkey < 0) o2
      |     ON c_custkey = o2.o_custkey) i""".stripMargin

  /** Physical NULL placement in a total order, pinned via row_number with
    * explicit NULLS FIRST (the one semantics the value-sorted oracle
    * compare cannot see by itself). Global window is intentional: this is
    * a semantics pin on a 100-row slice, not a data-path recipe —
    * `Joins.globalPosition` is the scalable form. */
  val edgeNullOrderSql: String =
    """SELECT rn, k, c_custkey FROM (
      |  SELECT row_number() OVER (ORDER BY k ASC NULLS FIRST, c_custkey) AS rn,
      |         k, c_custkey
      |  FROM (SELECT c_custkey, nullif(c_nationkey, 13) AS k FROM customer) t
      |) w WHERE rn <= 100""".stripMargin

  /** IN / NOT IN with a NULL in the list: `x NOT IN (..., NULL)` is never
    * TRUE (NULL-propagating), `x IN (..., NULL)` still matches listed
    * values. */
  val edgeInNullSql: String =
    """SELECT
      |  count(CASE WHEN c_nationkey IN (1, 2, CAST(NULL AS INT)) THEN 1 END) AS n_in,
      |  count(CASE WHEN c_nationkey NOT IN (1, 2, CAST(NULL AS INT)) THEN 1 END) AS n_notin,
      |  count(*) AS n
      |FROM customer""".stripMargin

  /** A window frame entirely beyond the partition end is EMPTY → agg over
    * it is NULL (not 0). */
  val edgeWinEmptyFrameSql: String =
    """SELECT c_custkey, round(sum(c_acctbal) OVER (
      |    PARTITION BY c_nationkey ORDER BY c_custkey
      |    ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING), 4) AS s
      |FROM customer""".stripMargin

  /** lead/lag beyond the partition edge take the explicit DEFAULT, not
    * NULL. */
  val edgeLeadlagDefaultSql: String =
    """SELECT c_custkey,
      |  lag(c_custkey, 2, -1)  OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS lg,
      |  lead(c_custkey, 2, -1) OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS ld
      |FROM customer""".stripMargin

  /** least/greatest SKIP NULL arguments (return the extreme non-NULL, not
    * NULL) in both engines. */
  val edgeLeastGreatestSql: String =
    """SELECT c_custkey,
      |  least(c_acctbal, CAST(NULL AS DOUBLE)) AS l,
      |  greatest(c_acctbal, CAST(NULL AS DOUBLE), 0.0) AS g
      |FROM customer""".stripMargin

  /** NaN / ±Infinity: NaN groups by equality, sorts GREATER than +inf,
    * poisons sum, and wins max; min ignores it only when a smaller finite
    * value exists. Counted per class so the compare never hashes a raw
    * NaN. */
  val edgeFloatSpecialSql: String =
    """SELECT
      |  count(CASE WHEN isnan(x) THEN 1 END) AS n_nan,
      |  count(CASE WHEN x = CAST('Infinity' AS DOUBLE) THEN 1 END) AS n_posinf,
      |  count(CASE WHEN x = CAST('-Infinity' AS DOUBLE) THEN 1 END) AS n_neginf,
      |  round(max(CASE WHEN NOT isnan(x) AND x < CAST('Infinity' AS DOUBLE) THEN x END), 4) AS mx_finite,
      |  count(CASE WHEN isnan(x + 1.0) THEN 1 END) AS n_nan_arith
      |FROM (SELECT CASE CAST(c_custkey % 100 AS INT)
      |               WHEN 0 THEN CAST('NaN' AS DOUBLE)
      |               WHEN 1 THEN CAST('Infinity' AS DOUBLE)
      |               WHEN 2 THEN CAST('-Infinity' AS DOUBLE)
      |               ELSE c_acctbal END AS x
      |      FROM customer) t""".stripMargin

  /** Truncating integer division and C-style modulo on NEGATIVE operands
    * (-7 div 2 = -3, -7 % 3 = -1, 7 % -3 = 1 — both engines truncate
    * toward zero). Dialect split: Spark `DIV`, DuckDB `//`. */
  val edgeIntdivSparkSql: String =
    """SELECT DISTINCT k, k DIV 5 AS d, k % 5 AS m
      |FROM (SELECT CAST(o_orderkey % 97 AS INT) - 48 AS k FROM orders) t""".stripMargin

  val edgeIntdivDuckSql: String =
    """SELECT DISTINCT k, k // 5 AS d, k % 5 AS m
      |FROM (SELECT CAST(o_orderkey % 97 AS INT) - 48 AS k FROM orders) t""".stripMargin

  /** UNION (distinct) across INT and DOUBLE branches: values coerce to
    * DOUBLE first, then dedup — 0 and 0.0 are one row. */
  val edgeUnionCoerceSql: String =
    """SELECT CAST(x AS DOUBLE) AS x FROM (
      |  SELECT r_regionkey AS x FROM region
      |  UNION SELECT r_regionkey + 0.5 FROM region
      |  UNION SELECT CAST(r_regionkey AS DOUBLE) FROM region) t""".stripMargin

  /** Scalar subquery over an empty relation yields NULL (not an error,
    * not zero rows). */
  val edgeScalarSubEmptySql: String =
    """SELECT (SELECT max(o_totalprice) FROM orders WHERE o_orderkey < 0) AS v,
      |       count(*) AS n
      |FROM region""".stripMargin

  /** Empty string is NOT NULL: '' groups separately from NULL,
    * length('') = 0 vs length(NULL) = NULL, and `||` propagates NULL. */
  val edgeStringNullSql: String =
    """SELECT s, count(*) AS n,
      |       count(length(s)) AS n_len,
      |       count('x' || s) AS n_concat
      |FROM (SELECT CASE CAST(c_custkey % 3 AS INT)
      |               WHEN 0 THEN '' WHEN 1 THEN CAST(NULL AS STRING)
      |               ELSE 'a' END AS s
      |      FROM customer) t
      |GROUP BY s""".stripMargin

  /** DuckDB spells STRING as VARCHAR in casts. */
  private val edgeStringNullDuckSql: String =
    edgeStringNullSql.replace("CAST(NULL AS STRING)", "CAST(NULL AS VARCHAR)")

  // ----- batch 2 (round 6): rounding, calendar, frames, multisets -----
  //
  // Further divergences probed and DOCUMENTED (not tested):
  //   - substring(s, 0, n): DuckDB treats position 0 as consuming part of
  //     the length window ('ab'), Spark clamps to position 1 and returns
  //     the full n chars ('abc'); 1-based positions agree — use those.
  //   - corr/regr over a zero-variance column: DuckDB returns NULL, Spark
  //     under ANSI raises DIVIDE_BY_ZERO; single-row inputs return NULL
  //     on both (pinned below).
  //   - `^` is bitwise XOR in Spark but POWER in DuckDB; `xor(a,b)` /
  //     `**` are the portable spellings of each.

  /** round() ties go AWAY FROM ZERO on both engines (not banker's
    * rounding), incl. on DOUBLE where the FP value is exact (k + 0.5).
    * r_pos/r_neg are pinned to BIGINT: the decimal results are value-equal
    * across engines but render differently ("1" vs "1.0") in hash
    * canonicalizers, the same trap as HUGEINT→float. */
  val edgeRoundHalfSql: String =
    """SELECT DISTINCT k,
      |       CAST(round(k + 0.5) AS BIGINT) AS r_pos,
      |       CAST(round(-(k + 0.5)) AS BIGINT) AS r_neg,
      |       round(CAST(k + 0.5 AS DOUBLE)) AS r_dbl
      |FROM (SELECT CAST(o_orderkey % 10 AS INT) AS k FROM orders) t""".stripMargin

  /** Calendar arithmetic: adding a month CLAMPS to month end (Jan 31 +
    * 1 month = Feb 28/29), last_day, leap years. Results cast to DATE on
    * both sides (DuckDB yields TIMESTAMP for date+interval). */
  val edgeMonthClampSql: String =
    """SELECT d, CAST(d + INTERVAL 1 MONTH AS DATE) AS plus_m, last_day(d) AS ld
      |FROM (SELECT DISTINCT last_day(CAST(l_shipdate AS DATE)) AS d
      |      FROM lineitem WHERE l_orderkey <= 2000) t""".stripMargin

  /** EXTRACT field semantics: ISO week (Jan 1 can be week 52/53 of the
    * prior ISO year), quarter, day-of-year incl. leap years. */
  val edgeExtractSql: String =
    """SELECT d, extract(week FROM d) AS wk, extract(quarter FROM d) AS qtr,
      |       extract(doy FROM d) AS doy, extract(month FROM d) AS mth
      |FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) AS d
      |      FROM lineitem WHERE l_orderkey <= 400) t""".stripMargin

  /** String-edge surface where the engines agree: negative substring
    * positions count from the end, zero-length substring is '', lpad
    * TRUNCATES when the target is shorter, rpad cycles a multi-char pad,
    * repeat(s, 0) = ''. (substring position 0 diverges — see above.) */
  val edgeSubstrPadSql: String =
    """SELECT c_custkey,
      |       substring(c_name, -3) AS tail3, substring(c_name, 2, 0) AS zero_len,
      |       lpad(c_name, 4, 'x') AS pad_trunc, rpad(c_name, 15, 'xy') AS pad_cycle,
      |       repeat(c_name, 0) AS rep0, reverse(c_name) AS rev
      |FROM customer WHERE c_custkey <= 200""".stripMargin

  /** Default string collation is BINARY (codepoint) on both engines:
    * uppercase sorts before lowercase, '_' (0x5F) between them. */
  val edgeCollateSql: String =
    """SELECT min(s) AS mn, max(s) AS mx, count(DISTINCT s) AS n_distinct
      |FROM (SELECT CASE CAST(c_custkey % 3 AS INT)
      |               WHEN 0 THEN upper(c_name) WHEN 1 THEN lower(c_name)
      |               ELSE '_' || c_name END AS s
      |      FROM customer) t""".stripMargin

  /** Unicode strings are codepoint-counted (not bytes) by length(), and
    * case-mapped beyond ASCII by upper(). */
  val edgeUnicodeSql: String =
    """SELECT length('héllo') AS len_e, upper('héllo') AS up_e,
      |       length('日本語') AS len_cjk, reverse('héllo') AS rev_e,
      |       count(*) AS n
      |FROM region""".stripMargin

  /** Sample statistics over a SINGLE row are NULL (stddev_samp,
    * var_samp, corr, covar_samp — n-1 denominator), while population
    * forms are 0. */
  val edgeStatsOneRowSql: String =
    """SELECT stddev_samp(c_acctbal) AS sd_s, var_samp(c_acctbal) AS var_s,
      |       corr(c_acctbal, c_custkey) AS r,
      |       covar_samp(c_acctbal, c_custkey) AS cov_s,
      |       stddev_pop(c_acctbal) AS sd_p, var_pop(c_acctbal) AS var_p
      |FROM customer WHERE c_custkey = 1""".stripMargin

  /** INTERSECT ALL / EXCEPT ALL multiset semantics: min / difference of
    * multiplicities, not set semantics. */
  val edgeMultisetSql: String =
    """SELECT 'intersect' AS op, count(*) AS n FROM (
      |  SELECT n_regionkey AS k FROM nation
      |  INTERSECT ALL
      |  SELECT CAST(c_custkey % 5 AS INT) FROM customer WHERE c_custkey <= 12) t
      |UNION ALL
      |SELECT 'except' AS op, count(*) AS n FROM (
      |  SELECT n_regionkey AS k FROM nation
      |  EXCEPT ALL
      |  SELECT CAST(c_custkey % 5 AS INT) FROM customer WHERE c_custkey <= 12) t2""".stripMargin

  /** RANGE frames operate on PEER GROUPS: every row with an equal order
    * key sees the same aggregate (vs ROWS, which splits peers). */
  val edgeRangePeersSql: String =
    """SELECT c_custkey,
      |       round(sum(c_acctbal) OVER (
      |         ORDER BY c_nationkey RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 4) AS peer_sum,
      |       round(sum(c_acctbal) OVER (
      |         ORDER BY c_nationkey
      |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_peers
      |FROM customer WHERE c_custkey <= 300""".stripMargin

  /** TRY_CAST failure modes return NULL instead of raising on both
    * engines: numeric overflow (int → TINYINT, 1e40 → BIGINT),
    * unparseable strings, and impossible calendar dates; valid inputs
    * pass through. (try_cast('2.5' AS INT) DIVERGES — DuckDB rounds to
    * 3, Spark ANSI yields NULL — documented, not tested.) */
  val edgeTryCastSql: String =
    """SELECT try_cast(300 AS TINYINT) AS ov_tiny,
      |       try_cast('abc' AS INTEGER) AS bad_str,
      |       try_cast('123' AS INTEGER) AS good_str,
      |       try_cast(1e40 AS BIGINT) AS ov_big,
      |       try_cast('2024-02-30' AS DATE) AS bad_date,
      |       try_cast('2024-02-29' AS DATE) AS leap_ok""".stripMargin

  /** Named WINDOW clause: one definition shared by several window
    * functions (shared grammar on both engines). */
  val edgeWindowClauseSql: String =
    """SELECT c_custkey, rank() OVER w AS rnk,
      |       round(sum(c_acctbal) OVER w, 4) AS run_s
      |FROM customer
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)""".stripMargin

  /** Ordinal GROUP BY / ORDER BY positions plus HAVING on an aggregate
    * not in the select list. */
  val edgeOrdinalSql: String =
    """SELECT c_nationkey, count(*) AS n, round(sum(c_acctbal), 4) AS s
      |FROM customer
      |GROUP BY 1 HAVING min(c_custkey) > 0 ORDER BY 1""".stripMargin

  /** HAVING without GROUP BY filters the single global-aggregate row
    * (returns it, or zero rows — never an error). */
  val edgeHavingGlobalSql: String =
    """SELECT count(*) AS n_pass FROM customer HAVING count(*) > 10""".stripMargin

  /** Aggregate-surface spellings shared verbatim by both engines:
    * DISTINCT sum/avg, count_if, bool_and/bool_or, interpolating exact
    * median over an even count, and `position(sub IN str)`. */
  val edgeAggMiscSql: String =
    """SELECT CAST(sum(DISTINCT c_nationkey) AS BIGINT) AS s_dist,
      |       avg(DISTINCT c_nationkey) AS a_dist,
      |       CAST(count_if(c_nationkey > 10) AS BIGINT) AS n_if,
      |       bool_and(c_acctbal > -1000) AS b_and, bool_or(c_acctbal > 9000) AS b_or,
      |       median(CAST(c_nationkey AS DOUBLE)) AS med,
      |       position('ll' IN 'hello') AS pos
      |FROM customer""".stripMargin

  /** NULL-aware subquery semantics: `NOT IN (subquery)` with a NULL in
    * the subquery result matches NOTHING (Spark plans the null-aware
    * anti join for exactly this), `IN` still matches non-NULL members,
    * EXISTS over an empty relation is FALSE everywhere, and correlated
    * EXISTS filters per-row. */
  val edgeSubqueryNullSql: String =
    """SELECT
      | (SELECT count(*) FROM customer
      |  WHERE c_nationkey NOT IN (SELECT nullif(n_nationkey, 2) FROM nation)) AS n_notin_null,
      | (SELECT count(*) FROM customer
      |  WHERE c_nationkey IN (SELECT nullif(n_nationkey, 2) FROM nation)) AS n_in_null,
      | (SELECT count(*) FROM customer
      |  WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey >= 20)) AS n_notin_clean,
      | (SELECT count(*) FROM customer
      |  WHERE EXISTS (SELECT 1 FROM nation WHERE n_nationkey < 0)) AS n_exists_empty,
      | (SELECT count(*) FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey < 0)) AS n_notexists_empty,
      | (SELECT count(*) FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM nation n
      |                WHERE n.n_nationkey = c.c_nationkey AND n.n_regionkey = 0)) AS n_exists_corr""".stripMargin

  /** Calendar/string misc pins: date_trunc week (Monday start) and
    * quarter boundaries (cast to DATE — Spark's date_trunc yields
    * TIMESTAMP, DuckDB DATE), make_date incl. leap day, concat_ws
    * skipping NULLs (all-NULL → ''), greatest over all NULL arguments,
    * and byte-vs-codepoint length on unicode (octet_length / strlen). */
  val edgeMisc2Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(date_trunc('week', CAST(l_shipdate AS DATE)) AS DATE) AS wk,
      |  CAST(date_trunc('quarter', CAST(l_shipdate AS DATE)) AS DATE) AS qtr,
      |  make_date(2024, CAST(l_orderkey % 12 + 1 AS INT), 28) AS md,
      |  make_date(2024, 2, 29) AS leap,
      |  concat_ws('-', l_returnflag, CAST(NULL AS STRING), l_linestatus) AS joined,
      |  concat_ws('-', CAST(NULL AS STRING), CAST(NULL AS STRING)) AS joined_empty,
      |  greatest(CAST(NULL AS INT), CAST(NULL AS INT)) AS g_null,
      |  octet_length('héllo') AS blen
      |FROM lineitem WHERE l_orderkey <= 200""".stripMargin

  private val edgeMisc2DuckSql: String =
    edgeMisc2Sql
      .replace("CAST(NULL AS STRING)", "CAST(NULL AS VARCHAR)")
      .replace("octet_length('héllo')", "strlen('héllo')")

  /** ROLLUP over a NULLABLE key: grouping() distinguishes the total row
    * from the genuine-NULL data group (both display as NULL keys). */
  val edgeRollupNullSql: String =
    """SELECT nullif(c_nationkey, 13) AS g, grouping(nullif(c_nationkey, 13)) AS is_total,
      |       count(*) AS n
      |FROM customer GROUP BY ROLLUP(nullif(c_nationkey, 13))""".stripMargin

  /** Month + day interval MIXING order-sensitivity (reference
    * `test/sql/types/interval/`): Spark has distinct year-month and
    * day-time interval types that cannot be combined in one literal, but
    * SEQUENTIAL addition to a date is the portable spelling — and the
    * ORDER matters at month ends ((Jan 30 + 1 month) + 2 days = Mar 2,
    * while (Jan 30 + 2 days) + 1 month = Mar 1 — clamping happens at the
    * month-add). Both orders pinned on clamping and non-clamping dates. */
  val edgeIntervalMixedSql: String =
    """SELECT d,
      |       CAST(d + INTERVAL 1 MONTH + INTERVAL 2 DAY AS DATE) AS m_then_d,
      |       CAST(d + INTERVAL 2 DAY + INTERVAL 1 MONTH AS DATE) AS d_then_m,
      |       CAST(d - INTERVAL 1 MONTH - INTERVAL 2 DAY AS DATE) AS back_m_d,
      |       CAST(d + INTERVAL 13 MONTH AS DATE) AS plus_13m
      |FROM (VALUES (DATE '1996-01-30'), (DATE '1996-02-29'),
      |             (DATE '1995-12-31'), (DATE '1996-06-15')) AS t(d)""".stripMargin

  /** Day-time interval arithmetic crossing day/month boundaries:
    * hour/minute/second additions, negative intervals, and a 25-hour
    * interval that is NOT one-day-plus-one-hour calendar-wise on both
    * engines (pure microsecond arithmetic). */
  val edgeIntervalDaytimeSql: String =
    """SELECT ts,
      |       ts + INTERVAL 90 MINUTE AS plus_90m,
      |       ts + INTERVAL 25 HOUR AS plus_25h,
      |       ts - INTERVAL 30 SECOND AS minus_30s,
      |       ts + INTERVAL 1 DAY AS plus_1d
      |FROM (VALUES (TIMESTAMP '1996-02-28 23:30:00'),
      |             (TIMESTAMP '1996-02-29 23:59:45'),
      |             (TIMESTAMP '1995-12-31 22:45:10')) AS t(ts)""".stripMargin

  /** DECIMAL arithmetic type-promotion values (reference
    * `test/sql/types/decimal/decimal_arithmetic.test`): multiplication
    * adds scales, addition takes the wider scale, negation keeps it —
    * all EXACT in decimal on both engines, compared after one cast to
    * DOUBLE (same exact decimal → same nearest double). */
  val edgeDecimalPromotionSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_mul,
      |       CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))
      |                + CAST(l_tax AS DECIMAL(9,4))) AS DOUBLE) AS mx_add,
      |       CAST(min(- CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS mn_neg,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(12,3))
      |                - CAST(l_discount AS DECIMAL(5,2))) AS DOUBLE) AS s_sub
      |FROM lineitem WHERE l_orderkey % 7 = 0""".stripMargin

  /** DECIMAL scale handling. KNOWN DIVERGENCE documented (measured round
    * 11, same class as the CAST-fractional-to-INT note above): a bare
    * CAST that NARROWS scale ROUNDS half-up in Spark (0.06 →
    * DECIMAL(18,1) = 0.1) but TRUNCATES toward zero in DuckDB (0.06 →
    * 0.0, 0.15 → 0.1) — portable code must round() explicitly before
    * rescaling, which is what this entry pins: round(decimal, 1) ties
    * away from zero on BOTH engines (0.05 → 0.1, -0.05 → -0.1). Also
    * pinned: precision overflow under try_cast is NULL on both (the
    * portable spelling — plain CAST throws on both under Spark ANSI). */
  val edgeDecimalRescaleSql: String =
    """SELECT DISTINCT
      |       CAST(round(CAST(l_discount AS DECIMAL(18,2)), 1) AS DOUBLE) AS d1,
      |       CAST(round(- CAST(l_discount AS DECIMAL(18,2)), 1) AS DOUBLE) AS d1_neg,
      |       CAST(try_cast(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(4,2)) AS DOUBLE) AS ov,
      |       CAST(try_cast(CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(3,2)) AS DOUBLE) AS fits
      |FROM lineitem WHERE l_orderkey <= 200""".stripMargin

  /** Nested casts: LIST-of-STRUCT with per-field coercions (string → INT
    * element, INT → BIGINT widening) in ONE cast (reference
    * `test/sql/cast/test_struct_casts.test` / list cast suites). Dialect
    * split on the type syntax only: Spark `ARRAY<STRUCT<...>>` vs DuckDB
    * `STRUCT(...)[]`; identical nested values out. Results are
    * to_json-scalarized on BOTH engines (the driver's pandas compare
    * cannot hash raw arrays); the two engines' to_json emit the same
    * compact no-space field-order-preserving text, verified by hand. */
  val edgeCastNestedSparkSql: String =
    """SELECT to_json(CAST(array(named_struct('a', 1, 'b', '2'),
      |                          named_struct('a', 3, 'b', '4'))
      |                    AS ARRAY<STRUCT<a: BIGINT, b: INT>>)) AS xs,
      |       to_json(CAST(array('10', '11') AS ARRAY<BIGINT>)) AS ys,
      |       to_json(CAST(named_struct('p', array(1, 2), 'q', '9')
      |                    AS STRUCT<p: ARRAY<BIGINT>, q: INT>)) AS zs""".stripMargin

  val edgeCastNestedDuckSql: String =
    """SELECT to_json(CAST([{'a': 1, 'b': '2'}, {'a': 3, 'b': '4'}]
      |            AS STRUCT(a BIGINT, b INT)[])) AS xs,
      |       to_json(CAST(['10', '11'] AS BIGINT[])) AS ys,
      |       to_json(CAST({'p': [1, 2], 'q': '9'}
      |            AS STRUCT(p BIGINT[], q INT))) AS zs""".stripMargin

  /** String ↔ temporal casts: leap-day strings, timestamp truncation to
    * DATE (floor, not round — 23:59 stays the same day), DATE → TIMESTAMP
    * midnight widening. */
  val edgeCastTemporalSql: String =
    """SELECT CAST('1996-02-29' AS DATE) AS s2d,
      |       CAST('1996-02-29 13:59:59' AS TIMESTAMP) AS s2t,
      |       CAST(TIMESTAMP '1996-02-29 23:59:59' AS DATE) AS t2d_floor,
      |       CAST(DATE '1996-02-29' AS TIMESTAMP) AS d2t_midnight,
      |       try_cast('1997-02-29' AS DATE) AS bad_leap""".stripMargin

  /** List indexing edges (reference `test/sql/types/list/`): 1-based
    * extract, out-of-bounds → NULL (Spark ANSI needs try_element_at —
    * plain element_at THROWS), negative index from the end, position of
    * an absent element → 0 on BOTH engines (not NULL), inclusive-bounds
    * slice, sort with an explicit NULLS FIRST (DuckDB's list_sort
    * DEFAULTS to NULLS LAST, Spark's sort_array to NULLS FIRST — the pin
    * forces the shared spelling), contains(NULL) → NULL. List results
    * are scalarized (concat_ws) for the value compare. */
  val edgeListIndexSparkSql: String =
    """SELECT try_element_at(array(10, 20, 30), 5) AS oob,
      |       element_at(array(10, 20, 30), -1) AS neg,
      |       array_position(array(10, 20, 30), 99) AS notfound,
      |       array_position(array(10, 20, 30), 20) AS found,
      |       concat_ws(',', slice(array(10, 20, 30), 2, 2)) AS mid,
      |       concat_ws(',', sort_array(array(3, CAST(NULL AS INT), 1))) AS sorted_nf,
      |       size(array(10, 20, 30)) AS n,
      |       array_contains(array(10, 20, 30), CAST(NULL AS INT)) AS has_null""".stripMargin

  val edgeListIndexDuckSql: String =
    """SELECT list_extract([10, 20, 30], 5) AS oob,
      |       [10, 20, 30][-1] AS neg,
      |       CAST(list_position([10, 20, 30], 99) AS BIGINT) AS notfound,
      |       CAST(list_position([10, 20, 30], 20) AS BIGINT) AS found,
      |       array_to_string(list_slice([10, 20, 30], 2, 3), ',') AS mid,
      |       array_to_string(list_sort([3, NULL, 1], 'ASC', 'NULLS FIRST'), ',') AS sorted_nf,
      |       CAST(len([10, 20, 30]) AS INT) AS n,
      |       list_contains([10, 20, 30], NULL) AS has_null""".stripMargin

  /** split_part + regexp edges (reference `test/sql/function/string/`):
    * out-of-range part → EMPTY STRING (not NULL), negative part counts
    * from the end, absent delimiter returns the WHOLE string as part 1,
    * split keeps interior empty fields, regexp_extract with no match →
    * empty string, group selection, anchored partial match. Regex
    * classes are spelled [0-9] (portable) because literal-backslash
    * handling differs between the engines' string literals; Spark's
    * regexp_replace is global by default — the DuckDB side needs the
    * explicit 'g' flag for the same semantics. */
  val edgeSplitRegexSparkSql: String =
    """SELECT split_part('a,b,c', ',', 5) AS oob,
      |       split_part('a,b,c', ',', -1) AS neg,
      |       split_part('a,b,c', 'x', 1) AS nodelim,
      |       size(split('a,,c', ',')) AS n_empty,
      |       regexp_replace('aaa', 'a', 'b') AS all_repl,
      |       regexp_extract('2026-08-14', '([0-9]+)-([0-9]+)', 2) AS grp2,
      |       regexp_extract('abc', '([0-9]+)', 1) AS nomatch,
      |       'abc' RLIKE '^a' AS anchored""".stripMargin

  val edgeSplitRegexDuckSql: String =
    """SELECT split_part('a,b,c', ',', 5) AS oob,
      |       split_part('a,b,c', ',', -1) AS neg,
      |       split_part('a,b,c', 'x', 1) AS nodelim,
      |       CAST(len(string_split('a,,c', ',')) AS INT) AS n_empty,
      |       regexp_replace('aaa', 'a', 'b', 'g') AS all_repl,
      |       regexp_extract('2026-08-14', '([0-9]+)-([0-9]+)', 2) AS grp2,
      |       regexp_extract('abc', '([0-9]+)', 1) AS nomatch,
      |       regexp_matches('abc', '^a') AS anchored""".stripMargin

  /** Bitwise operator edges (reference `test/sql/function/numeric/` bit
    * ops): AND/OR/XOR, complement, arithmetic shifts (sign-preserving on
    * negatives), and bit_count over a 64-bit two's-complement value
    * (bit_count(-1::BIGINT) = 64 on both engines). XOR is `^` in Spark
    * but the xor() function in DuckDB; shifts are functions vs operators. */
  val edgeBitopsSparkSql: String =
    """SELECT 12 & 10 AS b_and, 12 | 10 AS b_or, 12 ^ 10 AS b_xor,
      |       ~12 AS b_not,
      |       shiftleft(CAST(3 AS BIGINT), 4) AS shl,
      |       shiftright(CAST(-16 AS BIGINT), 2) AS shr_neg,
      |       bit_count(CAST(255 AS BIGINT)) AS bc255,
      |       bit_count(CAST(-1 AS BIGINT)) AS bc_neg1""".stripMargin

  val edgeBitopsDuckSql: String =
    """SELECT 12 & 10 AS b_and, 12 | 10 AS b_or, xor(12, 10) AS b_xor,
      |       ~12 AS b_not,
      |       CAST(3 AS BIGINT) << 4 AS shl,
      |       CAST(-16 AS BIGINT) >> 2 AS shr_neg,
      |       CAST(bit_count(CAST(255 AS BIGINT)) AS INT) AS bc255,
      |       CAST(bit_count(CAST(-1 AS BIGINT)) AS INT) AS bc_neg1""".stripMargin

  /** Pre-epoch / boundary date edges (reference `test/sql/types/date/`):
    * week truncation lands on MONDAY, day difference is NEGATIVE when the
    * end precedes the start, leap-year last_day, ISO day-of-week of the
    * epoch (Thursday = 4), Jan 1 belonging to ISO week 53 of the PRIOR
    * year, quarters before 1970, and year 1 of the proleptic Gregorian
    * calendar both engines share. */
  val edgeDateBoundsSparkSql: String =
    """SELECT CAST(date_trunc('week', DATE '2026-08-14') AS DATE) AS wk_mon,
      |       datediff(DATE '1969-12-25', DATE '1970-01-10') AS neg_days,
      |       last_day(DATE '2024-02-05') AS leap_end,
      |       weekday(DATE '1970-01-01') + 1 AS isodow_epoch,
      |       weekofyear(DATE '2021-01-01') AS iso_week53,
      |       quarter(DATE '1969-07-20') AS pre_epoch_q,
      |       year(DATE '0001-01-01') AS year_one""".stripMargin

  val edgeDateBoundsDuckSql: String =
    """SELECT CAST(date_trunc('week', DATE '2026-08-14') AS DATE) AS wk_mon,
      |       CAST(date_diff('day', DATE '1970-01-10', DATE '1969-12-25') AS INT) AS neg_days,
      |       last_day(DATE '2024-02-05') AS leap_end,
      |       CAST(isodow(DATE '1970-01-01') AS INT) AS isodow_epoch,
      |       CAST(week(DATE '2021-01-01') AS INT) AS iso_week53,
      |       CAST(quarter(DATE '1969-07-20') AS INT) AS pre_epoch_q,
      |       CAST(year(DATE '0001-01-01') AS INT) AS year_one""".stripMargin

  /** Window-frame direction edges (reference `test/sql/window/`):
    * RANGE with a DESC ordering ("preceding" walks toward LARGER
    * values), a FOLLOWING-only ROWS frame (empty at the partition tail →
    * NULL sum), and a RANGE frame reaching forward (value-based, not
    * row-based). Same SQL string on both engines; the integer sums are
    * CAST to BIGINT because DuckDB sums INT into HUGEINT (pandas
    * float64) while Spark yields int64 — a dtype mismatch the driver's
    * exact hash would flag even though the values agree. */
  val edgeFrameDescSql: String =
    """WITH v AS (SELECT CAST(r_regionkey AS INT) + 1 AS x FROM region)
      |SELECT x,
      |  CAST(sum(x) OVER (ORDER BY x DESC
      |               RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS rd,
      |  CAST(sum(x) OVER (ORDER BY x
      |               ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS BIGINT) AS ff,
      |  count(*) OVER (ORDER BY x
      |                 RANGE BETWEEN CURRENT ROW AND 1 FOLLOWING) AS cf
      |FROM v""".stripMargin

  /** Duplicate GROUPING SETS are PRESERVED, not deduplicated — the same
    * set listed twice emits every group row twice (reference
    * `test/sql/aggregate/grouping_sets/`; both engines follow the
    * standard's multiset semantics). */
  val edgeGroupingDupSql: String =
    """SELECT r_regionkey % 2 AS k, count(*) AS n
      |FROM region
      |GROUP BY GROUPING SETS ((r_regionkey % 2), (r_regionkey % 2))""".stripMargin

  /** Composite-value and NULL-bound comparison semantics (reference
    * `test/sql/types/struct/`, `test/sql/types/list/`): struct `<` is
    * lexicographic by FIELD ORDER, array `<` is lexicographic with
    * shorter-prefix-first ([1,2] < [1,2,0]), BETWEEN with a NULL bound
    * short-circuits on the non-NULL bound (3 BETWEEN 4 AND NULL is
    * FALSE, not NULL), and NaN compares EQUAL to itself and GREATER than
    * every finite double on both engines. Struct/array literals are
    * spelled per dialect; the semantics are the pin. */
  val edgeCompareSemanticsSparkSql: String =
    """SELECT named_struct('a', 1, 'b', 2) < named_struct('a', 1, 'b', 3) AS st_lt,
      |       named_struct('a', 2, 'b', 0) < named_struct('a', 1, 'b', 9) AS st_ge,
      |       array(1, 2) < array(1, 3) AS ar_lt,
      |       array(1, 2) < array(1, 2, 0) AS ar_prefix,
      |       array(2) < array(1, 9) AS ar_first,
      |       3 BETWEEN NULL AND 5 AS btw_null,
      |       3 BETWEEN 4 AND NULL AS btw_false,
      |       CAST('NaN' AS DOUBLE) = CAST('NaN' AS DOUBLE) AS nan_eq,
      |       CAST('NaN' AS DOUBLE) > 1e308 AS nan_top""".stripMargin

  val edgeCompareSemanticsDuckSql: String =
    """SELECT {'a': 1, 'b': 2} < {'a': 1, 'b': 3} AS st_lt,
      |       {'a': 2, 'b': 0} < {'a': 1, 'b': 9} AS st_ge,
      |       [1, 2] < [1, 3] AS ar_lt,
      |       [1, 2] < [1, 2, 0] AS ar_prefix,
      |       [2] < [1, 9] AS ar_first,
      |       3 BETWEEN NULL AND 5 AS btw_null,
      |       3 BETWEEN 4 AND NULL AS btw_false,
      |       CAST('NaN' AS DOUBLE) = CAST('NaN' AS DOUBLE) AS nan_eq,
      |       CAST('NaN' AS DOUBLE) > 1e308 AS nan_top""".stripMargin

  /** LIMIT/OFFSET bounds + special-double grouping: OFFSET past the end
    * is empty (not an error), LIMIT 0 is empty, and DISTINCT collapses
    * -0.0 with 0.0 AND NaN with NaN (both engines normalize for
    * grouping) — 4 special values make exactly 2 groups. */
  val edgeLimitBoundsSql: String =
    """SELECT
      |  (SELECT count(*) FROM (SELECT o_orderkey FROM orders
      |    LIMIT 3 OFFSET 10000000) t1) AS n_beyond,
      |  (SELECT count(*) FROM (SELECT o_orderkey FROM orders LIMIT 0) t2) AS n_zero,
      |  (SELECT count(*) FROM (SELECT DISTINCT x FROM (
      |     SELECT CAST(0.0 AS DOUBLE) AS x
      |     UNION ALL SELECT CAST('-0.0' AS DOUBLE)
      |     UNION ALL SELECT CAST('NaN' AS DOUBLE)
      |     UNION ALL SELECT CAST('NaN' AS DOUBLE)) v) t3) AS n_special""".stripMargin

  /** USING / NATURAL join output semantics (reference `test/sql/join/`):
    * FULL OUTER … USING emits ONE COALESCED key column (never NULL on a
    * right-only row — `n_null_k` pins 0), and NATURAL JOIN matches on
    * every shared column name (here exactly `k`; inner and LEFT
    * variants). Same SQL string on both engines. */
  val edgeJoinUsingSql: String =
    """WITH a AS (SELECT o_custkey AS k, count(*) AS n_o FROM orders
      |           WHERE o_orderstatus = 'O' GROUP BY 1),
      |b AS (SELECT o_custkey AS k, count(*) AS n_f FROM orders
      |      WHERE o_orderstatus = 'F' GROUP BY 1),
      |fo AS (SELECT k, n_o, n_f FROM a FULL OUTER JOIN b USING (k))
      |SELECT count(*) AS n_rows,
      |       count(CASE WHEN k IS NULL THEN 1 END) AS n_null_k,
      |       count(CASE WHEN n_o IS NULL THEN 1 END) AS only_f,
      |       count(CASE WHEN n_f IS NULL THEN 1 END) AS only_o,
      |       (SELECT count(*) FROM a NATURAL JOIN b) AS n_nat,
      |       (SELECT count(*) FROM a NATURAL LEFT JOIN b) AS n_nat_left
      |FROM fo""".stripMargin

  /** SELECT-alias resolution in GROUP BY/ORDER BY (both engines bind the
    * alias when no source column shadows it) + EXISTS over an
    * empty-by-predicate and a LIMITed subquery (reference
    * `test/sql/subquery/exists/`). Row-value IN subqueries —
    * `(a, b) IN (SELECT …)` — are a documented divergence the other way:
    * Spark accepts them, DuckDB 1.0.0 raises a binder error; spell as
    * EXISTS for portability. Same SQL string on both engines. */
  val edgeAliasExistsSql: String =
    """SELECT substr(o_orderpriority, 1, 1) AS pri, count(*) AS n,
      |  (SELECT EXISTS (SELECT 1 FROM orders WHERE o_orderkey < 0)) AS e_empty,
      |  (SELECT EXISTS (SELECT 1 FROM orders LIMIT 1)) AS e_one
      |FROM orders GROUP BY pri ORDER BY pri""".stripMargin

  private def viaSql(sql: String): (SparkSession, String) => DataFrame =
    (s, dir) => Tables.sql(s, dir, sql)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "edge_agg_empty" -> viaSql(edgeAggEmptySql),
    "edge_agg_allnull" -> viaSql(edgeAggAllnullSql),
    "edge_group_nullkey" -> viaSql(edgeGroupNullkeySql),
    "edge_join_empty_side" -> viaSql(edgeJoinEmptySideSql),
    "edge_null_order" -> viaSql(edgeNullOrderSql),
    "edge_in_null" -> viaSql(edgeInNullSql),
    "edge_win_empty_frame" -> viaSql(edgeWinEmptyFrameSql),
    "edge_leadlag_default" -> viaSql(edgeLeadlagDefaultSql),
    "edge_least_greatest" -> viaSql(edgeLeastGreatestSql),
    "edge_float_special" -> viaSql(edgeFloatSpecialSql),
    "edge_intdiv_mod" -> viaSql(edgeIntdivSparkSql),
    "edge_union_coerce" -> viaSql(edgeUnionCoerceSql),
    "edge_scalar_sub_empty" -> viaSql(edgeScalarSubEmptySql),
    "edge_string_null" -> viaSql(edgeStringNullSql),
    "edge_round_half" -> viaSql(edgeRoundHalfSql),
    "edge_month_clamp" -> viaSql(edgeMonthClampSql),
    "edge_extract" -> viaSql(edgeExtractSql),
    "edge_substr_pad" -> viaSql(edgeSubstrPadSql),
    "edge_collate" -> viaSql(edgeCollateSql),
    "edge_unicode" -> viaSql(edgeUnicodeSql),
    "edge_stats_one_row" -> viaSql(edgeStatsOneRowSql),
    "edge_multiset" -> viaSql(edgeMultisetSql),
    "edge_range_peers" -> viaSql(edgeRangePeersSql),
    "edge_rollup_null" -> viaSql(edgeRollupNullSql),
    "edge_try_cast" -> viaSql(edgeTryCastSql),
    "edge_window_clause" -> viaSql(edgeWindowClauseSql),
    "edge_ordinal" -> viaSql(edgeOrdinalSql),
    "edge_having_global" -> viaSql(edgeHavingGlobalSql),
    "edge_agg_misc" -> viaSql(edgeAggMiscSql),
    "edge_subquery_null" -> viaSql(edgeSubqueryNullSql),
    "edge_misc2" -> viaSql(edgeMisc2Sql),
    "edge_interval_mixed" -> viaSql(edgeIntervalMixedSql),
    "edge_interval_daytime" -> viaSql(edgeIntervalDaytimeSql),
    "edge_decimal_promotion" -> viaSql(edgeDecimalPromotionSql),
    "edge_decimal_rescale" -> viaSql(edgeDecimalRescaleSql),
    "edge_cast_nested" -> viaSql(edgeCastNestedSparkSql),
    "edge_cast_temporal" -> viaSql(edgeCastTemporalSql),
    "edge_list_index" -> viaSql(edgeListIndexSparkSql),
    "edge_split_regex" -> viaSql(edgeSplitRegexSparkSql),
    "edge_bitops" -> viaSql(edgeBitopsSparkSql),
    "edge_date_bounds" -> viaSql(edgeDateBoundsSparkSql),
    "edge_frame_desc" -> viaSql(edgeFrameDescSql),
    "edge_grouping_dup" -> viaSql(edgeGroupingDupSql),
    "edge_compare_semantics" -> viaSql(edgeCompareSemanticsSparkSql),
    "edge_limit_bounds" -> viaSql(edgeLimitBoundsSql),
    "edge_join_using" -> viaSql(edgeJoinUsingSql),
    "edge_alias_exists" -> viaSql(edgeAliasExistsSql))

  val oracle: Map[String, String] = Map(
    "edge_agg_empty" -> edgeAggEmptySql,
    "edge_agg_allnull" -> edgeAggAllnullSql,
    "edge_group_nullkey" -> edgeGroupNullkeySql,
    "edge_join_empty_side" -> edgeJoinEmptySideSql,
    "edge_null_order" -> edgeNullOrderSql,
    "edge_in_null" -> edgeInNullSql,
    "edge_win_empty_frame" -> edgeWinEmptyFrameSql,
    "edge_leadlag_default" -> edgeLeadlagDefaultSql,
    "edge_least_greatest" -> edgeLeastGreatestSql,
    "edge_float_special" -> edgeFloatSpecialSql,
    "edge_intdiv_mod" -> edgeIntdivDuckSql,
    "edge_union_coerce" -> edgeUnionCoerceSql,
    "edge_scalar_sub_empty" -> edgeScalarSubEmptySql,
    "edge_string_null" -> edgeStringNullDuckSql,
    "edge_round_half" -> edgeRoundHalfSql,
    "edge_month_clamp" -> edgeMonthClampSql,
    "edge_extract" -> edgeExtractSql,
    "edge_substr_pad" -> edgeSubstrPadSql,
    "edge_collate" -> edgeCollateSql,
    "edge_unicode" -> edgeUnicodeSql,
    "edge_stats_one_row" -> edgeStatsOneRowSql,
    "edge_multiset" -> edgeMultisetSql,
    "edge_range_peers" -> edgeRangePeersSql,
    "edge_rollup_null" -> edgeRollupNullSql,
    "edge_try_cast" -> edgeTryCastSql,
    "edge_window_clause" -> edgeWindowClauseSql,
    "edge_ordinal" -> edgeOrdinalSql,
    "edge_having_global" -> edgeHavingGlobalSql,
    "edge_agg_misc" -> edgeAggMiscSql,
    "edge_subquery_null" -> edgeSubqueryNullSql,
    "edge_misc2" -> edgeMisc2DuckSql,
    "edge_interval_mixed" -> edgeIntervalMixedSql,
    "edge_interval_daytime" -> edgeIntervalDaytimeSql,
    "edge_decimal_promotion" -> edgeDecimalPromotionSql,
    "edge_decimal_rescale" -> edgeDecimalRescaleSql,
    "edge_cast_nested" -> edgeCastNestedDuckSql,
    "edge_cast_temporal" -> edgeCastTemporalSql,
    "edge_list_index" -> edgeListIndexDuckSql,
    "edge_split_regex" -> edgeSplitRegexDuckSql,
    "edge_bitops" -> edgeBitopsDuckSql,
    "edge_date_bounds" -> edgeDateBoundsDuckSql,
    "edge_frame_desc" -> edgeFrameDescSql,
    "edge_grouping_dup" -> edgeGroupingDupSql,
    "edge_compare_semantics" -> edgeCompareSemanticsDuckSql,
    "edge_limit_bounds" -> edgeLimitBoundsSql,
    "edge_join_using" -> edgeJoinUsingSql,
    "edge_alias_exists" -> edgeAliasExistsSql)
}
