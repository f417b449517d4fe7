package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-gated entries for the DuckDB-dialect surface: each `queries`
  * entry runs the RAW DuckDB SQL through `DuckDialect.run` (translate →
  * spark.sql), and the oracle is that same raw string handed to DuckDB —
  * so the correctness gate checks the translation end-to-end, value for
  * value, not just "it parses".
  *
  * Constructs that Spark 4 parses natively (GROUP BY/ORDER BY ALL,
  * FILTER clause, ILIKE, `::` casts) appear alongside the rewritten ones
  * on purpose: the entries double as a regression net for the
  * passthrough claim in the DuckDialect scaladoc.
  */
object DuckSqlQueries extends graft.EntryModule {

  /** QUALIFY → windowed top-k per group, the dominant real-world use
    * (reference grammar: third_party/libpg_query qualify clause). */
  val qualifySql: String =
    """SELECT c_nationkey, c_custkey, c_acctbal
      |FROM customer
      |QUALIFY row_number() OVER (PARTITION BY c_nationkey
      |                           ORDER BY c_acctbal DESC, c_custkey) <= 3""".stripMargin

  /** QUALIFY inside a CTE body, composed with a join + GROUP BY ALL in
    * the outer query — proves the block-recursive rewrite. */
  val qualifyCteSql: String =
    """WITH top_cust AS (
      |  SELECT c_custkey, c_nationkey, c_acctbal
      |  FROM customer
      |  QUALIFY rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) = 1
      |)
      |SELECT n_name, count(*) AS n, round(sum(c_acctbal), 2) AS s
      |FROM top_cust JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ALL ORDER BY ALL""".stripMargin

  /** DISTINCT ON: first row per group under the query's ORDER BY. */
  val distinctOnSql: String =
    """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
      |FROM customer
      |ORDER BY c_nationkey, c_acctbal DESC, c_custkey""".stripMargin

  /** `//` division + `::` casts + GROUP/ORDER BY ALL in one statement.
    * (No fractional→int casts: those round in DuckDB and truncate in
    * Spark ANSI — documented divergence, see DuckDialect scaladoc.) */
  val intdivCastSql: String =
    """SELECT o_orderkey // 1000 AS bucket, count(*) AS n,
      |       min(o_orderkey::VARCHAR) AS mn
      |FROM orders GROUP BY ALL ORDER BY ALL""".stripMargin

  /** `* EXCLUDE` star modifier (→ Spark `* EXCEPT`). */
  val excludeSql: String =
    """SELECT * EXCLUDE (c_name, c_mktsegment)
      |FROM customer WHERE c_custkey <= 100""".stripMargin

  /** `* REPLACE` star modifier (column values replaced in place; the
    * rewrite moves replaced columns to the end — value-identical, and
    * the gate compares by sorted column name). */
  val replaceSql: String =
    """SELECT * REPLACE (upper(n_name) AS n_name, n_regionkey * 10 AS n_regionkey)
      |FROM nation""".stripMargin

  /** DuckDB spellings of list/string functions → Spark builtins:
    * list_value/list_contains/len/strpos/string_split (with the
    * plain-separator vs regex-separator fix: '_' is inert but '.' would
    * not be — the rewriter escapes either way). */
  val funcsSql: String =
    """SELECT n_nationkey,
      |       list_contains(list_value(0, 2, 4), n_regionkey) AS has_key,
      |       len(n_name) AS name_len,
      |       strpos(n_name, '_') AS pos_u,
      |       array_length(string_split(n_name, '_')) AS n_parts
      |FROM nation""".stripMargin

  /** Higher-order list lambdas: list_filter/list_transform → filter/
    * transform (arrow syntax is shared). Results kept scalar so the
    * gate's value compare stays type-stable across engines. */
  val lambdaSql: String =
    """SELECT n_nationkey,
      |       array_length(list_filter(list_value(1, 2, 3, 4), x -> x > n_regionkey)) AS n_gt,
      |       list_contains(list_transform(list_value(1, 2, 3), x -> x * 2), n_regionkey) AS has_dbl
      |FROM nation""".stripMargin

  /** DuckDB list comprehensions (reference parses them in
    * src/parser/transform/expression/ into list_transform(list_filter)):
    * the literal single-variable forms translate structurally —
    * `[e FOR x IN l]` → `transform(l, x -> e)`, the IF clause filters
    * FIRST (probed on DuckDB 1.0.0) → `transform(filter(l, x -> p),
    * x -> e)`, and a nested comprehension in the element expr rewrites
    * recursively. Round-11 verdict item 5: this was the one refusal a
    * pasted-DuckDB-SQL user hit most (the repo's own oracle idiom used
    * it). Results joined to strings so the gate's compare is
    * type-stable. */
  val listComprehensionSql: String =
    """SELECT n_nationkey,
      |  array_to_string([lower(p) FOR p IN string_split(n_name, '_')], '.') AS parts,
      |  array_to_string([x * (n_regionkey + 1) FOR x IN [1, 2, 3] IF x <> 2], '-') AS scaled,
      |  array_to_string(flatten([[y * x FOR y IN [1, 2]] FOR x IN [n_regionkey + 1, 10]]), ',') AS nested
      |FROM nation""".stripMargin

  /** COLUMNS('regex') star expansion (reference
    * `transform_columnref.cpp`): the regex is an unanchored SEARCH over
    * the schema's column names, and the aggregate-wrapped form keeps the
    * ORIGINAL column names (probed) — both pinned here; the bare form
    * rides in `COLUMNS('^l_.*flag$')`. Runs through the session-aware
    * ColumnsStar expansion in DuckDialect.run; DuckDB binds it natively. */
  val columnsRegexSql: String =
    """SELECT l_returnflag, min(COLUMNS('^l_(quantity|discount)$')),
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin

  /** Native-passthrough block: FILTER clause + ILIKE, no rewrites fire. */
  val filterIlikeSql: String =
    """SELECT count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |       count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
      |       count(*) AS n
      |FROM orders""".stripMargin

  /** `read_parquet(path)` table function → Spark's direct-path scan.
    * The Spark side scans the same file the catalog view wraps, so the
    * fixture-view oracle is the exact same relation. */
  private def readParquetSql(dir: String): String =
    s"""SELECT count(*) AS n, min(n_name) AS mn, max(n_regionkey) AS mx
       |FROM read_parquet('$dir/nation.parquet')""".stripMargin

  val readParquetOracleSql: String =
    """SELECT count(*) AS n, min(n_name) AS mn, max(n_regionkey) AS mx
      |FROM nation""".stripMargin

  /** The list-function renames added late in round 6, oracle-pinned:
    * list_sort (ASC NULLS LAST on both engines → array_sort, NOT
    * sort_array), array_to_string → array_join, list_append/max/min.
    * Results kept scalar (joined strings / maxima) so the gate's value
    * compare stays type-stable. */
  val listFuncsSql: String =
    """SELECT n_nationkey,
      |  array_to_string(list_sort(list_value(3, n_regionkey, 1)), '-') AS sorted_str,
      |  list_max(list_value(n_nationkey, n_regionkey)) AS mx,
      |  list_min(list_value(n_nationkey, n_regionkey)) AS mn,
      |  array_to_string(list_append(list_value(1, 2), n_regionkey), ',') AS appended
      |FROM nation""".stripMargin

  /** The structurally-rewritten list functions (rewriteListFns; every
    * semantic probed on 1.0.0): inclusive-endpoint slice (positive and
    * negative windows, e<b → empty), argument-swapped prepend,
    * NULL-as-empty concat (incl. a genuinely-NULL operand), and
    * reverse sort (DESC NULLS LAST on both engines) — the identical raw
    * string runs on DuckDB. */
  val listFuncs2Sql: String =
    """SELECT n_nationkey,
      |  array_to_string(list_slice(list_value(5, n_regionkey, 1, 4), 2, 3), ',') AS sl,
      |  array_to_string(list_slice(list_value(5, n_regionkey, 1, 4), -3, -1), ',') AS sl_neg,
      |  array_length(list_slice(list_value(1, 2, 3), 3, 2)) AS sl_empty,
      |  array_to_string(list_prepend(n_regionkey, list_value(1, 2)), ',') AS prep,
      |  array_to_string(list_concat(list_value(n_nationkey), list_value(7, 8)), ',') AS cat,
      |  array_to_string(list_concat(NULL, list_value(n_regionkey)), ',') AS cat_null,
      |  array_to_string(list_reverse_sort(list_value(3, n_regionkey, 1)), ',') AS rsorted
      |FROM nation""".stripMargin

  /** Window null treatment, DuckDB spelling (clause inside the argument
    * list — the translator moves it after the call for Spark): last
    * non-NULL value carried forward (the gap-fill idiom), first/nth over
    * frames that start with NULLs. */
  val ignoreNullsSql: String =
    """SELECT c_custkey,
      |  last_value(x IGNORE NULLS) OVER (ORDER BY c_custkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
      |  first_value(x IGNORE NULLS) OVER (PARTITION BY c_nationkey
      |    ORDER BY c_custkey) AS first_nn
      |FROM (SELECT c_custkey, c_nationkey,
      |        CASE WHEN c_custkey % 3 = 0 THEN c_acctbal END AS x
      |      FROM customer) t""".stripMargin

  /** list_position → array_position plain rename: at DuckDB 1.0.0 (the
    * oracle) semantics match Spark exactly — 1-based, 0 on miss, NULL on
    * NULL input (verified: `SELECT list_position([0,2,4], 1)` → 0;
    * NULL-on-miss belongs to other DuckDB versions). `pos` covers hits
    * (regionkey 0/2/4) AND misses (1/3); `miss` never hits, pinning the
    * 0-on-miss behavior end-to-end against the oracle. Both sides cast
    * to BIGINT (result widths differ). */
  val listPositionSql: String =
    """SELECT n_nationkey,
      |  CAST(list_position(list_value(0, 2, 4), n_regionkey) AS BIGINT) AS pos,
      |  CAST(list_position(list_value(7, 8), n_regionkey) AS BIGINT) AS miss
      |FROM nation""".stripMargin

  /** Struct literal `{'k': e}` → named_struct: constructed and consumed
    * (field access `s.nm`) in one statement, so the oracle pins VALUES
    * through the literal, not just parseability. */
  val structLiteralSql: String =
    """WITH t AS (SELECT n_nationkey,
      |             {'nm': n_name, 'rk': n_regionkey + 1} AS s FROM nation)
      |SELECT n_nationkey, s.nm AS nm, s.rk AS rk FROM t""".stripMargin

  /** Map literal `MAP {'k': v}` → map(...). Only `cardinality` is in the
    * shared surface: map SUBSCRIPT returns a single-element list on the
    * oracle's DuckDB 1.0.0 (scalar from 1.1) — see DuckDialect scaladoc —
    * so the entry pins construction + size, not extraction. */
  val mapLiteralSql: String =
    """SELECT n_nationkey,
      |  cardinality(MAP {'lo': n_regionkey, 'hi': n_regionkey * 2}) AS n
      |FROM nation""".stripMargin

  /** arg_max/arg_min → max_by/min_by (NULL ordering values ignored on
    * both engines) + starts_with/ends_with renames, exercised per group
    * with a FILTER clause so the rename composes with native syntax. */
  val argExtremeSql: String =
    """SELECT n_regionkey,
      |  arg_max(n_name, n_nationkey) AS mx,
      |  arg_min(n_name, n_nationkey) AS mn,
      |  count(*) FILTER (WHERE starts_with(n_name, 'NATION_1')) AS n1,
      |  count(*) FILTER (WHERE ends_with(n_name, '3')) AS n3
      |FROM nation GROUP BY n_regionkey""".stripMargin

  /** QUALIFY referencing a select-list ALIAS — the dominant DuckDB idiom
    * (`… AS rn … QUALIFY rn <= 2`). The translator inlines the alias's
    * defining expression into the predicate (Spark's lateral alias
    * resolution does not reach window expressions). */
  val qualifyAliasSql: String =
    """SELECT c_nationkey, c_custkey, c_acctbal,
      |  row_number() OVER (PARTITION BY c_nationkey
      |                     ORDER BY c_acctbal DESC, c_custkey) AS rn
      |FROM customer
      |QUALIFY rn <= 2""".stripMargin

  /** QUALIFY with SELECT DISTINCT (r17): QUALIFY evaluates BEFORE
    * DISTINCT (probed on 1.0.0 — see rewriteQualify), so the 50th
    * duplicate row per group exists for the window even though the
    * dedup'd output has one row per group; a post-distinct evaluation
    * would return zero rows. The second column exercises alias
    * inlining in the predicate under DISTINCT. The raw string runs
    * unchanged on DuckDB. */
  val qualifyDistinctSql: String =
    """SELECT DISTINCT l_returnflag AS flag,
      |  least(row_number() OVER (PARTITION BY l_returnflag
      |                           ORDER BY l_orderkey, l_linenumber), 3) AS rn3
      |FROM lineitem
      |QUALIFY rn3 >= 2 AND row_number() OVER (PARTITION BY l_returnflag
      |                     ORDER BY l_orderkey, l_linenumber) >= 50""".stripMargin

  /** ASOF JOIN strings: the exact oracle SQL the `join_asof` /
    * `join_asof_inner` DataFrame recipes are checked against, now run
    * through the translator on the Spark side too — so the engine
    * accepts the reference's own ASOF syntax and the three forms
    * (DataFrame recipe, translated SQL, DuckDB) must all agree. */
  val asofLeftSql: String = graft.operators.Joins.joinAsofSql
  val asofInnerSql: String = graft.operators.Joins.joinAsofInnerSql

  /** ASOF RIGHT JOIN — probed DuckDB semantics (JoinsSpec pins them on
    * hand fixtures): the match direction is unchanged (each click picks
    * its nearest prior purchase); RIGHT-outer appends purchases that were
    * never anyone's best match, NULL-padded on the click side. The
    * identical raw string runs on both engines via `AsofRewrite`'s
    * right-join arm → [[graft.operators.Joins.asofJoinRight]]. */
  val asofRightSql: String =
    """SELECT c.event_id, c.ts AS click_ts, p.user_id AS p_user,
      |       p.event_id AS p_event, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF RIGHT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin

  /** ASOF FULL JOIN — the LEFT-outer as-of result plus the same
    * never-matched purchases, NULL-padded (probed; JoinsSpec pins the
    * hand fixtures). Identical raw string on both engines. */
  val asofFullSql: String =
    """SELECT c.event_id, c.ts AS click_ts, p.user_id AS p_user,
      |       p.event_id AS p_event, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin

  /** The LATERAL translation path, pinned explicitly now that the
    * canonical shape takes the `AsofRewrite` fast path: the `+ INTERVAL`
    * expression on the inequality's right side is OUTSIDE the fast
    * path's `alias.col <cmp> alias.col` contract, so this string
    * exercises the faithful fallback end to end. The user_id bound keeps
    * the decorrelated domain join cheap at EVERY scale (its cost grows
    * with distinct order keys, not corpus size). Semantically identical
    * to `ducksql_asof` restricted to those users — DuckDB evaluates the
    * same interval arithmetic. */
  val asofLateralSql: String =
    """SELECT c.event_id, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click' AND user_id < 20) c
      |ASOF LEFT JOIN (SELECT * FROM events
      |                WHERE event_type = 'purchase' AND user_id < 20) p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts + INTERVAL '0' SECOND""".stripMargin

  /** `UNION ALL BY NAME` with disjoint measures: each side contributes a
    * column the other lacks (NULL-filled) and the key appears in a
    * different position — the full by-name alignment surface
    * (reference: `src/parser/transform/statement/transform_select_node.cpp`
    * setop BY NAME flag). NULLS FIRST pins the tie order both engines
    * agree on. */
  val unionByNameAllSql: String =
    """SELECT c_nationkey AS nation, count(*) AS n_cust,
      |       round(sum(c_acctbal), 2) AS bal
      |FROM customer GROUP BY c_nationkey
      |UNION ALL BY NAME
      |SELECT count(*) AS n_supp, s_nationkey AS nation
      |FROM supplier GROUP BY s_nationkey
      |ORDER BY nation, n_cust NULLS FIRST""".stripMargin

  /** Distinct `UNION BY NAME`: same names, opposite column order — the
    * rows must align by name (positional union would pair src with k). */
  val unionByNameSql: String =
    """SELECT 'cust' AS src, c_nationkey AS k FROM customer
      |UNION BY NAME
      |SELECT s_nationkey AS k, 'supp' AS src FROM supplier
      |ORDER BY src, k""".stripMargin

  /** SUMMARIZE statement (executes via `DuckDialect.run` → `Summarize`:
    * one-pass wide aggregate + stack). Unlike the other entries the
    * oracle is NOT this raw string — DuckDB's native SUMMARIZE uses HLL
    * approx_unique and approx quantiles, which are engine-specific — but
    * the exact-stat expansion below, which both engines compute
    * value-identically. */
  val summarizeSql: String =
    "SUMMARIZE SELECT c_custkey, c_acctbal, c_mktsegment FROM customer"

  val summarizeOracleSql: String =
    """WITH agg AS (
      |  SELECT
      |    CAST(min(c_custkey) AS VARCHAR) AS min_0,
      |    CAST(max(c_custkey) AS VARCHAR) AS max_0,
      |    count(DISTINCT c_custkey) AS uniq_0, count(c_custkey) AS nn_0,
      |    CAST(round(avg(c_custkey), 6) AS DOUBLE) AS avg_0,
      |    CAST(round(stddev_samp(c_custkey), 6) AS DOUBLE) AS std_0,
      |    CAST(round(quantile_cont(c_custkey, 0.25), 6) AS DOUBLE) AS q25_0,
      |    CAST(round(quantile_cont(c_custkey, 0.50), 6) AS DOUBLE) AS q50_0,
      |    CAST(round(quantile_cont(c_custkey, 0.75), 6) AS DOUBLE) AS q75_0,
      |    CAST(min(c_acctbal) AS VARCHAR) AS min_1,
      |    CAST(max(c_acctbal) AS VARCHAR) AS max_1,
      |    count(DISTINCT c_acctbal) AS uniq_1, count(c_acctbal) AS nn_1,
      |    CAST(round(avg(c_acctbal), 6) AS DOUBLE) AS avg_1,
      |    CAST(round(stddev_samp(c_acctbal), 6) AS DOUBLE) AS std_1,
      |    CAST(round(quantile_cont(c_acctbal, 0.25), 6) AS DOUBLE) AS q25_1,
      |    CAST(round(quantile_cont(c_acctbal, 0.50), 6) AS DOUBLE) AS q50_1,
      |    CAST(round(quantile_cont(c_acctbal, 0.75), 6) AS DOUBLE) AS q75_1,
      |    CAST(min(c_mktsegment) AS VARCHAR) AS min_2,
      |    CAST(max(c_mktsegment) AS VARCHAR) AS max_2,
      |    count(DISTINCT c_mktsegment) AS uniq_2, count(c_mktsegment) AS nn_2,
      |    count(*) AS total
      |  FROM customer)
      |SELECT 'c_custkey' AS column_name, 'BIGINT' AS column_type,
      |       min_0 AS "min", max_0 AS "max", uniq_0 AS approx_unique,
      |       avg_0 AS avg, std_0 AS std, q25_0 AS q25, q50_0 AS q50,
      |       q75_0 AS q75, total AS "count",
      |       CAST(round((total - nn_0) * 100.0 / total, 2) AS DOUBLE)
      |         AS null_percentage
      |FROM agg
      |UNION ALL
      |SELECT 'c_acctbal', 'DOUBLE', min_1, max_1, uniq_1, avg_1, std_1,
      |       q25_1, q50_1, q75_1, total,
      |       CAST(round((total - nn_1) * 100.0 / total, 2) AS DOUBLE)
      |FROM agg
      |UNION ALL
      |SELECT 'c_mktsegment', 'VARCHAR', min_2, max_2, uniq_2,
      |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |       CAST(NULL AS DOUBLE), total,
      |       CAST(round((total - nn_2) * 100.0 / total, 2) AS DOUBLE)
      |FROM agg
      |ORDER BY column_name""".stripMargin

  /** strftime/strptime with C-style formats — the raw DuckDB spelling is
    * its own oracle; the translator converts the format tokens to JDK
    * patterns (%A/%B exercise locale names, %-d the no-pad variants,
    * strptime the parse direction, cast to VARCHAR so both engines
    * compare the same wall-clock string). */
  val strftimeSql: String =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%Y/%m/%d %H:%M') AS f1,
      |  strftime(o_orderdate, '%d %b %Y') AS f2,
      |  strftime(o_orderdate, '%A, %-d %B') AS f3,
      |  CAST(strptime('2021-07-08 09:10', '%Y-%m-%d %H:%M') AS VARCHAR) AS p1
      |FROM orders WHERE o_orderkey <= 50 ORDER BY o_orderkey""".stripMargin

  /** CREATE MACRO statement face: the macro registers through
    * `DuckDml.exec` and INLINES at every call site during translation
    * (DuckDB macros inline at bind time — reference
    * `create_macro_info.hpp`). The oracle is the hand-inlined SQL, so
    * the gate proves macro-expansion ≡ writing the expression in place. */
  val macroStmtCreate: String =
    "CREATE OR REPLACE MACRO taxed(p, r) AS " +
      "CAST(p AS DECIMAL(18,2)) * (1 + CAST(r AS DECIMAL(18,2)))"

  val macroStmtSql: String =
    """SELECT o_orderpriority,
      |  CAST(round(sum(taxed(o_totalprice, 0.05)), 2) AS DOUBLE) AS rev
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val macroStmtOracleSql: String =
    """SELECT o_orderpriority,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))
      |                 * (1 + CAST(0.05 AS DECIMAL(18,2)))), 2) AS DOUBLE) AS rev
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** PREPARE/EXECUTE round-trip: the IDENTICAL two-statement script runs
    * on both engines (DuckDB executes the oracle string's two statements
    * natively and returns the last result). $1/$2/$3 slots bind a string
    * and two timestamps. EXECUTE cannot sit inside a subquery, so the
    * prepared SELECT embeds its own canonical `graft_ord` ORDER BY —
    * Verify's wrapper passes marker-carrying oracles through unchanged,
    * matching Verify's canonical order exactly: sorted column names
    * (n, o_orderpriority, rev), each ASC NULLS FIRST. */
  val prepareStmtCreate: String =
    """PREPARE seg_rev AS SELECT * FROM (
      |  SELECT o_orderpriority, count(*) AS n,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE o_orderdate >= $2 AND o_orderdate < $3 AND c_mktsegment = $1
      |  GROUP BY o_orderpriority) graft_ord
      |ORDER BY n ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST,
      |         rev ASC NULLS FIRST""".stripMargin

  val prepareStmtExec: String =
    "EXECUTE seg_rev('BUILDING', TIMESTAMP '1996-01-01', TIMESTAMP '1997-01-01')"

  val prepareStmtOracleSql: String = s"$prepareStmtCreate;\n$prepareStmtExec"

  private def via(sql: String): (SparkSession, String) => DataFrame =
    (s, dir) => DuckDialect.run(s, dir, sql)

  /** ATTACH + cross-catalog qualified query (round-15: converts the
    * standing EXPORT/ATTACH/DETACH exclusion). Engine: a fixture
    * DIRECTORY attaches as a named catalog, `aux.region` resolves
    * through the dialect's qualified-ref rewrite. Oracle: DuckDB
    * attaches a real auxiliary database, copies the table in, and runs
    * the IDENTICAL final select — self-ordered (multi-statement scripts
    * cannot take Verify's outer ORDER BY wrapper, the
    * ducksql_prepare_stmt discipline). */
  val attachQuerySql: String =
    """SELECT * FROM (
      |  SELECT n.n_name, r.r_name AS region_name
      |  FROM nation n JOIN aux.region r ON n.n_regionkey = r.r_regionkey) graft_ord
      |ORDER BY n_name ASC NULLS FIRST, region_name ASC NULLS FIRST""".stripMargin

  val attachOracleSql: String =
    s"""ATTACH ':memory:' AS aux;
       |CREATE TABLE aux.region AS SELECT * FROM region;
       |$attachQuerySql""".stripMargin

  /** EXPORT DATABASE round-trip: the engine exports every fixture table
    * to parquet (+ load.sql), the entry reads the EXPORTED files back
    * and counts per table; the oracle counts the originals — rows must
    * survive the export byte-for-count. */
  val exportOracleSql: String = graft.Tables.names
    .map(n => s"SELECT '$n' AS tbl, CAST(count(*) AS BIGINT) AS n FROM $n")
    .mkString("\nUNION ALL\n")

  /** FROM-first queries (DuckDB grammar extension): a CTE whose body is
    * FROM-first WITHOUT a select clause (→ SELECT *), and a FROM-first
    * outer query WITH a select clause + WHERE + GROUP BY — the oracle
    * runs the identical raw string on DuckDB. */
  val fromFirstSql: String =
    """WITH big AS (FROM orders WHERE o_totalprice > 100000)
      |FROM big SELECT o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS s
      |WHERE o_orderstatus <> 'F'
      |GROUP BY ALL""".stripMargin

  /** USING SAMPLE (count-deterministic forms only: 100% keeps every
    * row on both engines, `n ROWS` is an exact count on both — sample
    * MEMBERSHIP is engine-specific and not compared, same contract as
    * `shape_sample`). */
  val usingSampleSql: String =
    """SELECT
      |  (SELECT count(*) FROM orders USING SAMPLE 100 PERCENT) AS n_all,
      |  (SELECT count(*) FROM orders USING SAMPLE 100%) AS n_pct,
      |  (SELECT count(*) FROM lineitem USING SAMPLE 500 ROWS) AS n_rows,
      |  (SELECT count(*) FROM lineitem USING SAMPLE 500) AS n_bare""".stripMargin

  /** Series table functions + unnest: generate_series (inclusive) joined
    * to range (exclusive) on their DuckDB-named columns, plus a
    * select-list unnest — the same raw string runs on DuckDB. */
  val seriesUnnestSql: String =
    """SELECT gs.generate_series AS g, r.range AS r
      |FROM generate_series(2, 8, 2) gs
      |JOIN range(0, 10) r ON r.range = gs.generate_series
      |UNION ALL
      |SELECT u AS g, u AS r FROM (SELECT unnest([100, 200]) AS u) t""".stripMargin

  /** GLOB (shell wildcards, literal %) and SIMILAR TO (fully-anchored
    * regex) — the raw string runs unchanged on DuckDB. */
  val globSimilarSql: String =
    """SELECT
      |  count(CASE WHEN p_name GLOB '*re?*' THEN 1 END) AS n_glob,
      |  count(CASE WHEN p_type SIMILAR TO '(STANDARD|PROMO)' THEN 1 END) AS n_sim,
      |  count(CASE WHEN p_name NOT SIMILAR TO '.*red.*' THEN 1 END) AS n_notsim
      |FROM part""".stripMargin

  /** General (non-literal / mixed-sign / zero / clamping) list_slice
    * endpoints — the round-16 size-normalized translation; endpoints
    * derive from data columns so every corner (negative from-end, zero
    * edge clamp, out-of-range clamp, e<b empty) executes on real rows.
    * The identical raw string runs on DuckDB. */
  val listSliceDynSql: String =
    """SELECT n_nationkey,
      |  array_to_string(list_slice(list_value(9, n_regionkey, 7, 3, 1),
      |    n_nationkey % 7 - 3, n_nationkey % 9 - 2), ',') AS dyn,
      |  array_to_string(list_slice(list_value(1, 2, 3, 4, 5),
      |    2, n_regionkey - 2), ',') AS mixed,
      |  array_to_string(list_slice(list_value(1, 2, 3),
      |    n_nationkey - 10, 99), ',') AS clamped
      |FROM nation""".stripMargin

  /** GLOB character classes (`[…]`, ranges, `!` negation, leading-`]`
    * literal) → anchored RLIKE — the raw string runs unchanged on DuckDB
    * (probed on 1.0.0: class semantics match the translated regex). */
  val globClassSql: String =
    """SELECT
      |  count(CASE WHEN p_name GLOB '*[aeiou]red*' THEN 1 END) AS n_class,
      |  count(CASE WHEN p_name GLOB '*[!a-m]red*' THEN 1 END) AS n_neg,
      |  count(CASE WHEN p_type GLOB '[SP][MR]?*O*' THEN 1 END) AS n_mix
      |FROM part""".stripMargin

  /** Mixed ALL/DISTINCT UNION BY NAME chain — left-assoc per-op
    * quantifiers with first-appearance name merge; the raw string runs
    * unchanged on DuckDB (its grammar has BY NAME for UNION only, so the
    * verbatim-oracled chain form is union-kind; mixed-kind chains are
    * translator-pinned in DuckDialectSpec). */
  val byNameChainSql: String =
    """SELECT r_regionkey AS k, r_name AS a FROM region
      |UNION ALL BY NAME
      |SELECT n_name AS b, n_regionkey AS k FROM nation WHERE n_regionkey = 0
      |UNION BY NAME
      |SELECT r_regionkey AS k, r_name AS a FROM region WHERE r_regionkey < 2
      |ORDER BY k, a NULLS FIRST, b NULLS FIRST""".stripMargin

  /** `USING SAMPLE n ROWS (reservoir, seed)` — an exact-size uniform
    * draw, deterministic per seed on each engine. The PRNG streams
    * differ per engine, so the entry emits the engine-agnostic
    * invariants (the shape_sample_hash convention): exact SIZE, key
    * DISTINCTNESS (without replacement), and SOURCE MEMBERSHIP (every
    * sampled key exists in the source — the left-join null count). */
  val sampleReservoirSql: String =
    """SELECT count(*) AS n_sampled,
      |       count(DISTINCT s.o_orderkey) AS n_keys,
      |       CAST(sum(CASE WHEN src.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_member
      |FROM (SELECT * FROM orders USING SAMPLE 500 ROWS (reservoir, 42)) s
      |LEFT JOIN orders src ON s.o_orderkey = src.o_orderkey""".stripMargin

  /** Ordered-set aggregates — `percentile_cont/_disc(p) WITHIN GROUP
    * (ORDER BY x)` (reference binds WITHIN GROUP in
    * `src/parser/transform/expression/transform_function.cpp`; kernels in
    * `src/core_functions/aggregate/holistic/quantile.cpp`). Spark 4
    * parses the clause natively, so the identical raw string runs on
    * both engines — a passthrough pin. l_quantity is integer-valued, so
    * the cont interpolation lands on dyadic rationals (exact). */
  val withinGroupSql: String =
    """SELECT l_returnflag,
      |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q1,
      |  percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS q2,
      |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS md,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** UNPIVOT statement (DuckDB grammar; executes via
    * [[UnpivotStatement]] → Spark's native UNPIVOT clause). The raw
    * string runs unchanged on DuckDB; NULL cells drop on both engines. */
  val unpivotStmtSql: String =
    """UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_tax, l_discount
      |         FROM lineitem WHERE l_orderkey < 60)
      |ON l_quantity, l_tax, l_discount
      |INTO NAME measure VALUE val""".stripMargin

  /** Zipped multi-unnest in one select list (reference
    * `physical_unnest.cpp`: lists zip to the LONGEST length, shorter
    * padded with NULL) — lengths 3 vs 2 exercise the pad every row; the
    * identical raw string runs on DuckDB. Translated to one explode
    * over a zip_with chain (DuckDialect.rewriteUnnestZip). */
  val unnestZipSql: String =
    """SELECT o_orderkey,
      |  unnest([o_orderkey % 7, o_orderkey % 5, o_orderkey % 3]) AS m,
      |  unnest(['lo', 'hi']) AS tag
      |FROM orders WHERE o_orderkey <= 200""".stripMargin

  /** INTERSECT / EXCEPT BY NAME (column order aligned by NAME, not
    * position). The ORACLE is the name-aligned ANSI spelling: DuckDB
    * 1.0.0 (the oracle build) predates BY NAME on the distinct set ops
    * (probed: parser error), while the reference grammar accepts it —
    * so the gate checks the translation's VALUES against the aligned
    * form rather than running the raw string on both engines. */
  val intersectByNameSql: String =
    """SELECT c_nationkey AS k, c_mktsegment AS seg
      |FROM customer WHERE c_custkey <= 500
      |INTERSECT BY NAME
      |SELECT c_mktsegment AS seg, c_nationkey AS k
      |FROM customer WHERE c_custkey > 200""".stripMargin

  val intersectByNameOracleSql: String =
    """SELECT c_nationkey AS k, c_mktsegment AS seg
      |FROM customer WHERE c_custkey <= 500
      |INTERSECT
      |SELECT c_nationkey AS k, c_mktsegment AS seg
      |FROM customer WHERE c_custkey > 200""".stripMargin

  val exceptByNameSql: String =
    """SELECT o_orderpriority AS pri, o_orderstatus AS st
      |FROM orders WHERE o_orderkey <= 2000
      |EXCEPT BY NAME
      |SELECT o_orderstatus AS st, o_orderpriority AS pri
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  val exceptByNameOracleSql: String =
    """SELECT o_orderpriority AS pri, o_orderstatus AS st
      |FROM orders WHERE o_orderkey <= 2000
      |EXCEPT
      |SELECT o_orderpriority AS pri, o_orderstatus AS st
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ducksql_unnest_zip" -> via(unnestZipSql),
    "ducksql_intersect_by_name" -> via(intersectByNameSql),
    "ducksql_except_by_name" -> via(exceptByNameSql),
    "ducksql_unpivot_stmt" -> via(unpivotStmtSql),
    "ducksql_within_group" -> via(withinGroupSql),
    "ducksql_glob_similar" -> via(globSimilarSql),
    "ducksql_glob_class" -> via(globClassSql),
    "ducksql_by_name_chain" -> via(byNameChainSql),
    "ducksql_sample_reservoir" -> via(sampleReservoirSql),
    "ducksql_list_slice_dyn" -> via(listSliceDynSql),
    "ducksql_series_unnest" -> via(seriesUnnestSql),
    "ducksql_using_sample" -> via(usingSampleSql),
    "ducksql_from_first" -> via(fromFirstSql),
    "ducksql_qualify" -> via(qualifySql),
    "ducksql_qualify_cte" -> via(qualifyCteSql),
    "ducksql_distinct_on" -> via(distinctOnSql),
    "ducksql_intdiv_cast" -> via(intdivCastSql),
    "ducksql_exclude" -> via(excludeSql),
    "ducksql_replace" -> via(replaceSql),
    "ducksql_funcs" -> via(funcsSql),
    "ducksql_lambda" -> via(lambdaSql),
    "ducksql_list_comprehension" -> via(listComprehensionSql),
    "ducksql_columns_regex" -> via(columnsRegexSql),
    "ducksql_filter_ilike" -> via(filterIlikeSql),
    "ducksql_list_funcs" -> via(listFuncsSql),
    "ducksql_list_funcs2" -> via(listFuncs2Sql),
    "ducksql_ignore_nulls" -> via(ignoreNullsSql),
    "ducksql_asof" -> via(asofLeftSql),
    "ducksql_asof_lateral" -> via(asofLateralSql),
    "ducksql_asof_inner" -> via(asofInnerSql),
    "ducksql_asof_right" -> via(asofRightSql),
    "ducksql_asof_full" -> via(asofFullSql),
    "ducksql_list_position" -> via(listPositionSql),
    "ducksql_struct_literal" -> via(structLiteralSql),
    "ducksql_map_literal" -> via(mapLiteralSql),
    "ducksql_arg_extreme" -> via(argExtremeSql),
    "ducksql_qualify_alias" -> via(qualifyAliasSql),
    "ducksql_qualify_distinct" -> via(qualifyDistinctSql),
    "ducksql_describe" -> via("DESCRIBE events"),
    "ducksql_macro_stmt" -> ((s, dir) => {
      DuckDml.exec(s, Map.empty, macroStmtCreate)
      DuckDialect.run(s, dir, macroStmtSql)
    }),
    "ducksql_prepare_stmt" -> ((s, dir) => {
      DuckDml.exec(s, Map.empty, prepareStmtCreate)
      DuckDialect.run(s, dir, prepareStmtExec)
    }),
    "ducksql_attach" -> ((s, dir) => {
      // run() analyzes eagerly, so the plan keeps the views after DETACH,
      // and the entry can run again on the same session
      DuckDml.exec(s, Map.empty, s"ATTACH '$dir' AS aux")
      try DuckDialect.run(s, dir, attachQuerySql)
      finally DuckDml.exec(s, Map.empty, "DETACH aux")
    }),
    "ducksql_export" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_export_").toString
      DuckDml.exec(s, Map("__dir" -> dir), s"EXPORT DATABASE '$out'")
      graft.Tables.names
        .filter(n => java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$out/$n.parquet")))
        .map(n => s.read.parquet(s"$out/$n.parquet")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .select(org.apache.spark.sql.functions.lit(n).as("tbl"),
            org.apache.spark.sql.functions.col("n")))
        .reduce(_ unionByName _)
    }),
    "ducksql_strftime" -> via(strftimeSql),
    "ducksql_union_by_name" -> via(unionByNameSql),
    "ducksql_union_all_by_name" -> via(unionByNameAllSql),
    "ducksql_summarize" -> ((s, dir) =>
      DuckDialect.run(s, dir, summarizeSql).orderBy("column_name")),
    "ducksql_read_parquet" -> ((s, dir) => DuckDialect.run(s, dir, readParquetSql(dir))))

  val oracle: Map[String, String] = Map(
    "ducksql_unnest_zip" -> unnestZipSql,
    "ducksql_intersect_by_name" -> intersectByNameOracleSql,
    "ducksql_except_by_name" -> exceptByNameOracleSql,
    "ducksql_unpivot_stmt" -> unpivotStmtSql,
    "ducksql_within_group" -> withinGroupSql,
    "ducksql_glob_similar" -> globSimilarSql,
    "ducksql_glob_class" -> globClassSql,
    "ducksql_by_name_chain" -> byNameChainSql,
    "ducksql_sample_reservoir" -> sampleReservoirSql,
    "ducksql_list_slice_dyn" -> listSliceDynSql,
    "ducksql_series_unnest" -> seriesUnnestSql,
    "ducksql_using_sample" -> usingSampleSql,
    "ducksql_from_first" -> fromFirstSql,
    "ducksql_qualify" -> qualifySql,
    "ducksql_qualify_cte" -> qualifyCteSql,
    "ducksql_distinct_on" -> distinctOnSql,
    "ducksql_intdiv_cast" -> intdivCastSql,
    "ducksql_exclude" -> excludeSql,
    "ducksql_replace" -> replaceSql,
    "ducksql_funcs" -> funcsSql,
    "ducksql_lambda" -> lambdaSql,
    "ducksql_list_comprehension" -> listComprehensionSql,
    "ducksql_columns_regex" -> columnsRegexSql,
    "ducksql_filter_ilike" -> filterIlikeSql,
    "ducksql_list_funcs" -> listFuncsSql,
    "ducksql_list_funcs2" -> listFuncs2Sql,
    "ducksql_ignore_nulls" -> ignoreNullsSql,
    "ducksql_asof" -> asofLeftSql,
    "ducksql_asof_lateral" -> asofLateralSql,
    "ducksql_asof_inner" -> asofInnerSql,
    "ducksql_asof_right" -> asofRightSql,
    "ducksql_asof_full" -> asofFullSql,
    "ducksql_list_position" -> listPositionSql,
    "ducksql_struct_literal" -> structLiteralSql,
    "ducksql_map_literal" -> mapLiteralSql,
    "ducksql_arg_extreme" -> argExtremeSql,
    "ducksql_qualify_alias" -> qualifyAliasSql,
    "ducksql_qualify_distinct" -> qualifyDistinctSql,
    "ducksql_describe" -> "DESCRIBE events",
    "ducksql_macro_stmt" -> macroStmtOracleSql,
    "ducksql_prepare_stmt" -> prepareStmtOracleSql,
    "ducksql_attach" -> attachOracleSql,
    "ducksql_export" -> exportOracleSql,
    "ducksql_strftime" -> strftimeSql,
    "ducksql_union_by_name" -> unionByNameSql,
    "ducksql_union_all_by_name" -> unionByNameAllSql,
    "ducksql_summarize" -> summarizeOracleSql,
    "ducksql_read_parquet" -> readParquetOracleSql)
}
