package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Row-shaping operators: unnest/explode, pivot, top-n, limit/offset,
  * sampling, VALUES lists, lazy series, DISTINCT, JSON extraction
  * (reference `src/execution/operator/projection/physical_unnest.cpp`,
  * `physical_pivot.cpp`, `physical_top_n.cpp`,
  * `src/execution/operator/helper/physical_{limit,streaming_sample}.cpp`,
  * `src/function/table/range.cpp`, scan of VALUES lists
  * `physical_expression_scan.cpp`, JSON functions
  * `extension/json/json_functions.cpp`).
  */
object Shaping extends graft.EntryModule {

  /** LIST→rows unnest: word histogram over documents (Catalyst Generate). */
  def shapeUnnest(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)

  val shapeUnnestSql: String =
    """SELECT word, count(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |WHERE word <> ''
      |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin

  /** PIVOT: order counts per priority × status (reference
    * `physical_pivot.cpp`); missing combinations filled with 0 to match the
    * FILTER-based relational phrasing. */
  def shapePivot(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0)

  val shapePivotSql: String =
    """SELECT o_orderpriority,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      |  count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      |  count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** DISTINCT + ORDER BY + LIMIT (reference `physical_top_n.cpp` with
    * dedup; Spark plans TakeOrderedAndProject over HashAggregate). */
  def shapeTopnDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .select(col("l_quantity").as("qty")).distinct()
      .orderBy(col("qty").desc).limit(5)

  val shapeTopnDistinctSql: String =
    "SELECT DISTINCT l_quantity AS qty FROM lineitem ORDER BY qty DESC LIMIT 5"

  /** LIMIT + OFFSET over a total order (reference `physical_limit.cpp`). */
  def shapeLimitOffset(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, shapeLimitOffsetSql)

  val shapeLimitOffsetSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_orderkey LIMIT 10 OFFSET 5""".stripMargin

  /** Bernoulli sampling (reference `physical_streaming_sample.cpp`).
    * Sampling is engine-specific pseudo-randomness → no SQL oracle
    * (rows-only check); the seed makes it reproducible within Spark. */
  def shapeSample(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").sample(withReplacement = false, 0.1, seed = 42)
      .agg(count(lit(1)).as("n_sampled"),
        min(col("l_orderkey")).as("first_key"))

  /** Deterministic 10% sample: hash-mod over the row's natural key via the
    * shared md5-derived primitive — the reproducible, oracle-checkable
    * sibling of Bernoulli sampling (and the form a 100 TB pipeline wants
    * anyway: stable under retries, re-partitioning, and engine swaps). */
  def shapeSampleHash(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .filter(
        conv(substring(md5(concat(col("l_orderkey"), lit(":"), col("l_linenumber"))
          .cast("binary")), 1, 15), 16, 10).cast("long") % 10 === 0)
      .agg(count(lit(1)).as("n_sampled"),
        min(col("l_orderkey")).as("first_key"))

  val shapeSampleHashSql: String =
    """SELECT count(*) AS n_sampled, min(l_orderkey) AS first_key
      |FROM lineitem
      |WHERE CAST(('0x' || substr(md5(l_orderkey || ':' || l_linenumber),1,15)) AS BIGINT) % 10 = 0""".stripMargin

  /** Stratified exact-k sampling — k rows per stratum, the split every
    * evaluation/debug pipeline needs ("5 examples from each class"),
    * which a Bernoulli fraction cannot deliver (small strata come back
    * empty, large ones oversized). The draw is deterministic hash-order
    * (row_number over the md5 of the row key within each stratum, the
    * retry-stable convention `shape_sample_hash` set) so both engines —
    * and any two cluster runs — pick the identical rows. Scale posture:
    * one shuffle on the stratum key drives the ranking window; with
    * thousands of strata the k·|strata| result stays tiny while the
    * scan/exchange stream once; a heavily-skewed stratum ranks in
    * O(n log n) within its partition (the documented alternative for a
    * single monster stratum is a per-stratum TakeOrdered). */
  def shapeSampleStratified(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("h"), col("l_orderkey"), col("l_linenumber"))
    Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        md5(concat(col("l_orderkey"), lit(":"), col("l_linenumber"))
          .cast("binary")).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("rk"))
  }

  val shapeSampleStratifiedSql: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber, rk FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY md5(l_orderkey || ':' || l_linenumber),
      |               l_orderkey, l_linenumber) AS rk
      |  FROM lineitem) t
      |WHERE rk <= 5""".stripMargin

  /** VALUES list as a relation (reference `physical_expression_scan.cpp`). */
  def shapeValues(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codes = Seq((0, "alpha"), (1, "beta"), (2, "gamma"), (3, "delta"), (4, "epsilon"))
      .toDF("key", "code")
    Tables.t(s, dir, "region")
      .join(codes, col("r_regionkey") === col("key"))
      .select(col("r_name"), col("code"))
  }

  val shapeValuesSql: String =
    """SELECT r_name, code
      |FROM region JOIN (VALUES (0,'alpha'),(1,'beta'),(2,'gamma'),(3,'delta'),(4,'epsilon'))
      |  AS t(key, code) ON r_regionkey = key""".stripMargin

  /** Lazy integer series (reference `src/function/table/range.cpp`). */
  def shapeRange(s: SparkSession, dir: String): DataFrame =
    s.range(0, 1000).select((col("id") % 7).as("g"), col("id"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("total"))

  val shapeRangeSql: String =
    """SELECT id % 7 AS g, count(*) AS n, CAST(sum(id) AS BIGINT) AS total
      |FROM range(1000) t(id) GROUP BY 1""".stripMargin

  /** JSON field extraction from a string column (reference
    * `extension/json/json_functions.cpp` json_extract). */
  def shapeJson(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .select((get_json_object(col("props"), "$.k").cast("int") % 10).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"))

  val shapeJsonSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS g,
      |  count(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  /** Dynamic PIVOT — no value list: the engine discovers the distinct
    * pivot values itself (reference DuckDB dynamic `PIVOT ... ON col
    * USING agg`; Spark's no-values `pivot(col)` runs the same distinct
    * scan first). At scale the discovery pass is a cheap distinct on a
    * low-cardinality column; the pivot itself stays one aggregation.
    * Missing (priority, status) combinations are pinned to 0 — Spark's
    * pivot emits NULL for a cell with no rows while DuckDB's
    * `PIVOT ... USING count(*)` emits 0; `na.fill(0)` makes the engine
    * match the defined count semantics on any data, not just fixtures
    * where every combination happens to exist. */
  def shapePivotDynamic(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus")
      .agg(count(lit(1)))
      .na.fill(0)

  val shapePivotDynamicSql: String =
    "PIVOT orders ON o_orderstatus USING count(*) GROUP BY o_orderpriority"

  /** UNPIVOT / melt — columns→rows, the inverse of PIVOT (reference
    * `src/planner/binder/query_node/bind_select_node.cpp` unpivot binding,
    * `physical_pivot.cpp`): the four lineitem measures melt into
    * (measure, value) rows, then aggregate per measure. Money totals go
    * through DECIMAL so the melted sum is exact under any partitioning. */
  def shapeUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .unpivot(
        Array.empty[org.apache.spark.sql.Column],
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("total"))

  val shapeUnpivotSql: String =
    """SELECT measure, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM (UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem)
      |      ON l_quantity, l_extendedprice, l_discount, l_tax
      |      INTO NAME measure VALUE value) u
      |GROUP BY measure""".stripMargin

  /** DISTINCT ON — first row per key under a total order (reference
    * `src/planner/binder/query_node/bind_select_node.cpp` DISTINCT ON →
    * reference plans it as ordered aggregation). Spark's relational form
    * is the row_number()=1 filter — same one-shuffle plan a 100 TB
    * "latest record per key" pipeline wants. */
  def shapeDistinctOn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
    Tables.t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
  }

  val shapeDistinctOnSql: String =
    """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate, o_totalprice
      |FROM orders ORDER BY o_custkey, o_orderdate DESC, o_orderkey""".stripMargin

  /** LIMIT PERCENT over a total order (reference
    * `src/execution/operator/helper/physical_limit_percent.cpp`):
    * semantically count-then-limit — the reference's operator also
    * buffers to learn the total before emitting. The count job is the
    * one unavoidable extra pass; the limit itself plans as a TopK under
    * the total-order sort, so no full materialization at scale. */
  def shapeLimitPercent(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.t(s, dir, "orders")
    val n = df.count()
    // Mirror the reference's arithmetic exactly — it truncates the DOUBLE
    // percent*count (reference `physical_limit_percent.cpp:119`
    // `idx_t(percent / 100.0 * count)`), not the exact integer 7n/100;
    // near-integral products can differ by one row between the two forms.
    // clamp: .toInt past Int.MaxValue wraps (negative limit → runtime
    // error; wrapped positive → silently wrong count). Spark's limit is
    // Int-typed, so Int.MaxValue is the honest ceiling.
    val k = math.min((7.0 / 100.0 * n).toLong, Int.MaxValue.toLong).toInt
    df.orderBy(col("o_orderkey"))
      .limit(k)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  val shapeLimitPercentSql: String =
    "SELECT o_orderkey, o_totalprice FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 7%) t"

  /** Multi-column DISTINCT (reference `plan_distinct.cpp`). */
  def shapeDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus")).distinct()

  val shapeDistinctSql: String =
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"

  /** The PIVOT STATEMENT front-end (`graft.sql.PivotStatement` via
    * `DuckDialect.run`): the same raw DuckDB statement string is the
    * oracle, so the gate checks the statement-level translation end to
    * end — implicit-group-key discovery included (no GROUP BY in the
    * second form: l_linestatus is the only column not consumed by
    * ON/USING in the projected source). */
  val pivotStmtSql: String =
    "PIVOT orders ON o_orderstatus USING count(*) GROUP BY o_orderpriority"
  val pivotStmtSumSql: String =
    "PIVOT (SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem) " +
      "ON l_returnflag USING sum(l_quantity)"

  /** LIMIT n PERCENT as a raw statement through `DuckDialect.run`
    * (count-then-limit; the clause itself is its own DuckDB oracle —
    * both `%` and the PERCENT keyword spellings parse there). */
  val limitPercentStmtSql: String =
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 7 PERCENT"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "limit_percent_stmt" ->
      ((s, dir) => graft.sql.DuckDialect.run(s, dir, limitPercentStmtSql)),
    "pivot_stmt" -> ((s, dir) => graft.sql.DuckDialect.run(s, dir, pivotStmtSql)),
    "pivot_stmt_sum" -> ((s, dir) => graft.sql.DuckDialect.run(s, dir, pivotStmtSumSql)),
    "shape_unnest" -> (shapeUnnest _),
    "shape_pivot" -> (shapePivot _),
    "shape_topn_distinct" -> (shapeTopnDistinct _),
    "shape_limit_offset" -> (shapeLimitOffset _),
    "shape_sample" -> (shapeSample _),
    "shape_sample_hash" -> (shapeSampleHash _),
    "shape_sample_stratified" -> (shapeSampleStratified _),
    "shape_values" -> (shapeValues _),
    "shape_range" -> (shapeRange _),
    "shape_json" -> (shapeJson _),
    "shape_pivot_dynamic" -> (shapePivotDynamic _),
    "shape_unpivot" -> (shapeUnpivot _),
    "shape_distinct_on" -> (shapeDistinctOn _),
    "shape_distinct" -> (shapeDistinct _),
    "shape_limit_percent" -> (shapeLimitPercent _))

  val oracle: Map[String, String] = Map(
    "limit_percent_stmt" -> limitPercentStmtSql,
    "pivot_stmt" -> pivotStmtSql,
    "pivot_stmt_sum" -> pivotStmtSumSql,
    "shape_unnest" -> shapeUnnestSql,
    "shape_pivot" -> shapePivotSql,
    "shape_topn_distinct" -> shapeTopnDistinctSql,
    "shape_limit_offset" -> shapeLimitOffsetSql,
    "shape_sample_hash" -> shapeSampleHashSql,
    "shape_sample_stratified" -> shapeSampleStratifiedSql,
    "shape_values" -> shapeValuesSql,
    "shape_range" -> shapeRangeSql,
    "shape_json" -> shapeJsonSql,
    "shape_pivot_dynamic" -> shapePivotDynamicSql,
    "shape_unpivot" -> shapeUnpivotSql,
    "shape_distinct_on" -> shapeDistinctOnSql,
    "shape_distinct" -> shapeDistinctSql,
    "shape_limit_percent" -> shapeLimitPercentSql)
}
