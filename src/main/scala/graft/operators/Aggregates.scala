package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Aggregation surface of the reference (reference
  * `src/execution/operator/aggregate/physical_hash_aggregate.cpp` —
  * GROUPING SETS/CUBE/ROLLUP via per-set radix tables,
  * `physical_ungrouped_aggregate.cpp`, and the aggregate function library
  * under `src/core_functions/aggregate/`), expressed via `groupBy/agg`,
  * `rollup`, `cube`, and SQL GROUPING SETS so Spark's partial→final
  * HashAggregateExec (map-side combine) applies everywhere — the property
  * that keeps these queries one-shuffle at 100 TB.
  */
object Aggregates extends graft.EntryModule {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Ungrouped (global) aggregate — parallel partial + single combine. */
  def aggGlobal(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"),
      min(col("l_shipdate")).as("min_ship"),
      max(col("l_shipdate")).as("max_ship"))

  val aggGlobalSql: String =
    """SELECT count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
      |FROM lineitem""".stripMargin

  /** DISTINCT aggregates (reference `distinct_aggregate_data.cpp` —
    * per-aggregate radix-partitioned dedup). */
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      count(lit(1)).as("n"))

  val aggDistinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  def aggRollup(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))

  val aggRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  def aggCube(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))

  val aggCubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** Explicit GROUPING SETS (reference `physical_hash_aggregate.cpp:119-131`
    * — one HashAggregateGroupingData per set). */
  def aggGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, aggGroupingSetsSql)

  val aggGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** Algebraic/statistical aggregates (reference
    * `src/core_functions/aggregate/algebraic/` .cpp files). Rounded: these are
    * float-accumulating and merge-order sensitive by nature. */
  def aggStats(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
      round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
      round(var_samp(col("l_quantity")), 6).as("var_qty"),
      // corr spelled covar_pop / (σ_pop·σ_pop) with a NULLIF guard:
      // Spark's corr aggregate divides 0/0 on a zero-variance group,
      // which ANSI mode (the Spark 4 default) turns into a
      // DIVIDE_BY_ZERO crash — the constant-corpus sweep caught it.
      // DuckDB's corr returns NULL there; so does this spelling.
      // (Algebraically identical to corr; agrees with the oracle at the
      // entry's round-6 grain.)
      round(covar_pop(col("l_quantity"), col("l_extendedprice")) /
        nullif(stddev_pop(col("l_quantity")) *
          stddev_pop(col("l_extendedprice")), lit(0.0)), 6).as("corr_qp"),
      round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("covar_qd"),
      // integral sum / count: bit-identical division in both engines
      avg(col("l_quantity")).as("avg_qty"),
      // Spark's skewness/kurtosis are population moments; the reference
      // reports bias-corrected sample statistics — convert (verified
      // identical to 1e-9 against the oracle engine).
      // NULLIF on the bias-correction denominators: they hit zero on 2-
      // and 3-row groups, where ANSI mode would crash and the reference
      // (like any SQL engine) reports NULL for the undefined statistic
      round(skewness(col("l_quantity")) *
        sqrt(count(lit(1)) * (count(lit(1)) - 1)) /
        nullif(count(lit(1)) - 2, lit(0L)), 6)
        .as("skew_s"),
      round(((count(lit(1)) - 1).cast("double") /
        nullif((count(lit(1)) - 2) * (count(lit(1)) - 3), lit(0L))) *
        ((count(lit(1)) + 1) * kurtosis(col("l_quantity")) + 6), 6)
        .as("kurt_s"))

  val aggStatsSql: String =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 6) AS sd_qty,
      |  round(var_samp(l_quantity), 6) AS var_qty,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
      |  round(covar_pop(l_quantity, l_discount), 6) AS covar_qd,
      |  avg(l_quantity) AS avg_qty,
      |  round(skewness(l_quantity), 6) AS skew_s,
      |  round(kurtosis(l_quantity), 6) AS kurt_s
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** arg_max/arg_min (reference
    * `src/core_functions/aggregate/distributive/arg_min_max.cpp`) with a
    * total-order tie-break: max_by over a (value, key) struct. */
  def aggArgmax(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
      max_by(col("l_orderkey"), struct(col("l_extendedprice"), col("l_orderkey")))
        .as("argmax_key"),
      min_by(col("l_orderkey"), struct(col("l_extendedprice"), col("l_orderkey")))
        .as("argmin_key"),
      max(col("l_extendedprice")).as("max_price"))

  val aggArgmaxSql: String =
    """SELECT l_returnflag,
      |  first(l_orderkey ORDER BY l_extendedprice DESC, l_orderkey DESC) AS argmax_key,
      |  first(l_orderkey ORDER BY l_extendedprice, l_orderkey) AS argmin_key,
      |  max(l_extendedprice) AS max_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** string_agg / list aggregation with deterministic intra-group order
    * (reference `string_agg.cpp`, `nested/list.cpp`). */
  def aggStringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "supplier").groupBy(col("s_nationkey")).agg(
      concat_ws(",", sort_array(collect_list(col("s_name")))).as("names"),
      count(lit(1)).as("n"))

  val aggStringAggSql: String =
    """SELECT s_nationkey,
      |  string_agg(s_name, ',' ORDER BY s_name) AS names,
      |  count(*) AS n
      |FROM supplier GROUP BY s_nationkey""".stripMargin

  /** Ordered LIST aggregation — `list(x ORDER BY y DESC, x)` (reference
    * `benchmark/micro/list/list_order_by.benchmark`, kernel
    * `src/core_functions/aggregate/nested/list.cpp`). Spark's
    * collect_list has no ORDER BY clause; the recomposition collects
    * (key, value) structs and sorts ONCE per group — struct comparison
    * is lexicographic, so `ORDER BY s_acctbal DESC, s_name` is
    * `array_sort` over `struct(-s_acctbal, s_name)` (negation of a
    * double is exact). Same shuffle count as an unordered collect. */
  def aggListOrdered(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "supplier").groupBy(col("s_nationkey")).agg(
      array_join(
        transform(
          array_sort(collect_list(struct(
            (-col("s_acctbal")).as("k"), col("s_name").as("v")))),
          e => e.getField("v")),
        ",").as("names_by_bal"),
      count(lit(1)).as("n"))

  val aggListOrderedSql: String =
    """SELECT s_nationkey,
      |  array_to_string(list(s_name ORDER BY s_acctbal DESC, s_name), ',')
      |    AS names_by_bal,
      |  count(*) AS n
      |FROM supplier GROUP BY s_nationkey""".stripMargin

  /** bool_and/bool_or + bitwise aggregates (reference
    * `distributive/bool.cpp`, `bitagg.cpp`). */
  def aggBoolBit(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders").groupBy(col("o_orderstatus")).agg(
      bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
      bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
      bit_and(col("o_orderkey") % 256).as("band"),
      bit_or(col("o_orderkey") % 256).as("bor"),
      bit_xor(col("o_orderkey") % 256).as("bxor"))

  val aggBoolBitSql: String =
    """SELECT o_orderstatus,
      |  bool_and(o_totalprice > 1000) AS all_over_1k,
      |  bool_or(o_totalprice > 400000) AS any_over_400k,
      |  bit_and(o_orderkey % 256) AS band,
      |  bit_or(o_orderkey % 256) AS bor,
      |  bit_xor(o_orderkey % 256) AS bxor
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Exact interpolated quantiles (reference `holistic/quantile.cpp`
    * quantile_cont): Spark's `percentile` is the same sort+interpolate. */
  def aggPercentile(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
      percentile(col("l_quantity"), lit(0.5)).as("p50"),
      percentile(col("l_quantity"), lit(0.9)).as("p90"),
      percentile(col("l_quantity"), lit(0.99)).as("p99"))

  val aggPercentileSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.9) AS p90,
      |  quantile_cont(l_quantity, 0.99) AS p99
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Discrete quantiles (reference `holistic/quantile.cpp` quantile_disc):
    * the element at index ceil(n·p) — no interpolation, so cross-engine
    * equality is integer-exact. p values are binary-exact (0.25/0.5/0.75)
    * so ceil(n·p) computes identically in IEEE arithmetic. */
  def aggQuantileDisc(s: SparkSession, dir: String): DataFrame = {
    val byQty = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
    val all = Window.partitionBy(col("l_returnflag"))
    Tables.t(s, dir, "lineitem")
      .withColumn("rn", row_number().over(byQty))
      .withColumn("n", count(lit(1)).over(all))
      .groupBy(col("l_returnflag"))
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.25), col("l_quantity"))).as("qd25"),
        max(when(col("rn") === ceil(col("n") * 0.5), col("l_quantity"))).as("qd50"),
        max(when(col("rn") === ceil(col("n") * 0.75), col("l_quantity"))).as("qd75"))
  }

  val aggQuantileDiscSql: String =
    """SELECT l_returnflag,
      |  quantile_disc(l_quantity, 0.25) AS qd25,
      |  quantile_disc(l_quantity, 0.5) AS qd50,
      |  quantile_disc(l_quantity, 0.75) AS qd75
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** mode() (reference `holistic/mode.cpp`) phrased deterministically on
    * both sides: highest count, ties broken by value. */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("l_quantity"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt"))
  }

  val aggModeSql: String =
    """SELECT l_returnflag, l_quantity AS mode_qty, cnt FROM (
      |  SELECT l_returnflag, l_quantity, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY count(*) DESC, l_quantity) AS rn
      |  FROM lineitem GROUP BY l_returnflag, l_quantity) t
      |WHERE rn = 1""".stripMargin

  /** count(*) vs count(col) null semantics + conditional counting. */
  def aggCounts(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").agg(
      count(lit(1)).as("n_all"),
      count(nullif(col("l_tax"), lit(0.0))).as("n_taxed"),
      count(when(col("l_discount") > 0.05, 1)).as("n_discounted"))

  val aggCountsSql: String =
    """SELECT count(*) AS n_all,
      |  count(nullif(l_tax, 0.0)) AS n_taxed,
      |  count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
      |FROM lineitem""".stripMargin

  /** Value histogram (reference `nested/histogram.cpp`) as rows — the
    * scalable phrasing (map-typed output needs a driver merge; rows shard). */
  def aggHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .groupBy(col("l_quantity").as("val")).agg(count(lit(1)).as("freq"))

  val aggHistogramSql: String =
    "SELECT l_quantity AS val, count(*) AS freq FROM lineitem GROUP BY 1"

  /** approx_count_distinct (HLL, reference `approx_count.cpp`) +
    * approx_percentile (t-digest-style, reference
    * `holistic/approx_quantile.cpp`). Raw sketch values differ across
    * engines, so the oracle checks the sketch CONTRACT instead: each
    * engine's own estimate must sit within the advertised error envelope
    * of the exact answer it computes alongside — a hard cross-engine
    * check that still exercises the sketch path end to end. */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
      countDistinct(col("l_partkey")).as("exact_parts"),
      (abs(approx_count_distinct(col("l_partkey")) - countDistinct(col("l_partkey")))
        .cast("double") / countDistinct(col("l_partkey")) <= 0.05)
        .as("approx_within_5pct"),
      (abs(approx_percentile(col("l_quantity"), lit(0.5), lit(1000)) -
        expr("percentile(l_quantity, 0.5)")) <= 2).as("p50_within_2"))

  val aggApproxDistinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      |  CAST(abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey)) AS DOUBLE)
      |    / count(DISTINCT l_partkey) <= 0.05 AS approx_within_5pct,
      |  abs(approx_quantile(l_quantity, 0.5) - quantile_cont(l_quantity, 0.5)) <= 2 AS p50_within_2
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Space-Saving heavy hitters (`functions.GraftFunctions.approx_top_k`,
    * a custom `Aggregator` — Metwally et al. 2005): top-k frequent values
    * in O(capacity) memory per partition regardless of row count, the
    * scalable answer when an exact GROUP BY's key domain would blow the
    * hash table. On this column the distinct count (5) sits far below
    * capacity (64), where the sketch is provably EXACT (no eviction, all
    * errors 0) — so the oracle is the plain GROUP BY twin; the
    * under-capacity approximation bound is spec-tested on synthetic skew
    * (AggregatorsSpec). */
  def aggTopkSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{GraftFunctions => G}
    Tables.t(s, dir, "events")
      .agg(G.approx_top_k(col("event_type"), capacity = 64, k = 5).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.value").as("value"),
        col("h.count_est").as("count_est"),
        col("h.max_err").as("max_err"))
  }

  val aggTopkSketchSql: String =
    """SELECT event_type AS value, count(*) AS count_est,
      |       CAST(0 AS BIGINT) AS max_err
      |FROM events
      |GROUP BY event_type
      |ORDER BY count_est DESC, value
      |LIMIT 5""".stripMargin

  /** Mergeable distinct-count sketches — the pre-aggregation pattern a
    * 100 TB warehouse runs so "distinct users this quarter" never
    * re-scans raw events: per-(type, day) DataSketches HLL sketches
    * (binary, storable), rolled up with a lossless hll_union_agg (the
    * union of HLL sketches at one lgK IS the sketch of the union — the
    * merged estimate equals the direct single-pass estimate exactly,
    * pinned in AggregatesOpSpec). The oracle checks the sketch CONTRACT
    * (the aggApproxDistinct precedent): each engine's own estimate lands
    * within 5% of the exact distinct it also computes — raw sketch
    * values are engine-specific by design. */
  def aggHllMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    val daily = ev
      .groupBy(col("event_type"), col("ts").cast("date").as("d"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .join(merged, Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("est") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.05).as("est_within_5pct"))
  }

  val aggHllMergeSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |  CAST(abs(approx_count_distinct(user_id) - count(DISTINCT user_id)) AS DOUBLE)
      |    / count(DISTINCT user_id) <= 0.05 AS est_within_5pct
      |FROM events GROUP BY event_type""".stripMargin

  /** Bloom-filter build + probe — the reference engine builds exactly
    * this structure as its dynamic join filters; here it is a
    * first-class mergeable Aggregator
    * ([[graft.functions.GraftAggregators.BloomAggregator]]: bitmap OR —
    * idempotent, so exact under any partitioning) over the distinct part
    * keys of lineitem, with k = 3 positions per key from the shared
    * codegen md5_hash64 — both the bitmap and every lookup are
    * bit-deterministic and the oracle reproduces them from the same
    * position set. Probes: the 10 smallest present keys (must ALL hit —
    * a Bloom filter has NO false negatives, the hard pin) and 10
    * impossible keys (−1…−10; each hit recorded — the false-positive
    * behavior is deterministic data, not chance, once the hash is
    * fixed). Scale posture: the build is one map-side-combining
    * aggregate to a single 4096-bit row; probes broadcast against it. */
  def aggBloom(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{GraftFunctions => G}
    val m = 4096
    val k = 3
    val keys = Tables.t(s, dir, "lineitem").select(col("l_partkey")).distinct()
    val pos = keys.select(explode(array((0 until k).map(i =>
      G.md5_hash64(i, col("l_partkey")) % m): _*)).as("pos"))
    val bloom = pos.agg(
      udaf(new graft.functions.GraftAggregators.BloomAggregator(m))
        .apply(col("pos")).as("bitmap"))
    val present = keys.orderBy(col("l_partkey")).limit(10)
      .select(col("l_partkey").as("probe_key"), lit(true).as("in_data"))
    val absent = s.range(1, 11)
      .select((-col("id")).as("probe_key"), lit(false).as("in_data"))
    val probes = present.unionAll(absent)
    val withPos = (0 until k).foldLeft(probes.crossJoin(broadcast(bloom))) {
      (df, i) => df.withColumn(s"p$i", G.md5_hash64(i, col("probe_key")) % m)
    }
    withPos
      .withColumn("hits", (0 until k).map(i => expr(
        // & 1, not % 2: shiftright is arithmetic, and a word with bit 63
        // set shifts to a NEGATIVE long whose % 2 is -1
        s"CAST(shiftright(element_at(bitmap, CAST(shiftright(p$i, 6) AS INT) + 1), " +
          s"CAST(p$i % 64 AS INT)) & 1 AS INT)")).reduce(_ + _))
      .select(col("probe_key").cast("long").as("probe_key"), col("in_data"),
        (col("hits") === k).as("bloom_hit"))
  }

  /** The identical position set and 3-hash membership in the oracle
    * dialect (positions as a DISTINCT relation — the bitmap IS that
    * set; lookup = all three positions present). */
  val aggBloomSql: String = {
    def h(seed: String, v: String) =
      graft.pipeline.Dedup.hash64Sql(seed, v) + " % 4096"
    s"""WITH keys AS (SELECT DISTINCT l_partkey AS key FROM lineitem),
       |pos AS (SELECT DISTINCT ${h("i", "key")} AS pos
       |        FROM keys, unnest(range(3)) AS t(i)),
       |probes AS (
       |  SELECT key AS probe_key, true AS in_data
       |  FROM (SELECT key FROM keys ORDER BY key LIMIT 10)
       |  UNION ALL
       |  SELECT -CAST(i AS BIGINT), false FROM range(1, 11) AS r(i)),
       |ph AS (SELECT probe_key, in_data, ${h("i", "probe_key")} AS p
       |       FROM probes, unnest(range(3)) AS t(i))
       |SELECT probe_key, in_data,
       |  bool_and(EXISTS (SELECT 1 FROM pos WHERE pos.pos = ph.p)) AS bloom_hit
       |FROM ph GROUP BY probe_key, in_data""".stripMargin
  }

  /** Count-Min sketch build + point queries
    * ([[graft.functions.GraftAggregators.CountMinAggregator]]): d = 3
    * hash rows × w = 512 counters over every lineitem part-key
    * OCCURRENCE (a frequency sketch, unlike [[aggBloom]]'s distinct-key
    * membership). Positions come from the shared md5_hash64, so the
    * whole counter array is deterministic and the oracle reproduces it
    * as a (row, bucket, count) relation; a point estimate is the MIN of
    * a key's d counters and can only overestimate — `est >= true` is
    * pinned per probe, exact equality whenever no collision landed in
    * some row. Probes: the 5 smallest part keys and 5 impossible keys
    * (whose estimate is pure collision mass). Scale posture: one
    * map-side-combining aggregate to a single 1536-counter row; probes
    * broadcast against it. */
  def aggCms(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{GraftFunctions => G}
    val d = 3
    val w = 512
    val li = Tables.t(s, dir, "lineitem").select(col("l_partkey"))
    val pos = li.select(explode(array((0 until d).map(i =>
      lit(i) * w + G.md5_hash64(i, col("l_partkey")) % w): _*)).as("pos"))
    val cms = pos.agg(
      udaf(new graft.functions.GraftAggregators.CountMinAggregator(d, w))
        .apply(col("pos")).as("counters"))
    val truth = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("true_n"))
    val present = truth.orderBy(col("l_partkey")).limit(5)
      .select(col("l_partkey").as("probe_key"), col("true_n"))
    val absent = s.range(1, 6)
      .select((-col("id")).as("probe_key"), lit(0L).as("true_n"))
    val probes = present.unionAll(absent)
    // positions computed via the Scala API column (md5_hash64 is not in
    // the bare session registry), staged as md5h0..md5h2 before the fold
    val staged = (0 until d).foldLeft(probes.crossJoin(broadcast(cms))) {
      (df, i) => df.withColumn(s"md5h$i", G.md5_hash64(i, col("probe_key")))
    }
    val est = (0 until d).map(i => expr(
      s"element_at(counters, CAST(${i * w} + md5h$i % $w AS INT) + 1)"))
      .reduce(least(_, _))
    staged.select(col("probe_key").cast("long").as("probe_key"),
      col("true_n"), est.as("cms_est"))
      .withColumn("never_under", col("cms_est") >= col("true_n"))
  }

  /** The identical counters and min-of-rows point query in the oracle
    * dialect (counter array as a (pos, c) relation). */
  val aggCmsSql: String = {
    def h(seed: String, v: String) =
      graft.pipeline.Dedup.hash64Sql(seed, v) + " % 512"
    s"""WITH pos AS (
       |  SELECT i * 512 + ${h("i", "l_partkey")} AS pos
       |  FROM lineitem, unnest(range(3)) AS t(i)),
       |counters AS (SELECT pos, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY pos),
       |truth AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS true_n
       |          FROM lineitem GROUP BY l_partkey),
       |probes AS (
       |  SELECT l_partkey AS probe_key, true_n
       |  FROM (SELECT l_partkey, true_n FROM truth ORDER BY l_partkey LIMIT 5)
       |  UNION ALL
       |  SELECT -CAST(i AS BIGINT), CAST(0 AS BIGINT) FROM range(1, 6) AS r(i)),
       |ph AS (SELECT probe_key, true_n,
       |         i * 512 + ${h("i", "probe_key")} AS pos
       |       FROM probes, unnest(range(3)) AS t(i)),
       |est AS (
       |  SELECT probe_key, true_n,
       |    CAST(min(coalesce(c, 0)) AS BIGINT) AS cms_est
       |  FROM ph LEFT JOIN counters USING (pos)
       |  GROUP BY probe_key, true_n)
       |SELECT probe_key, true_n, cms_est, cms_est >= true_n AS never_under
       |FROM est""".stripMargin
  }

  /** Linear-regression aggregates (reference
    * `src/core_functions/aggregate/regression/` regr_*.cpp files). */
  def aggRegr(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
      round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
      round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6).as("icept"),
      round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
      round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 6).as("ax"),
      round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 6).as("ay"),
      regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))

  val aggRegrSql: String =
    """SELECT l_returnflag,
      |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
      |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      |  round(regr_avgx(l_extendedprice, l_quantity), 6) AS ax,
      |  round(regr_avgy(l_extendedprice, l_quantity), 6) AS ay,
      |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** product() (reference `distributive/product.cpp`) via a custom
    * Aggregator — exact over integral doubles. */
  def aggProduct(s: SparkSession, dir: String): DataFrame = {
    val prod = udaf(new graft.functions.GraftAggregators.ProductAggregator)
    Tables.t(s, dir, "nation").groupBy(col("n_regionkey")).agg(
      prod((col("n_nationkey") + 1).cast("double")).as("prod"),
      count(lit(1)).as("n"))
  }

  val aggProductSql: String =
    """SELECT n_regionkey, product(CAST(n_nationkey + 1 AS DOUBLE)) AS prod,
      |  count(*) AS n
      |FROM nation GROUP BY n_regionkey""".stripMargin

  /** bitstring_agg (reference
    * `src/core_functions/aggregate/distributive/bitstring_agg.cpp`):
    * presence bitmap over a bounded integer domain — DuckDB materializes
    * a BIT with one position per domain value. Spark has no BIT type;
    * the faithful relational spelling is collect_set (the distributive
    * presence state, map-side combined) rendered to the same
    * left-to-right '0'/'1' string the oracle gets from
    * `CAST(bitstring_agg(x, lo, hi) AS VARCHAR)` — probed: position 1
    * is the LEFTMOST character. Domain bounds are explicit literals on
    * both engines (DuckDB's unbounded form scans min/max first; the
    * bounded form is the distributed-friendly one — a fixed-width state
    * independent of data). */
  def aggBitstring(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(collect_set(col("l_linenumber")).as("present"))
      .select(col("l_returnflag"),
        concat_ws("", transform(sequence(lit(1), lit(7)),
          i => when(array_contains(col("present"), i), "1").otherwise("0")))
          .as("bits"))

  val aggBitstringSql: String =
    """SELECT l_returnflag,
      |       CAST(bitstring_agg(l_linenumber, 1, 7) AS VARCHAR) AS bits
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** reservoir_quantile (reference
    * `src/core_functions/aggregate/holistic/reservoir_quantile.cpp`) —
    * the bounded-memory sampled quantile, as a distributed Aggregator
    * (see `GraftAggregators.ReservoirQuantileAggregator` for the
    * algorithm and merge). This entry runs the EXACT regime (per-group
    * rows ≪ the 2²¹ capacity at every gate scale, so the reservoir
    * never evicts and the answer equals quantile_disc — what makes the
    * sketch oracle-checkable); the sampled regime's error bound is
    * pinned by the suite's eviction property test. Dyadic fractions
    * only, so the index math carries no float hazard. */
  def aggReservoirQuantile(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{GraftFunctions => G}
    Tables.t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        G.reservoir_quantile(col("value"), 0.25).as("rq25"),
        G.reservoir_quantile(col("value"), 0.5).as("rq50"),
        G.reservoir_quantile(col("value"), 0.75).as("rq75"),
        count(lit(1)).as("n"))
  }

  val aggReservoirQuantileSql: String =
    """SELECT event_type,
      |  quantile_disc(value, 0.25) AS rq25,
      |  quantile_disc(value, 0.5) AS rq50,
      |  quantile_disc(value, 0.75) AS rq75,
      |  count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** GROUPING()/GROUPING_ID() super-aggregate flags (reference
    * `src/execution/operator/aggregate/physical_hash_aggregate.cpp`
    * grouping-set id columns): distinguishes a real NULL group key from
    * a ROLLUP subtotal row — without the flag the two are ambiguous in
    * any engine. gid is computed by Spark's native grouping_id();
    * the oracle phrases it as DuckDB's multi-argument GROUPING(). */
  def aggGroupingFn(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"))

  val aggGroupingFnSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_grouping_fn" -> (aggGroupingFn _),
    "agg_global" -> (aggGlobal _),
    "agg_distinct" -> (aggDistinct _),
    "agg_rollup" -> (aggRollup _),
    "agg_cube" -> (aggCube _),
    "agg_grouping_sets" -> (aggGroupingSets _),
    "agg_stats" -> (aggStats _),
    "agg_argmax" -> (aggArgmax _),
    "agg_string_agg" -> (aggStringAgg _),
    "agg_list_ordered" -> (aggListOrdered _),
    "agg_bool_bit" -> (aggBoolBit _),
    "agg_percentile" -> (aggPercentile _),
    "agg_mode" -> (aggMode _),
    "agg_counts" -> (aggCounts _),
    "agg_histogram" -> (aggHistogram _),
    "agg_approx_distinct" -> (aggApproxDistinct _),
    "agg_regr" -> (aggRegr _),
    "agg_product" -> (aggProduct _),
    "agg_quantile_disc" -> (aggQuantileDisc _),
    "agg_reservoir_quantile" -> (aggReservoirQuantile _),
    "agg_bitstring" -> (aggBitstring _),
    "agg_topk_sketch" -> (aggTopkSketch _),
    "agg_hll_merge" -> (aggHllMerge _),
    "agg_bloom" -> (aggBloom _),
    "agg_cms" -> (aggCms _))

  val oracle: Map[String, String] = Map(
    "agg_grouping_fn" -> aggGroupingFnSql,
    "agg_global" -> aggGlobalSql,
    "agg_distinct" -> aggDistinctSql,
    "agg_rollup" -> aggRollupSql,
    "agg_cube" -> aggCubeSql,
    "agg_grouping_sets" -> aggGroupingSetsSql,
    "agg_stats" -> aggStatsSql,
    "agg_argmax" -> aggArgmaxSql,
    "agg_string_agg" -> aggStringAggSql,
    "agg_list_ordered" -> aggListOrderedSql,
    "agg_bool_bit" -> aggBoolBitSql,
    "agg_percentile" -> aggPercentileSql,
    "agg_mode" -> aggModeSql,
    "agg_counts" -> aggCountsSql,
    "agg_histogram" -> aggHistogramSql,
    "agg_approx_distinct" -> aggApproxDistinctSql,
    "agg_regr" -> aggRegrSql,
    "agg_product" -> aggProductSql,
    "agg_quantile_disc" -> aggQuantileDiscSql,
    "agg_reservoir_quantile" -> aggReservoirQuantileSql,
    "agg_bitstring" -> aggBitstringSql,
    "agg_topk_sketch" -> aggTopkSketchSql,
    "agg_hll_merge" -> aggHllMergeSql,
    "agg_bloom" -> aggBloomSql,
    "agg_cms" -> aggCmsSql)
}
