package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Holistic (non-decomposable) aggregates over window frames — the
  * reference's moving MEDIAN / QUANTILE / MAD / MODE / LIST micro-family
  * (reference `benchmark/micro/window/window_median_fixed_100.benchmark`,
  * `window_iqr_fixed_100.benchmark`, `window_mad_fixed_100.benchmark`,
  * `window_mode_fixed_100.benchmark`, `window_list_aggr.benchmark`, and
  * the `*_variable_100` per-row-frame-bound variants; executor
  * `src/execution/operator/aggregate/physical_window.cpp` with the
  * holistic kernels in `src/core_functions/aggregate/holistic/`).
  *
  * Spark-first recomposition, one strategy per capability:
  *   - moving median/quantiles: Spark's `percentile` IS an aggregate
  *     usable over a frame, and both engines interpolate linearly
  *     (`lower + g*(upper-lower)`), so over INTEGER measures every
  *     result is a dyadic rational — bit-exact across engines.
  *   - moving MAD: Spark has no `mad`; recomposed from the frame list
  *     with codegen'd array ops (sort → interpolated median → absolute
  *     deviations → median again). Integer inputs keep every
  *     intermediate a dyadic rational, so it is bit-exact vs DuckDB's
  *     native `mad() OVER`.
  *   - moving MODE: both engines' native `mode` breaks frequency ties
  *     arbitrarily (DuckDB returns the first-seen max in frame order —
  *     observed, not contractual), so BOTH sides here pin the
  *     deterministic lowest-value-wins tie-break: Spark folds the
  *     sorted frame list run-length-wise (the O(n log n) pattern from
  *     [[graft.pipeline.TextAnalysis]]); the oracle unnests the frame
  *     list and arg-maxes (count, -value).
  *   - frame LIST: `collect_list` over a ROWS frame aggregates rows in
  *     frame order (same as DuckDB's `list() OVER`) when the window
  *     order key is a total order; scalarized to a CSV string because
  *     the driver's pandas compare cannot hash raw arrays.
  *   - VARIABLE frame bounds (`ROWS BETWEEN expr PRECEDING AND expr
  *     FOLLOWING`): Spark's grammar only accepts FOLDABLE frame bounds —
  *     a per-row expression bound is a parse error. Recomposed as a
  *     banded self-join on row_number (equi-join on the partition key
  *     with the band as a residual range predicate) + group-by. At 100
  *     TB the band join composes with [[ScaleJoins]]' bucketing; here
  *     the partition-key equi-side bounds the pair blow-up to
  *     rows × max frame width.
  *
  * Scale posture: all fixed-frame entries PARTITION the window (pk) —
  * WindowExec is O(rows × frame) per partition but partitions
  * parallelize; an unpartitioned holistic window (the reference's
  * single-threaded benchmark form) funnels the corpus through one task
  * and is exactly what this module avoids. The measure goes through
  * `floor()` before the INT cast because Spark truncates double→int
  * while DuckDB rounds — `floor` is the one spelling both agree on.
  */
object HolisticWindows extends graft.EntryModule {

  /** Shared base: bounded slice of orders with an integer measure and a
    * coarse partition key; o_orderkey is the unique total order. */
  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .filter(col("o_custkey") < 200)
      .select((col("o_custkey") % 4).as("pk"), col("o_orderkey"),
        floor(col("o_totalprice")).cast("int").as("x"))

  private val baseSql =
    """SELECT o_custkey % 4 AS pk, o_orderkey,
      |       CAST(floor(o_totalprice) AS INT) AS x
      |FROM orders WHERE o_custkey < 200""".stripMargin

  private def w(n: Int): org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(col("pk")).orderBy(col("o_orderkey"))
      .rowsBetween(-n, 0)

  /** Interpolated median of a SORTED array — the quantile_cont(0.5)
    * both engines implement: odd n → middle element, even n → mean of
    * the two middles (a dyadic rational for integer/half-integer
    * elements, so exact in a double). */
  private def imed(a: Column): Column = {
    val n = size(a)
    val half = (n / 2).cast("int") // Column./ is double division; n <= frame width so the cast is exact
    when(n % 2 === 1, element_at(a, half + 1).cast("double"))
      .otherwise((element_at(a, half).cast("double") +
        element_at(a, half + 1).cast("double")) / 2.0)
  }

  /** Moving median + quartiles + IQR over a fixed 100-row frame
    * (reference `window_median_fixed_100` / `window_iqr_fixed_100`). */
  def winMedianFrame(s: SparkSession, dir: String): DataFrame = {
    val q25 = percentile(col("x"), lit(0.25)).over(w(100))
    val q75 = percentile(col("x"), lit(0.75)).over(w(100))
    base(s, dir).select(col("pk"), col("o_orderkey"),
      percentile(col("x"), lit(0.5)).over(w(100)).as("med"),
      q25.as("q25"), q75.as("q75"), (q75 - q25).as("iqr"))
  }

  val winMedianFrameSql: String =
    s"""WITH b AS ($baseSql)
       |SELECT pk, o_orderkey,
       |  median(x) OVER w AS med,
       |  quantile_cont(x, 0.25) OVER w AS q25,
       |  quantile_cont(x, 0.75) OVER w AS q75,
       |  quantile_cont(x, 0.75) OVER w - quantile_cont(x, 0.25) OVER w AS iqr
       |FROM b WINDOW w AS (PARTITION BY pk ORDER BY o_orderkey
       |                    ROWS BETWEEN 100 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Moving MAD (median absolute deviation) over a fixed 10-row frame,
    * recomposed from the frame list with array ops (reference
    * `window_mad_fixed_100`; DuckDB side runs its NATIVE `mad() OVER`).
    * Staged selects keep each array a column reference — lambda BODIES
    * re-evaluate their subtrees per element, so the median must never
    * be computed inside the `transform`. */
  def winMadFrame(s: SparkSession, dir: String): DataFrame = {
    val staged = base(s, dir)
      .select(col("pk"), col("o_orderkey"),
        array_sort(collect_list(col("x")).over(w(10))).as("sfl"))
      .select(col("pk"), col("o_orderkey"), col("sfl"), imed(col("sfl")).as("med"))
    staged.select(col("pk"), col("o_orderkey"), col("med"),
      imed(array_sort(transform(col("sfl"),
        v => abs(v.cast("double") - col("med"))))).as("mad"))
  }

  val winMadFrameSql: String =
    s"""WITH b AS ($baseSql)
       |SELECT pk, o_orderkey,
       |  median(x) OVER w AS med,
       |  mad(x) OVER w AS mad
       |FROM b WINDOW w AS (PARTITION BY pk ORDER BY o_orderkey
       |                    ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Moving MODE over a fixed 20-row frame with the deterministic
    * lowest-value-wins tie-break pinned on BOTH engines (reference
    * `window_mode_fixed_100`; native mode's tie order is arbitrary in
    * both engines, so the entry spells the tie-break out). Spark side:
    * run-length fold over the sorted frame list — strict `>` keeps the
    * FIRST (lowest) value at max frequency. */
  def winModeFrame(s: SparkSession, dir: String): DataFrame = {
    val fl = collect_list(col("x") % 100).over(w(20))
    val folded = aggregate(
      array_sort(fl),
      struct(lit(null).cast("int").as("prev"), lit(0L).as("run"),
        lit(0L).as("c"), lit(null).cast("int").as("v")),
      (st, x) => {
        val newRun = when(x === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(1L)
        struct(x.as("prev"), newRun.as("run"),
          greatest(newRun, st.getField("c")).as("c"),
          when(newRun > st.getField("c"), x)
            .otherwise(st.getField("v")).as("v"))
      })
    base(s, dir)
      .select(col("pk"), col("o_orderkey"), folded.as("f"))
      .select(col("pk"), col("o_orderkey"),
        col("f").getField("v").as("mode_val"),
        col("f").getField("c").as("mode_cnt"))
  }

  val winModeFrameSql: String =
    s"""WITH b AS ($baseSql),
       |fr AS (
       |  SELECT pk, o_orderkey,
       |    list(x % 100) OVER (PARTITION BY pk ORDER BY o_orderkey
       |                        ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS fl
       |  FROM b),
       |e AS (SELECT pk, o_orderkey, unnest(fl) AS v FROM fr),
       |c AS (SELECT pk, o_orderkey, v, count(*) AS c FROM e GROUP BY 1, 2, 3),
       |m AS (SELECT pk, o_orderkey,
       |        max(struct_pack(c := c, nv := -v)) AS s
       |      FROM c GROUP BY 1, 2)
       |SELECT pk, o_orderkey,
       |  CAST(-s.nv AS INT) AS mode_val, CAST(s.c AS BIGINT) AS mode_cnt
       |FROM m""".stripMargin

  /** Frame LIST aggregation with a FORWARD edge (reference
    * `window_list_aggr`): list() over ROWS BETWEEN 2 PRECEDING AND
    * 1 FOLLOWING, scalarized to CSV. Frame order equals window order on
    * both engines because o_orderkey is a total order. */
  def winListFrame(s: SparkSession, dir: String): DataFrame = {
    val wf = Window.partitionBy(col("pk")).orderBy(col("o_orderkey"))
      .rowsBetween(-2, 1)
    base(s, dir)
      .select(col("pk"), col("o_orderkey"),
        collect_list(col("x").cast("string")).over(wf).as("fl"))
      .select(col("pk"), col("o_orderkey"),
        array_join(col("fl"), ",").as("fl_str"),
        size(col("fl")).cast("long").as("n"))
  }

  val winListFrameSql: String =
    s"""WITH b AS ($baseSql)
       |SELECT pk, o_orderkey,
       |  array_to_string(list(CAST(x AS VARCHAR)) OVER w, ',') AS fl_str,
       |  CAST(len(list(x) OVER w) AS BIGINT) AS n
       |FROM b WINDOW w AS (PARTITION BY pk ORDER BY o_orderkey
       |                    ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)""".stripMargin

  /** PER-ROW (expression) frame bounds — `ROWS BETWEEN o_orderkey % 7
    * PRECEDING AND o_orderkey % 3 FOLLOWING` (reference
    * `window_mad_variable_100.benchmark` uses `mod(b*47,521) PRECEDING`).
    * Spark's grammar requires FOLDABLE frame bounds, so the variable
    * frame is recomposed: row_number the partition, self-join on the
    * band `b.rn BETWEEN a.rn - a.pre AND a.rn + a.fol` (equi on pk,
    * band as residual), then group back to one row per anchor. The
    * frame always contains the anchor row (pre, fol >= 0) so the inner
    * join loses nothing. */
  def winVariableFrame(s: SparkSession, dir: String): DataFrame = {
    val rn = row_number().over(
      Window.partitionBy(col("pk")).orderBy(col("o_orderkey")))
    val v = base(s, dir).select(col("pk"), col("o_orderkey"), col("x"),
      rn.as("rn"),
      (col("o_orderkey") % 7).cast("int").as("pre"),
      (col("o_orderkey") % 3).cast("int").as("fol"))
    val a = v.alias("a")
    val b = v.select(col("pk"), col("rn"), col("x")).alias("b")
    a.join(b, col("a.pk") === col("b.pk") &&
        col("b.rn") >= col("a.rn") - col("a.pre") &&
        col("b.rn") <= col("a.rn") + col("a.fol"))
      .groupBy(col("a.pk").as("pk"), col("a.o_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        percentile(col("b.x"), lit(0.5)).as("med"),
        sum(col("b.x")).cast("bigint").as("tot"))
  }

  val winVariableFrameSql: String =
    s"""WITH b AS ($baseSql)
       |SELECT pk, o_orderkey,
       |  CAST(count(*) OVER w AS BIGINT) AS n,
       |  median(x) OVER w AS med,
       |  CAST(sum(x) OVER w AS BIGINT) AS tot
       |FROM b WINDOW w AS (PARTITION BY pk ORDER BY o_orderkey
       |  ROWS BETWEEN o_orderkey % 7 PRECEDING AND o_orderkey % 3 FOLLOWING)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_median_frame" -> (winMedianFrame _),
    "win_mad_frame" -> (winMadFrame _),
    "win_mode_frame" -> (winModeFrame _),
    "win_list_frame" -> (winListFrame _),
    "win_variable_frame" -> (winVariableFrame _))

  val oracle: Map[String, String] = Map(
    "win_median_frame" -> winMedianFrameSql,
    "win_mad_frame" -> winMadFrameSql,
    "win_mode_frame" -> winModeFrameSql,
    "win_list_frame" -> winListFrameSql,
    "win_variable_frame" -> winVariableFrameSql)
}
