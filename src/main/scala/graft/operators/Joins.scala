package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's full join surface (reference
  * `src/execution/physical_plan/plan_comparison_join.cpp`,
  * `src/common/enums/join_type.cpp`: INNER/LEFT/RIGHT/FULL/SEMI/ANTI/MARK/
  * SINGLE, plus cross product, as-of, IEJoin/range and positional joins),
  * re-expressed through Spark's join API so Catalyst chooses
  * broadcast/shuffled-hash/sort-merge per side statistics.
  *
  * Scale notes: every query here aggregates or bounds its output; no
  * driver-side collection. Dimension sides are marked `broadcast` where the
  * table stays small at any scale factor (nation/region, filtered dims).
  */
object Joins extends graft.EntryModule {

  /** LEFT OUTER with an extra non-key predicate in the ON clause —
    * exercises null-extension of unmatched probe rows
    * (reference `physical_hash_join.cpp` LEFT path + OuterJoinMarker). */
  def joinLeft(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.t(s, dir, "orders")
    val li = Tables.t(s, dir, "lineitem")
    ord.join(li, ord("o_orderkey") === li("l_orderkey") && li("l_quantity") > 49, "left")
      .agg(
        count(lit(1)).as("n_rows"),
        count(li("l_orderkey")).as("n_matched"),
        count(when(li("l_orderkey").isNull, 1)).as("n_unmatched"))
  }

  val joinLeftSql: String =
    """SELECT count(*) AS n_rows, count(l_orderkey) AS n_matched,
      |  count(CASE WHEN l_orderkey IS NULL THEN 1 END) AS n_unmatched
      |FROM orders LEFT JOIN lineitem
      |  ON o_orderkey = l_orderkey AND l_quantity > 49""".stripMargin

  /** RIGHT OUTER (reference plans RIGHT via hash-join HT scan stage,
    * `physical_hash_join.cpp:557` HashJoinSourceStage::SCAN_HT). */
  def joinRight(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem").filter(col("l_quantity") > 49)
    val ord = Tables.t(s, dir, "orders")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"), "right")
      .agg(
        count(lit(1)).as("n_rows"),
        count(li("l_orderkey")).as("n_matched"))
  }

  val joinRightSql: String =
    """SELECT count(*) AS n_rows, count(l_orderkey) AS n_matched
      |FROM (SELECT * FROM lineitem WHERE l_quantity > 49) l
      |RIGHT JOIN orders ON l.l_orderkey = o_orderkey""".stripMargin

  /** FULL OUTER over two pre-aggregated sides with partially disjoint keys. */
  def joinFull(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(s, dir, "customer").filter(col("c_acctbal") < 0)
      .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
    val p = Tables.t(s, dir, "supplier").filter(col("s_acctbal") > 5000)
      .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_supp"))
    c.join(p, col("nk_c") === col("nk_s"), "full")
      .select(
        coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  val joinFullSql: String =
    """SELECT coalesce(nk_c, nk_s) AS nationkey,
      |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS nk_c, count(*) AS n_cust FROM customer
      |      WHERE c_acctbal < 0 GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS nk_s, count(*) AS n_supp FROM supplier
      |      WHERE s_acctbal > 5000 GROUP BY 1) p
      |ON nk_c = nk_s""".stripMargin

  /** LEFT SEMI ≡ EXISTS (reference JoinType::SEMI). */
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.t(s, dir, "customer")
    val bigOrders = Tables.t(s, dir, "orders").filter(col("o_totalprice") > 400000)
    cust.join(bigOrders, cust("c_custkey") === bigOrders("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin

  /** LEFT ANTI ≡ NOT EXISTS (reference JoinType::ANTI). */
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.t(s, dir, "customer")
    val ord = Tables.t(s, dir, "orders")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_no_orders"))
  }

  val joinAntiSql: String =
    """SELECT count(*) AS n_no_orders FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** MARK join — IN-subquery surfaced as a boolean column (reference
    * JoinType::MARK; Catalyst ExistenceJoin). Runs the oracle string
    * itself (single source — the differential check compares the same
    * SQL on both engines by construction). */
  def joinMark(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, joinMarkSql)

  val joinMarkSql: String =
    """SELECT flag, count(*) AS n FROM (
      |  SELECT o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000) AS flag
      |  FROM orders) t
      |GROUP BY flag""".stripMargin

  /** SINGLE join — uncorrelated scalar subquery feeding a predicate
    * (reference JoinType::SINGLE). Expressed as a broadcast cross join of a
    * 1-row aggregate: distributed, no driver collect. */
  def joinSingle(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.t(s, dir, "orders")
    val avgDf = ord.agg(
      (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") / count(lit(1)))
        .as("avg_price"))
    ord.join(broadcast(avgDf))
      .filter(col("o_totalprice") > col("avg_price"))
      .agg(count(lit(1)).as("n_above"))
  }

  val joinSingleSql: String =
    """SELECT count(*) AS n_above FROM orders
      |WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |                      FROM orders)""".stripMargin

  /** Cartesian product (reference `physical_cross_product.cpp` — a
    * CompactingPhysicalOperator; tiny dims so Spark broadcasts). */
  def joinCross(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.t(s, dir, "region")
    val n = Tables.t(s, dir, "nation")
    r.crossJoin(n).select(col("r_name"), col("n_name"))
  }

  val joinCrossSql: String =
    "SELECT r_name, n_name FROM region CROSS JOIN nation"

  /** GENERIC as-of join (reference `physical_asof_join.cpp` — all four
    * inequality directions, LEFT and INNER): for each left row, the
    * nearest right row sharing the equality keys under `leftOrder <op>
    * rightOrder`. Spark has no native as-of join; the scale-safe plan is
    * the union + last(ignoreNulls) window — ONE shuffle on the equality
    * keys, no domain product, any data size (the lateral/BNLJ form the
    * SQL translator emits for pasted DuckDB ASOF is O(|keys|·|right|)).
    *
    * Semantics: `op` compares left to right (">=" = most recent right
    * at-or-before, ">" strictly before, "<="/"<" the forward variants).
    * Ties: at equal order values an INCLUSIVE op admits the right row
    * (build sorts before probe), a STRICT op does not (build sorts
    * after); among multiple right rows at the same order value the
    * lexicographically largest payload wins (deterministic under any
    * partitioning). NULL order values never match on either side (the
    * reference's comparison semantics). Output: every left column, then
    * right's non-key columns — a name colliding with a left column gets
    * the `_r` suffix. */
  def asofJoin(left: DataFrame, right: DataFrame, eqKeys: Seq[String],
      leftOrder: String, rightOrder: String, op: String = ">=",
      joinType: String = "left"): DataFrame = {
    require(Seq(">=", ">", "<=", "<").contains(op), s"unsupported op $op")
    require(Seq("left", "inner").contains(joinType),
      s"as-of supports left/inner, got $joinType (mirror the sides for right)")
    require(eqKeys.nonEmpty, "as-of needs at least one equality key")
    val backward = op.startsWith(">")
    val inclusive = op.endsWith("=")
    val lCols = left.columns.toSeq
    val rPayload = right.columns.toSeq.filterNot(eqKeys.contains)
    val collide = rPayload.filter(lCols.contains).toSet
    def rName(c: String) = if (collide(c)) c + "_r" else c
    val lStructT = left.select(struct(lCols.map(col): _*)).schema.head.dataType
    val rStructT = right.select(struct(rPayload.map(col): _*)).schema.head.dataType
    // probes tag 1; builds tag 0 when ties admit (inclusive), 2 when not
    val probe = left.select(
      eqKeys.map(col) ++ Seq(col(leftOrder).as("__ord"), lit(1).as("__tag"),
        struct(lCols.map(col): _*).as("__l"),
        lit(null).cast(rStructT).as("__r")): _*)
    val build = right.filter(col(rightOrder).isNotNull).select(
      eqKeys.map(col) ++ Seq(col(rightOrder).as("__ord"),
        lit(if (inclusive) 0 else 2).as("__tag"),
        lit(null).cast(lStructT).as("__l"),
        struct(rPayload.map(col): _*).as("__r")): _*)
    // nulls FIRST in both directions: a null-order probe precedes every
    // build, so it can never match
    val ordCol = if (backward) col("__ord").asc_nulls_first
      else col("__ord").desc_nulls_first
    // deterministic build tie-break via the payload struct — only when
    // the payload is orderable (a MAP column would fail analysis; ties
    // are then engine-unspecified, as in the reference)
    val rOrderable = org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(rStructT)
    val orderCols = Seq(ordCol, col("__tag").asc) ++
      (if (rOrderable) Seq(col("__r").asc_nulls_first) else Nil)
    val w = Window.partitionBy(eqKeys.map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = probe.unionByName(build)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    val kept = if (joinType == "inner") matched.filter(col("__m").isNotNull)
      else matched
    kept.select(
      lCols.map(c => col("__l").getField(c).as(c)) ++
        rPayload.map(c => col("__m").getField(c).as(rName(c))): _*)
  }

  /** ASOF RIGHT JOIN (reference `physical_asof_join.cpp` right-outer
    * mode). PROBED semantics on DuckDB 1.0.0 — NOT the side-swap: the
    * matching direction is unchanged (each LEFT row still picks its
    * nearest right row under the inequality); RIGHT-outer means right
    * rows that were never anyone's best match are appended NULL-padded.
    * Probes pinned in JoinsSpec: a right row "skipped over" by a nearer
    * match pads even though left rows satisfy its inequality; duplicate
    * right rows pad multiplicity − 1 copies when their value matched
    * (all probes match the one best physical row) and all copies
    * otherwise; at inclusive-op ties the largest-payload row is the
    * match (same pick [[asofJoin]] makes) and its tied siblings pad;
    * NULL-order right rows always pad.
    *
    * Output: every left column (NULL on padded rows), then EVERY right
    * column — keys included, since padded rows carry right keys under a
    * NULL left key — with left-colliding names suffixed `_r`.
    *
    * Scale posture: the match half is [[asofJoin]]'s one-shuffle
    * union+window; the pad half is a groupBy-count of the right side
    * and one null-safe join against the DISTINCT matched values (both
    * keyed map-side-combining shuffles) with `sequence`-explode
    * restoring multiplicity — no domain product, no driver state. */
  def asofJoinRight(left: DataFrame, right: DataFrame, eqKeys: Seq[String],
      leftOrder: String, rightOrder: String, op: String = ">="): DataFrame = {
    val (matchedOut, padded) =
      asofRightParts(left, right, eqKeys, leftOrder, rightOrder, op)
    matchedOut.unionByName(padded)
  }

  /** ASOF FULL JOIN (probed like [[asofJoinRight]]): the LEFT-outer
    * as-of result (every left row with its best match or NULLs) plus the
    * same never-matched right rows NULL-padded. Output shape identical
    * to [[asofJoinRight]] (right keys surface as `_r` columns — NULL on
    * unmatched-left rows, populated on matched and padded-right rows). */
  def asofJoinFull(left: DataFrame, right: DataFrame, eqKeys: Seq[String],
      leftOrder: String, rightOrder: String, op: String = ">="): DataFrame = {
    val lCols = left.columns.toSeq
    val rAll = right.columns.toSeq
    val rPayload = rAll.filterNot(eqKeys.contains)
    val collide = rPayload.filter(lCols.contains).toSet
    def rName(c: String) = if (eqKeys.contains(c)) c + "_r"
      else if (collide(c)) c + "_r" else c
    val lh = asofJoin(left, right, eqKeys, leftOrder, rightOrder, op, "left")
    // matched iff the right order value came through (builds filter NULL
    // order, so a non-null rightOrder field means a real match)
    val matchedFlag = col(rName(rightOrder)).isNotNull
    val leftOut = lh.select(
      lCols.map(col) ++ rAll.map(c =>
        (if (eqKeys.contains(c))
           when(matchedFlag, col(c)).otherwise(lit(null))
         else col(rName(c))).as(rName(c))): _*)
    val (_, padded) =
      asofRightParts(left, right, eqKeys, leftOrder, rightOrder, op)
    leftOut.unionByName(padded)
  }

  /** The RIGHT-outer halves: (matched rows in the `_r` output shape,
    * never-matched right rows NULL-padded with multiplicity restored). */
  private def asofRightParts(left: DataFrame, right: DataFrame,
      eqKeys: Seq[String], leftOrder: String, rightOrder: String,
      op: String): (DataFrame, DataFrame) = {
    val lCols = left.columns.toSeq
    val rAll = right.columns.toSeq
    val rPayload = rAll.filterNot(eqKeys.contains)
    val collide = rPayload.filter(lCols.contains).toSet
    def rName(c: String) = if (eqKeys.contains(c)) c + "_r"
      else if (collide(c)) c + "_r" else c
    val inner = asofJoin(left, right, eqKeys, leftOrder, rightOrder, op, "inner")
    // matched rows: right keys equal left keys by the equality join
    val matchedOut = inner.select(
      lCols.map(col) ++ rAll.map(c =>
        (if (eqKeys.contains(c)) col(c) else col(rName(c))).as(rName(c))): _*)
    val matchedVals = inner.select(rAll.map(c =>
        (if (eqKeys.contains(c)) col(c) else col(rName(c))).as("__m_" + c)): _*)
      .distinct().withColumn("__matched", lit(1))
    val counts = right.groupBy(rAll.map(col): _*).agg(count(lit(1)).as("__n"))
    val padJoin = rAll.map(c => col(c) <=> col("__m_" + c)).reduce(_ && _)
    val padded = counts.join(matchedVals, padJoin, "left")
      .withColumn("__pad",
        col("__n") - when(col("__matched").isNotNull, 1L).otherwise(0L))
      .filter(col("__pad") > 0)
      .withColumn("__i", explode(sequence(lit(1L), col("__pad"))))
      .select(lCols.map(c =>
        lit(null).cast(left.schema(c).dataType).as(c)) ++
        rAll.map(c => col(c).as(rName(c))): _*)
    (matchedOut, padded)
  }

  /** AS-OF join entry (reference `physical_asof_join.cpp`): for each
    * click, the most recent purchase at-or-before it by the same user —
    * phrased through the generic [[asofJoin]], so the oracle pins the
    * generic operator, not a hand-rolled twin. */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    asofJoin(
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts")),
      eqKeys = Seq("user_id"), leftOrder = "ts", rightOrder = "ts")
      .select(col("event_id"), col("ts_r").as("purchase_ts"))
  }

  /** The round-4 hand-rolled form, kept as the spec's independent
    * reference implementation for the generic [[asofJoin]]. */
  private[operators] def joinAsofLegacy(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("ts").as("pts"),
        lit(0).as("tag"), lit(null).cast("long").as("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(null).cast("timestamp").as("pts"),
        lit(1).as("tag"), col("event_id"))
    // At equal ts the purchase (tag 0) sorts first, giving ASOF >= semantics.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .withColumn("purchase_ts", last(col("pts"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("purchase_ts"))
  }

  val joinAsofSql: String =
    """SELECT c.event_id, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin

  /** Inner AS-OF: like joinAsof but clicks with no prior purchase drop out
    * (reference `physical_asof_join.cpp` supports both inner and outer). */
  def joinAsofInner(s: SparkSession, dir: String): DataFrame =
    joinAsof(s, dir).filter(col("purchase_ts").isNotNull)

  val joinAsofInnerSql: String =
    """SELECT c.event_id, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin

  /** IEJoin-shaped 2-predicate inequality self-join (reference
    * `physical_iejoin.cpp`). Spark plans a broadcast nested-loop; output is
    * aggregated so only the count crosses operator boundaries. */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    val s1 = Tables.t(s, dir, "supplier").select(
      col("s_acctbal").as("b1"), col("s_nationkey").as("n1"))
    val s2 = Tables.t(s, dir, "supplier").select(
      col("s_acctbal").as("b2"), col("s_nationkey").as("n2"))
    s1.join(s2, col("b1") < col("b2") && col("n1") > col("n2"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val joinRangeSql: String =
    """SELECT count(*) AS n_pairs
      |FROM supplier s1 JOIN supplier s2
      |  ON s1.s_acctbal < s2.s_acctbal AND s1.s_nationkey > s2.s_nationkey""".stripMargin

  /** Equi-join NULL semantics in the gate: synthesized null keys never
    * match under `=`, always pair under IS NOT DISTINCT FROM (Spark
    * `<=>` ≡ Catalyst EqualNullSafe, reference INTERSECT planning
    * `plan_set_operation.cpp:24-44` uses the same NOT DISTINCT compare). */
  def joinNullSemantics(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.t(s, dir, "orders")
      .select(nullif(col("o_custkey") % 13, lit(0)).as("k"))
    val c = Tables.t(s, dir, "customer")
      .select(nullif(col("c_custkey") % 13, lit(0)).as("k2"))
    o.join(c, col("k") === col("k2"), "left")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("k2")).as("n_matched"),
        count(when(col("k").isNull, 1)).as("n_null_left")).crossJoin(
        o.join(c, col("k") <=> col("k2"))
          .agg(count(lit(1)).as("n_nullsafe")))
  }

  val joinNullSemanticsSql: String =
    """SELECT eq.n_rows, eq.n_matched, eq.n_null_left, ns.n_nullsafe FROM
      |(SELECT count(*) AS n_rows, count(k2) AS n_matched,
      |   count(CASE WHEN k IS NULL THEN 1 END) AS n_null_left
      | FROM (SELECT nullif(o_custkey % 13, 0) AS k FROM orders) o
      | LEFT JOIN (SELECT nullif(c_custkey % 13, 0) AS k2 FROM customer) c
      |   ON o.k = c.k2) eq,
      |(SELECT count(*) AS n_nullsafe
      | FROM (SELECT nullif(o_custkey % 13, 0) AS k FROM orders) o
      | JOIN (SELECT nullif(c_custkey % 13, 0) AS k2 FROM customer) c
      |   ON o.k IS NOT DISTINCT FROM c.k2) ns""".stripMargin

  /** Scalable global row-number over a total order. The naive
    * `Window.orderBy(key)` with no partition key moves the WHOLE relation
    * to one partition (Spark even warns); this composition never does:
    * range-partition on the key (explicit partition count, so AQE cannot
    * re-coalesce it between the two passes), number rows WITHIN each
    * partition, then shift by the summed counts of the partitions before
    * it. The per-partition counts are an O(parts) statistics envelope
    * broadcast back — never data. This is the reference's batch-index
    * approach (reference `physical_fixed_batch_copy.cpp` assigns per-chunk
    * batch indexes, then a global prefix over batch counts) re-expressed
    * for Spark.
    */
  def globalPosition(df: DataFrame, key: org.apache.spark.sql.Column,
      parts: Int): DataFrame = {
    val spark = df.sparkSession
    // ONE range shuffle, then zipWithIndex: its internal count job and the
    // numbering job run on the SAME RDD lineage, so the sampled range
    // bounds are computed once and the shuffle output is reused — two
    // separate DataFrame executions would re-sample bounds (the sampler
    // seeds on rdd.id) and could disagree on boundary keys, silently
    // misnumbering rows. The count pass is an O(parts) statistics
    // envelope, never data. pos stays LONG: positions past 2^31 are the
    // point of a scalable recipe.
    // replace (not duplicate) a pre-existing pos column, matching the old
    // withColumn semantics
    // NULLS LAST explicitly: the documented oracle pattern
    // (`row_number() OVER (ORDER BY key)`) numbers NULL keys LAST under
    // DuckDB's default; Spark's bare `asc` is NULLS FIRST, which would
    // shift every non-NULL row's position by the NULL count.
    val base = if (df.columns.contains("pos")) df.drop("pos") else df
    val sorted = base.repartitionByRange(parts, key.asc_nulls_last)
      .sortWithinPartitions(key.asc_nulls_last)
    val schema = sorted.schema.add("pos", org.apache.spark.sql.types.LongType,
      nullable = false)
    val rows = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L)) }
    spark.createDataFrame(rows, schema)
  }

  /** Positional join (reference `physical_positional_join.cpp`): align rows
    * of two relations by computed position. Positions come from
    * `globalPosition` — the range-partitioned composition above — not a
    * global window, so the recipe holds on large relations too. */
  def joinPositional(s: SparkSession, dir: String): DataFrame = {
    val r = globalPosition(Tables.t(s, dir, "region"), col("r_regionkey"), 4)
      .select(col("pos"), col("r_name"))
    val n = globalPosition(Tables.t(s, dir, "nation"), col("n_nationkey"), 4)
      .filter(col("pos") <= 5).select(col("pos"), col("n_name"))
    r.join(n, "pos")
  }

  val joinPositionalSql: String =
    """SELECT r.pos, r_name, n_name
      |FROM (SELECT row_number() OVER (ORDER BY r_regionkey) AS pos, r_name FROM region) r
      |JOIN (SELECT row_number() OVER (ORDER BY n_nationkey) AS pos, n_name FROM nation) n
      |  ON r.pos = n.pos
      |WHERE n.pos <= 5""".stripMargin

  /** LATERAL join — per-outer-row dependent subquery (reference
    * `src/planner/binder/tableref/bind_joinref.cpp` LATERAL binding;
    * DuckDB plans it as a dependent join then flattens). The canonical
    * top-k-per-group use: for each nation, its two richest customers.
    * Spark decorrelates the LIMIT-bearing lateral subquery into a
    * window + filter (no per-row re-execution — the plan shape that
    * survives 100 TB, identical to a hand-written rank filter). */
  def joinLateral(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, joinLateralSql)

  val joinLateralSql: String =
    """SELECT n_name, t.c_name, t.c_acctbal
      |FROM nation, LATERAL (
      |  SELECT c_name, c_acctbal FROM customer
      |  WHERE c_nationkey = n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_lateral" -> (joinLateral _),
    "join_left" -> (joinLeft _),
    "join_right" -> (joinRight _),
    "join_full" -> (joinFull _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_mark" -> (joinMark _),
    "join_single" -> (joinSingle _),
    "join_cross" -> (joinCross _),
    "join_null_semantics" -> (joinNullSemantics _),
    "join_asof" -> (joinAsof _),
    "join_asof_inner" -> (joinAsofInner _),
    "join_range" -> (joinRange _),
    "join_positional" -> (joinPositional _))

  val oracle: Map[String, String] = Map(
    "join_lateral" -> joinLateralSql,
    "join_left" -> joinLeftSql,
    "join_right" -> joinRightSql,
    "join_full" -> joinFullSql,
    "join_semi" -> joinSemiSql,
    "join_anti" -> joinAntiSql,
    "join_mark" -> joinMarkSql,
    "join_single" -> joinSingleSql,
    "join_cross" -> joinCrossSql,
    "join_null_semantics" -> joinNullSemanticsSql,
    "join_asof" -> joinAsofSql,
    "join_asof_inner" -> joinAsofInnerSql,
    "join_range" -> joinRangeSql,
    "join_positional" -> joinPositionalSql)
}
