package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Analogs for the reference's two GRAPH workloads — Train Benchmark
  * (reference `benchmark/trainbenchmark/queries/` — six validation
  * queries phrased as relational pattern matching over a railway model)
  * and LDBC SNB BI (reference `benchmark/ldbc/queries/bi-1.sql`,
  * `bi-10-shortestpath.sql`). These pin the planner shapes the
  * relational suites don't exercise:
  *
  *   - DEEP SELF-JOIN CHAINS over one edge relation (connectedsegments.sql:
  *     five joins of `connectsTo` to itself plus six `monitoredBy` probes —
  *     the join-order search sees seven copies of two relations, not seven
  *     distinct tables like JOB);
  *   - VALIDATION ANTI-JOINS on a composite key against a DERIVED
  *     requirement table (routesensor.sql's LEFT JOIN … IS NULL);
  *   - STATE-MISMATCH pattern joins (switchset.sql's
  *     `currentPosition != position` across two of the joined tables);
  *   - percentage-of-corpus summary via a scalar-total CTE (bi-1.sql);
  *   - recursive BFS reduced to MIN-hop shortest paths (bi-10's
  *     `friends_shortest`: recursion, then GROUP BY node MIN(hop)).
  *
  * The railway graph is modeled on the `events` fixture: track elements are
  * events, `connectsTo` edges link consecutive events of one user in
  * (ts, event_id) order, and `monitoredBy` assigns each element its
  * event_type as the monitoring sensor. Both engines derive the graph with
  * the same windowed `lead`, so the oracle is exact.
  *
  * 100 TB posture: every hop of the chain is an equi-join on event_id —
  * hash-partitioned shuffles that AQE sizes per hop; there is no driver-side
  * traversal and no broadcast requirement (the edge relation is corpus-sized
  * on both sides). The validation anti-joins shuffle once on the composite
  * key. The BFS is level-synchronous (Spark 4.1 UnionLoop), the same
  * bounded-depth plan `cte_khop_graph` pins.
  */
object GraphShapes extends graft.EntryModule {

  /** connectsTo: consecutive same-user events, (ts, event_id) total order. */
  private def connectsTo(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.t(s, dir, "events")
      .select(col("event_id").as("a"), lead(col("event_id"), 1).over(w).as("b"))
      .where(col("b").isNotNull)
  }

  private val connectsToSql =
    """SELECT event_id AS a,
      |       lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
      |FROM events QUALIFY b IS NOT NULL""".stripMargin

  /** Train Benchmark `connectedsegments.sql` (reference
    * `benchmark/trainbenchmark/queries/connectedsegments.sql`): six track
    * segments joined into a five-hop path, all monitored by the SAME
    * sensor. Five self-joins of the edge table + six probes of the
    * sensor assignment; the shared-sensor predicate collapses the six
    * probes into five equality filters after the first. Spark's CBO sees
    * seven aliases of two relations — the self-join-chain ordering stress
    * the JOB cascades (all distinct tables) never produce. */
  def tbConnectedChain(s: SparkSession, dir: String): DataFrame = {
    val ct = connectsTo(s, dir)
    val m = Tables.t(s, dir, "events")
      .select(col("event_id").as("te"), col("event_type").as("sensor"))
    def hop(i: Int) = ct.select(col("a").as(s"a$i"), col("b").as(s"b$i"))
    val chain = hop(1)
      .join(hop(2), col("b1") === col("a2"))
      .join(hop(3), col("b2") === col("a3"))
      .join(hop(4), col("b3") === col("a4"))
      .join(hop(5), col("b4") === col("a5"))
    def mon(alias: String) =
      m.select(col("te").as(s"te_$alias"), col("sensor").as(s"sensor_$alias"))
    val withSensors = chain
      .join(mon("1"), col("a1") === col("te_1"))
      .join(mon("2"), col("a2") === col("te_2"))
      .join(mon("3"), col("a3") === col("te_3"))
      .join(mon("4"), col("a4") === col("te_4"))
      .join(mon("5"), col("a5") === col("te_5"))
      .join(mon("6"), col("b5") === col("te_6"))
      .where(col("sensor_1") === col("sensor_2") &&
        col("sensor_1") === col("sensor_3") &&
        col("sensor_1") === col("sensor_4") &&
        col("sensor_1") === col("sensor_5") &&
        col("sensor_1") === col("sensor_6"))
    withSensors.select(
      col("sensor_1").as("sensor"),
      col("a1").as("seg1"), col("a2").as("seg2"), col("a3").as("seg3"),
      col("a4").as("seg4"), col("a5").as("seg5"), col("b5").as("seg6"))
  }

  val tbConnectedChainSql: String =
    s"""WITH ct AS ($connectsToSql),
       |m AS (SELECT event_id AS te, event_type AS sensor FROM events)
       |SELECT m1.sensor AS sensor,
       |       c1.a AS seg1, c2.a AS seg2, c3.a AS seg3,
       |       c4.a AS seg4, c5.a AS seg5, c5.b AS seg6
       |FROM ct c1
       |JOIN ct c2 ON c1.b = c2.a
       |JOIN ct c3 ON c2.b = c3.a
       |JOIN ct c4 ON c3.b = c4.a
       |JOIN ct c5 ON c4.b = c5.a
       |JOIN m m1 ON m1.te = c1.a
       |JOIN m m2 ON m2.te = c2.a
       |JOIN m m3 ON m3.te = c3.a
       |JOIN m m4 ON m4.te = c4.a
       |JOIN m m5 ON m5.te = c5.a
       |JOIN m m6 ON m6.te = c5.b
       |WHERE m1.sensor = m2.sensor AND m1.sensor = m3.sensor
       |  AND m1.sensor = m4.sensor AND m1.sensor = m5.sensor
       |  AND m1.sensor = m6.sensor""".stripMargin

  /** Train Benchmark `routesensor.sql`: routes reaching a sensor through the
    * pattern chain that do NOT `require` that sensor — a composite-key
    * anti-join against a DERIVED requirement table. Modeled on TPC-H: an
    * order "reaches" the nation of each line's supplier; it "requires" only
    * its customer's nation. The reference spells the anti as LEFT OUTER
    * JOIN … WHERE id IS NULL; with a non-null requirement key that is
    * exactly Spark's LEFT ANTI join, which skips materializing the NULL
    * padding. One shuffle on (orderkey, nationkey); the violation count is
    * aggregated per nation to keep the validation report compact. */
  def tbRouteValidation(s: SparkSession, dir: String): DataFrame = {
    val reached = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("o_orderkey").as("route"), col("s_nationkey").as("sensor"))
    val requires = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey").as("r_route"), col("c_nationkey").as("r_sensor"))
    reached
      .join(requires,
        col("route") === col("r_route") && col("sensor") === col("r_sensor"),
        "left_anti")
      .join(Tables.t(s, dir, "nation"), col("sensor") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("violations"))
  }

  val tbRouteValidationSql: String =
    """WITH reached AS (
      |  SELECT o_orderkey AS route, s_nationkey AS sensor
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey),
      |requires AS (
      |  SELECT o_orderkey AS r_route, c_nationkey AS r_sensor
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |SELECT n_name AS nation, count(*) AS violations
      |FROM reached LEFT JOIN requires
      |  ON route = r_route AND sensor = r_sensor
      |JOIN nation ON sensor = n_nationkey
      |WHERE r_route IS NULL
      |GROUP BY n_name""".stripMargin

  /** Train Benchmark `switchset.sql`: active routes with a GO semaphore
    * whose switch's CURRENT position differs from the position the route
    * PRESCRIBES — a state-mismatch predicate across two joined tables.
    * Modeled as: open orders (active) of BUILDING-segment customers (the
    * signal filter) whose line's prescribed parity (l_linenumber) differs
    * from the part's current parity (p_size). Both mismatch operands are
    * computed columns from DIFFERENT relations, so the predicate can only
    * apply post-join — the pin checks it doesn't block the dimension
    * filters from pushing into the scans. */
  def tbSwitchMismatch(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders").where(col("o_orderstatus") === "O")
      .join(Tables.t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .where(pmod(col("p_size"), lit(2)) =!= pmod(col("l_linenumber"), lit(2)))
      .select(col("o_orderkey").as("route"),
        col("l_linenumber").as("swp"),
        col("p_partkey").as("sw"),
        pmod(col("l_linenumber"), lit(2)).as("position"),
        pmod(col("p_size"), lit(2)).as("current_position"))

  val tbSwitchMismatchSql: String =
    """SELECT o_orderkey AS route, l_linenumber AS swp, p_partkey AS sw,
      |       l_linenumber % 2 AS position, p_size % 2 AS current_position
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE o_orderstatus = 'O' AND c_mktsegment = 'BUILDING'
      |  AND (p_size % 2) != (l_linenumber % 2)""".stripMargin

  /** LDBC BI-1 "posting summary" (reference
    * `benchmark/ldbc/queries/bi-1.sql`): group counts, averages, AND each
    * group's share of the WHOLE corpus — the total arrives as a scalar CTE
    * cross-joined into the aggregate, which Spark plans as a broadcast of
    * the one-row subquery (no second pass over the data for the ratio).
    * Events stand in for messages: day-of-month is the time dim, clicks
    * are "comments", value quartile cuts are the length category. The
    * avg/sum run over DECIMAL(18,2) (the fixture's value grain) so the
    * group sums are EXACT on both engines — a plain double avg landed a
    * group mean precisely on a round-4 boundary (61.90225) where a 1-ulp
    * sum-association difference flips the rounded digit. */
  def ldbcSummaryPct(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, ldbcSummaryPctSql)

  val ldbcSummaryPctSql: String =
    """WITH mc AS (SELECT count(*) AS cnt FROM events),
      |prep AS (
      |  SELECT extract(day FROM ts) AS d,
      |         event_type = 'click' AS is_comment,
      |         CASE WHEN value < 25 THEN 0 WHEN value < 50 THEN 1
      |              WHEN value < 75 THEN 2 ELSE 3 END AS len_cat,
      |         CAST(value AS DECIMAL(18,2)) AS dv
      |  FROM events)
      |SELECT d, is_comment, len_cat,
      |       count(*) AS n,
      |       round(CAST(sum(dv) AS DOUBLE) / count(*), 4) AS avg_len,
      |       round(CAST(sum(dv) AS DOUBLE), 4) AS sum_len,
      |       round(count(*) / CAST(mc.cnt AS DOUBLE), 6) AS pct
      |FROM prep, mc
      |GROUP BY d, is_comment, len_cat, mc.cnt""".stripMargin

  /** LDBC BI-10's `friends_shortest` (reference
    * `benchmark/ldbc/queries/bi-10-shortestpath.sql`): level-synchronous
    * BFS by recursive CTE, then MIN(hop) per node = shortest-path length,
    * histogrammed. Same customer–supplier bipartite graph and depth bound
    * as `cte_khop_graph` (paths are enumerated, so the bound keeps the
    * level width polynomial — bi-10 bounds at 5 for the same reason);
    * the shortest-path reduction is the delta over that entry. Runs on
    * Spark 4.1's native UnionLoop. */
  def ldbcShortestPath(s: SparkSession, dir: String): DataFrame =
    Tables.sql(s, dir, ldbcShortestPathSql)

  val ldbcShortestPathSql: String =
    """WITH RECURSIVE paths(node, d) AS (
      |    SELECT CAST(-1 AS BIGINT) AS node, 0 AS d
      |  UNION ALL
      |    SELECT e.dst AS node, p.d + 1 AS d
      |    FROM paths p
      |    JOIN (SELECT o_custkey AS src, -l_suppkey AS dst
      |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |          UNION
      |          SELECT -l_suppkey AS src, o_custkey AS dst
      |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey) e
      |      ON e.src = p.node
      |    WHERE p.d < 2)
      |SELECT hop, count(*) AS n_nodes
      |FROM (SELECT node, min(d) AS hop FROM paths GROUP BY node)
      |GROUP BY hop""".stripMargin

  /** Triangle enumeration with DEGREE-ORDERED edge orientation (Suri &
    * Vassilvitskii, WWW 2011 — the standard distributed algorithm; the
    * LDBC/graph-analytics pattern the reference's graph benchmarks
    * build toward). Orienting every undirected edge from its lower-
    * (degree, id) endpoint to the higher one lists each triangle
    * EXACTLY once and bounds the wedge fan-out per vertex by O(sqrt E)
    * instead of max-degree — the difference between a hub exploding
    * into deg² wedge pairs and a balanced join at 100 TB. The oracle
    * orients by id only (simpler SQL, same single-listing guarantee —
    * any total order works); both sides emit the triangle as its
    * id-sorted triple, so the row SETS are identical even though the
    * join orders differ. Graph: custkeys < 300 wired by o_orderkey%300
    * — a deterministic quasi-random multigraph the DISTINCT collapses. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.t(s, dir, "orders").filter(col("o_custkey") < 300)
      .select(col("o_custkey").as("a"), (col("o_orderkey") % 300).as("b"))
      .where(col("a") =!= col("b"))
    val und = raw.select(least(col("a"), col("b")).as("u"),
      greatest(col("a"), col("b")).as("v")).distinct()
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
    val e1 = o.select(col("src"), col("dst").as("m"), col("ddst").as("dm"))
    val e2 = o.select(col("src"), col("dst").as("w"), col("ddst").as("dw"))
    val wedges = e1.join(e2, Seq("src"))
      .where(col("dm") < col("dw") || (col("dm") === col("dw") && col("m") < col("w")))
    val closed = wedges.join(
      o.select(col("src").as("m"), col("dst").as("w")), Seq("m", "w"))
    closed.select(sort_array(array(col("src"), col("m"), col("w"))).as("t"))
      .select(element_at(col("t"), 1).as("n1"), element_at(col("t"), 2).as("n2"),
        element_at(col("t"), 3).as("n3"))
  }

  val graphTrianglesSql: String =
    """WITH raw AS (
      |  SELECT o_custkey AS a, o_orderkey % 300 AS b
      |  FROM orders WHERE o_custkey < 300),
      |e AS (
      |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM raw WHERE a <> b)
      |SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
      |FROM e e1
      |JOIN e e2 ON e2.u = e1.v
      |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin

  /** PageRank, 3 synchronous iterations (Page, Brin, Motwani, Winograd
    * 1999; the LDBC Graphalytics core kernel the reference's graph
    * benchmarks build toward) over the same deterministic multigraph as
    * [[graphTriangles]], symmetrized so every node has out-degree ≥ 1
    * (no dangling-mass redistribution term to keep the kernel pure).
    *
    * INTEGER-EXACT by construction: ranks live in integer units of
    * 10⁻¹² of total mass (r₀ = 10¹² DIV n), each contribution is
    * `r(u) DIV outdeg(u)`, and the update is
    * `r'(v) = (15·10¹² DIV 100) DIV n + 85·Σcontrib DIV 100` — every
    * op BIGINT, truncating division on both engines, so the ranks are
    * bit-identical across engines, partitionings, and join orders (a
    * double-valued PageRank would accumulate in engine-specific order).
    *
    * Spark side: the idiomatic bounded driver loop — K is a constant,
    * each step one join edge⋈rank + one groupBy(dst) with map-side
    * combine; the loop composes plans, it never collects. The oracle
    * unrolls the same 3 steps as CTEs. 100 TB posture: per step one
    * shuffle on dst (the contribution aggregate); degree and rank
    * frames stay keyed on the node id so AQE can reuse the
    * partitioning; real jobs add localCheckpoint every ~5 steps to cut
    * lineage (as `pipeline_curate` demonstrates) — at 3 steps the plan
    * stays compact without it. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.t(s, dir, "orders").filter(col("o_custkey") < 300)
      .select(col("o_custkey").as("a"), (col("o_orderkey") % 300).as("b"))
      .where(col("a") =!= col("b"))
    val und = raw.select(least(col("a"), col("b")).as("u"),
      greatest(col("a"), col("b")).as("v")).distinct()
    val edges = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = deg.select(col("src").as("node"), col("outdeg"))
    val n = nodes.select(count(lit(1)).as("n"))
    var rank = nodes.crossJoin(broadcast(n))
      .select(col("node"), col("outdeg"), col("n"),
        expr("1000000000000 DIV n").as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(rank.select(col("node").as("src"),
          expr("r DIV outdeg").as("c")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inmass"))
      rank = rank.join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), col("outdeg"), col("n"),
          (expr("150000000000 DIV n") +
            expr("85 * coalesce(inmass, CAST(0 AS BIGINT)) DIV 100")).as("r"))
    }
    // (per-round localCheckpoint measured SLOWER here in r17 — 1.89 s →
    // 2.34 s at sf0.01: 3 rounds × 2× growth is only 8 copies of a tiny
    // subtree, cheaper to re-plan than to materialize eagerly)
    rank.select(col("node"), col("r").as("rank_e12"))
  }

  val graphPagerankSql: String =
    """WITH raw AS (
      |  SELECT o_custkey AS a, o_orderkey % 300 AS b
      |  FROM orders WHERE o_custkey < 300),
      |und AS (
      |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      |  FROM raw WHERE a <> b),
      |edges AS (
      |  SELECT u AS src, v AS dst FROM und
      |  UNION ALL SELECT v AS src, u AS dst FROM und),
      |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
      |nn AS (SELECT count(*) AS n FROM deg),
      |r0 AS (
      |  SELECT node, outdeg, n, CAST(1000000000000 // n AS BIGINT) AS r
      |  FROM deg, nn),
      |r1 AS (
      |  SELECT p.node, p.outdeg, p.n,
      |    CAST((150000000000 // p.n) +
      |         85 * coalesce(m.inmass, 0) // 100 AS BIGINT) AS r
      |  FROM r0 p LEFT JOIN (
      |    SELECT e.dst, sum(p.r // p.outdeg) AS inmass
      |    FROM edges e JOIN r0 p ON e.src = p.node GROUP BY e.dst) m
      |  ON p.node = m.dst),
      |r2 AS (
      |  SELECT p.node, p.outdeg, p.n,
      |    CAST((150000000000 // p.n) +
      |         85 * coalesce(m.inmass, 0) // 100 AS BIGINT) AS r
      |  FROM r1 p LEFT JOIN (
      |    SELECT e.dst, sum(p.r // p.outdeg) AS inmass
      |    FROM edges e JOIN r1 p ON e.src = p.node GROUP BY e.dst) m
      |  ON p.node = m.dst),
      |r3 AS (
      |  SELECT p.node, p.outdeg, p.n,
      |    CAST((150000000000 // p.n) +
      |         85 * coalesce(m.inmass, 0) // 100 AS BIGINT) AS r
      |  FROM r2 p LEFT JOIN (
      |    SELECT e.dst, sum(p.r // p.outdeg) AS inmass
      |    FROM edges e JOIN r2 p ON e.src = p.node GROUP BY e.dst) m
      |  ON p.node = m.dst)
      |SELECT node, r AS rank_e12 FROM r3""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> (graphPagerank _),
    "graph_triangles" -> (graphTriangles _),
    "tb_connected_chain" -> (tbConnectedChain _),
    "tb_route_validation" -> (tbRouteValidation _),
    "tb_switch_mismatch" -> (tbSwitchMismatch _),
    "ldbc_summary_pct" -> (ldbcSummaryPct _),
    "ldbc_shortest_path" -> (ldbcShortestPath _))

  val oracle: Map[String, String] = Map(
    "graph_pagerank" -> graphPagerankSql,
    "graph_triangles" -> graphTrianglesSql,
    "tb_connected_chain" -> tbConnectedChainSql,
    "tb_route_validation" -> tbRouteValidationSql,
    "tb_switch_mismatch" -> tbSwitchMismatchSql,
    "ldbc_summary_pct" -> ldbcSummaryPctSql,
    "ldbc_shortest_path" -> ldbcShortestPathSql)
}
