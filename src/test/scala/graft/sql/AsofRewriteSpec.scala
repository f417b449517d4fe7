package graft.sql

import graft.SparkSpec

/** The schema-aware ASOF fast path: fires only on the canonical shape,
  * agrees with the faithful lateral translation, and declines (None →
  * fallback) on everything outside the contract. */
class AsofRewriteSpec extends SparkSpec {

  private val canonical =
    """SELECT c.event_id, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin

  test("fast path fires on the canonical shape and equals the lateral form") {
    val fast = AsofRewrite.maybeRun(spark, sf(), canonical)
    assert(fast.isDefined, "canonical ASOF shape must take the fast path")
    val viaFast = fast.get.collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toSet
    val viaLateral = graft.Tables.sql(spark, sf(), DuckDialect.translate(canonical))
      .collect().map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toSet
    assert(viaFast == viaLateral && viaFast.nonEmpty)
  }

  test("flipped inequality orientation and named tables work") {
    val sql =
      """SELECT a.event_id, b.event_id AS later_id
        |FROM events a ASOF JOIN events b
        |  ON b.user_id = a.user_id AND b.ts <= a.ts""".stripMargin
    // b.ts <= a.ts from b's view == a.ts >= b.ts from a's view... but the
    // probe side is always the FROM side (a); orientation only normalizes
    // the comparison, it must not swap the roles
    val fast = AsofRewrite.maybeRun(spark, sf(), sql)
    assert(fast.isDefined)
    assert(fast.get.columns.toSeq == Seq("event_id", "later_id"))
    assert(fast.get.count() > 0)
  }

  test("trailing WHERE/ORDER BY/LIMIT survive the rewrite") {
    val sql = canonical + "\nWHERE p.ts IS NOT NULL ORDER BY c.event_id LIMIT 7"
    val fast = AsofRewrite.maybeRun(spark, sf(), sql)
    assert(fast.isDefined)
    val rows = fast.get.collect()
    assert(rows.length == 7)
    assert(rows.forall(!_.isNullAt(1)), "WHERE on the matched side must hold")
    val ids = rows.map(_.getLong(0))
    assert(ids.sameElements(ids.sorted), "ORDER BY must hold")
  }

  test("an unbalanced ASOF query raises GraftSqlException") {
    val sql = "SELECT a.event_id FROM (SELECT * FROM events a ASOF JOIN events b " +
      "ON a.user_id = b.user_id AND a.ts >= b.ts"
    intercept[DuckDialect.GraftSqlException](AsofRewrite.maybeRun(spark, sf(), sql))
    intercept[DuckDialect.GraftSqlException](DuckDialect.run(spark, sf(), sql))
  }

  for ((label, sql) <- Seq(
    "star select" ->
      "SELECT * FROM events a ASOF JOIN events b ON a.user_id = b.user_id AND a.ts >= b.ts",
    "extra join in FROM" ->
      ("SELECT a.event_id FROM events a ASOF JOIN events b ON a.user_id = b.user_id AND a.ts >= b.ts " +
        "JOIN region r ON r.r_regionkey = a.user_id"),
    "no equality conjunct" ->
      "SELECT a.event_id FROM events a ASOF JOIN events b ON a.ts >= b.ts",
    "two inequalities" ->
      ("SELECT a.event_id FROM events a ASOF JOIN events b " +
        "ON a.user_id = b.user_id AND a.ts >= b.ts AND a.event_id > b.event_id"),
    "unknown qualifier in select" ->
      ("SELECT x.event_id FROM events a ASOF JOIN events b " +
        "ON a.user_id = b.user_id AND a.ts >= b.ts"),
    "WITH prefix" ->
      ("WITH c AS (SELECT * FROM events) SELECT a.event_id FROM c a " +
        "ASOF JOIN events b ON a.user_id = b.user_id AND a.ts >= b.ts"),
    "expression on the inequality side (the ducksql_asof_lateral pin)" ->
      DuckSqlQueries.asofLateralSql)) {
    test(s"fallback: $label declines the fast path") {
      assert(AsofRewrite.maybeRun(spark, sf(), sql).isEmpty, label)
    }
  }
}
