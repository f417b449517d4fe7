package graft.sql

import graft.SparkSpec
import graft.sources.GraftTable
import DuckDialect.GraftSqlException

/** SQL state belongs to the session: two `newSession()`s of one JVM never
  * see each other's macros, ATTACH aliases, prepared statements or open
  * transaction (DuckDB: prepared statements and transactions belong to
  * the connection, catalog entries to a database). */
class SessionSqlSpec extends SparkSpec {

  private def twoSessions() = (spark.newSession(), spark.newSession())

  private def regionTable(): (String, Map[String, String]) = {
    val root = java.nio.file.Files.createTempDirectory("graft_session_sql_").toString
    GraftTable.create(spark, root, graft.Tables.t(spark, sf(), "region"))
    (root, Map("re" -> root))
  }

  private def names(root: String): Set[String] =
    GraftTable.read(spark, root).select("r_name").collect().map(_.getString(0)).toSet

  test("a macro created in one session does not expand in another") {
    val (a, b) = twoSessions()
    DuckDml.exec(a, Map.empty, "CREATE MACRO ss_inc(x) AS x + 1")
    assert(DuckDialect.run(a, sf(), "SELECT ss_inc(41) AS v").head().getInt(0) === 42)
    intercept[Exception](DuckDialect.run(b, sf(), "SELECT ss_inc(41) AS v").collect())
  }

  test("each session attaches its own catalogs") {
    val (a, b) = twoSessions()
    DuckDml.exec(a, Map.empty, s"ATTACH '${sf()}' AS aux")
    // B has attached nothing: its aux.region is not rewritten
    intercept[Exception](DuckDialect.run(b, sf(), "SELECT * FROM aux.region").collect())
    DuckDml.exec(b, Map.empty, s"ATTACH '${sf()}' AS aux")
    DuckDml.exec(a, Map.empty, "DETACH aux")
    assert(DuckDialect.run(b, sf(), "SELECT count(*) AS n FROM aux.region")
      .head().getLong(0) === 5)
  }

  test("a statement prepared in one session cannot be executed in another") {
    val (a, b) = twoSessions()
    DuckDml.exec(a, Map.empty, "PREPARE ss_p AS SELECT CAST($1 AS INT) * 2 AS v")
    assert(DuckDialect.run(a, sf(), "EXECUTE ss_p(21)").head().getInt(0) === 42)
    assert(intercept[GraftSqlException](DuckDialect.run(b, sf(), "EXECUTE ss_p(21)"))
      .getMessage.contains("no prepared statement"))
  }

  test("an open transaction in one session does not refuse CHECKPOINT in another") {
    val (a, b) = twoSessions()
    val (_, catA) = regionTable()
    val (_, catB) = regionTable()
    DuckDml.exec(a, catA, "BEGIN")
    try assert(DuckDml.exec(b, catB, "CHECKPOINT re").startsWith("checkpoint"))
    finally DuckDml.exec(a, catA, "ROLLBACK")
  }

  test("ROLLBACK in one session leaves another session's committed UPDATE in place") {
    val (a, b) = twoSessions()
    val (rootA, catA) = regionTable()
    val (rootB, catB) = regionTable()
    val before = names(rootA)
    DuckDml.exec(a, catA, "BEGIN")
    DuckDml.exec(a, catA, "UPDATE re SET r_name = 'A' WHERE r_regionkey = 0")
    DuckDml.exec(b, catB, "UPDATE re SET r_name = 'B' WHERE r_regionkey = 0")
    DuckDml.exec(a, catA, "ROLLBACK")
    assert(names(rootA) === before, "A's own UPDATE is rolled back")
    assert(names(rootB).contains("B"), "B's committed UPDATE survives A's ROLLBACK")
  }

  test("concurrent sessions defining the same macro name each expand their own body") {
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val threads = Seq(100, 200).map { k =>
      new Thread(() => {
        val s = spark.newSession()
        results.put(k, (1 to 3).map { round =>
          DuckDml.exec(s, Map.empty, s"CREATE OR REPLACE MACRO ss_f(x) AS x + $k + $round")
          // both sessions have defined ss_f before either expands it
          barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          val v = DuckDialect.run(s, sf(), "SELECT ss_f(0) AS v").head().getInt(0)
          barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
          v
        })
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000L))
    assert(results.get(100) === Seq(101, 102, 103))
    assert(results.get(200) === Seq(201, 202, 203))
  }
}
