package graft

import org.apache.spark.sql.functions._

/** Driver-contract invariants: every oracle key has a query, the flagship
  * entry returns rows, and a sample of queries runs at the smoke scale. */
class SparkEntrySpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("query names are unique across modules (no silent override)") {
    val total = SparkEntry.modules.map(_.queries.size).sum
    assert(total == SparkEntry.queries.size,
      s"key collision: $total module entries vs ${SparkEntry.queries.size} merged")
  }

  test("building the registry throws on a name two modules register, naming it") {
    def module(names: String*): EntryModule = new EntryModule {
      val queries: Map[String, SparkEntry.Entry] =
        names.map(n => n -> ((s: org.apache.spark.sql.SparkSession, _: String) => s.range(1).toDF())).toMap
      val oracle: Map[String, String] = Map.empty
    }
    assert(SparkEntry.index(Seq(module("a", "b"), module("c"))).keySet === Set("a", "b", "c"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.index(Seq(module("a", "dup_entry"), module("dup_entry"))))
    assert(e.getMessage.contains("dup_entry"), e.getMessage)
  }

  test("dml_* oracle texts resolve without the reference query dirs") {
    val dml = sources.DmlQueries.queries.keySet
    assert(SparkEntry.oraclesFor(dml, sf()) === sources.DmlQueries.oracle)
    assert(SparkEntry.oraclesFor(dml, sf()).size === 15)
  }

  test("an absent corpus registers no entries and is listed unavailable with its reason") {
    val imdb = (SparkEntry.queries.keySet ++ SparkEntry.oracleSql.keySet)
      .filter(_.startsWith("imdb_q"))
    sql.JobVerbatim.missing match {
      case Some(why) =>
        assert(why.contains("JOB query dir not found"))
        assert(SparkEntry.unavailable === Map("imdb_q*" -> why))
        assert(imdb.isEmpty)
        assert(SparkEntry.oraclesFor(Set("imdb_q01a"), sf()).isEmpty)
      case None =>
        assert(SparkEntry.unavailable.isEmpty)
        assert(imdb.size === sql.JobVerbatim.queryIds.size)
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("inventory breadth: 300+ queries, 300+ oracle-checked") {
    // round-12 floor — a regression that silently drops a module's
    // registry (a bad merge of the ++ chain) must fail loudly
    assert(SparkEntry.queries.size >= 300, s"only ${SparkEntry.queries.size} queries")
    assert(SparkEntry.oracleSql.size >= 300, s"only ${SparkEntry.oracleSql.size} oracles")
  }
}
