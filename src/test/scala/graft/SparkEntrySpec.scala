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
    val all = Seq(
      operators.CoreQueries.queries, operators.TpchQueries.queries,
      operators.TpcdsShapes.queries, operators.OlapSuites.queries,
      operators.GraphShapes.queries, operators.BizAnalytics.queries,
      operators.Joins.queries, operators.ScaleJoins.queries,
      operators.Aggregates.queries,
      operators.Windows.queries, operators.HolisticWindows.queries,
      operators.SetOps.queries,
      operators.Shaping.queries, operators.EdgeQueries.queries,
      sql.DuckSqlQueries.queries,
      sql.TpchVerbatim.queries,
      sql.TpcdsVerbatim.queries,
      sql.JobVerbatim.queries,
      functions.FunctionQueries.queries,
      functions.GraftMacros.queries,
      pipeline.Dedup.queries, pipeline.Similarity.queries,
      pipeline.Clustering.queries,
      pipeline.TextAnalysis.queries, pipeline.Mixture.queries,
      pipeline.Bpe.queries, pipeline.Chunking.queries,
      pipeline.Multimodal.queries,
      sources.DmlQueries.queries,
      compaction.CompactionQueries.queries)
    val total = all.map(_.size).sum
    assert(total == SparkEntry.queries.size,
      s"key collision: $total module entries vs ${SparkEntry.queries.size} merged")
  }

  test("dml_* oracle texts resolve without the reference query dirs") {
    val dml = sources.DmlQueries.queries.keySet
    assert(SparkEntry.oraclesFor(dml) === sources.DmlQueries.oracle)
    assert(SparkEntry.oraclesFor(dml).size === 15)
  }

  test("an absent corpus registers no entries and is listed unavailable with its reason") {
    val imdb = (SparkEntry.queries.keySet ++ SparkEntry.oracleSql.keySet)
      .filter(_.startsWith("imdb_q"))
    sql.JobVerbatim.unavailable match {
      case Some(why) =>
        assert(why.contains("JOB query dir not found"))
        assert(SparkEntry.unavailable === Map("imdb_q*" -> why))
        assert(imdb.isEmpty)
        assert(SparkEntry.oraclesFor(Set("imdb_q01a")).isEmpty)
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
