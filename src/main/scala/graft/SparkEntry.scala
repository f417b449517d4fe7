package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every entry in `queries` is
  * one implemented operator/capability from SURVEY.md §2; entries with a
  * DuckDB-equivalent SQL also appear in `oracleSql` (the correctness gate).
  *
  * A corpus whose query texts are absent (JOB without its query dir, see
  * [[sql.JobVerbatim]]) contributes no entries and is listed in
  * [[unavailable]] instead: the rest of the registry still loads, and
  * Verify and `scripts/check.py` report the corpus as skipped, never as
  * passed.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.CoreQueries.q3Shipping(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.CoreQueries.queries ++
      operators.TpchQueries.queries ++
      operators.TpcdsShapes.queries ++
      operators.OlapSuites.queries ++
      operators.GraphShapes.queries ++
      operators.BizAnalytics.queries ++
      operators.Joins.queries ++
      operators.ScaleJoins.queries ++
      operators.Aggregates.queries ++
      operators.Windows.queries ++
      operators.HolisticWindows.queries ++
      operators.SetOps.queries ++
      operators.Shaping.queries ++
      operators.EdgeQueries.queries ++
      sql.DuckSqlQueries.queries ++
      sql.TpchVerbatim.queries ++
      sql.TpcdsVerbatim.queries ++
      sql.JobVerbatim.queries ++
      functions.FunctionQueries.queries ++
      functions.GraftMacros.queries ++
      pipeline.Dedup.queries ++
      pipeline.Similarity.queries ++
      pipeline.Clustering.queries ++
      pipeline.TextAnalysis.queries ++
      pipeline.Mixture.queries ++
      pipeline.Bpe.queries ++
      pipeline.Chunking.queries ++
      pipeline.Multimodal.queries ++
      sources.DmlQueries.queries ++
      compaction.CompactionQueries.queries

  /** Corpora that register no entries because their query texts are
    * absent, each with the reason. */
  def unavailable: Map[String, String] =
    sql.JobVerbatim.unavailable.map("imdb_q*" -> _).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    builtOracles ++ sql.TpchVerbatim.oracle ++ sql.TpcdsVerbatim.oracle ++ sql.JobVerbatim.oracle

  /** The oracles of `names`. The verbatim suites read each oracle's query
    * text from disk, so only the names asked for are read: a subset
    * without `imdb_q*` entries needs no JOB query texts. */
  def oraclesFor(names: Set[String]): Map[String, String] =
    builtOracles.filter { case (k, _) => names(k) } ++ names.flatMap(n =>
      sql.TpchVerbatim.oracleOf(n).orElse(sql.TpcdsVerbatim.oracleOf(n))
        .orElse(sql.JobVerbatim.oracleOf(n)).map(n -> _))

  /** Every oracle but the verbatim suites'. */
  private def builtOracles: Map[String, String] =
    operators.CoreQueries.oracle ++
      operators.TpchQueries.oracle ++
      operators.TpcdsShapes.oracle ++
      operators.OlapSuites.oracle ++
      operators.GraphShapes.oracle ++
      operators.BizAnalytics.oracle ++
      operators.Joins.oracle ++
      operators.ScaleJoins.oracle ++
      operators.Aggregates.oracle ++
      operators.Windows.oracle ++
      operators.HolisticWindows.oracle ++
      operators.SetOps.oracle ++
      operators.Shaping.oracle ++
      operators.EdgeQueries.oracle ++
      sql.DuckSqlQueries.oracle ++
      functions.FunctionQueries.oracle ++
      functions.GraftMacros.oracle ++
      pipeline.Dedup.oracle ++
      pipeline.Similarity.oracle ++
      pipeline.Clustering.oracle ++
      pipeline.TextAnalysis.oracle ++
      pipeline.Mixture.oracle ++
      pipeline.Bpe.oracle ++
      pipeline.Chunking.oracle ++
      pipeline.Multimodal.oracle ++
      sources.DmlQueries.oracle ++
      compaction.CompactionQueries.oracle
}
