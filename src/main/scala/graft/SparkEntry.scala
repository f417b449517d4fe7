package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A module's share of the entry registry: its entries and, for those
  * with a DuckDB-equivalent SQL, their oracles. */
trait EntryModule {
  def queries: Map[String, SparkEntry.Entry]

  /** Oracle SQL per entry name, at the gate scale. */
  def oracle: Map[String, String]

  /** One entry's oracle for the entries' testdata dir `dir`. */
  def oracleOf(name: String, dir: String): Option[String] = oracle.get(name)

  /** Entry patterns this module cannot register here, each with the reason. */
  def unavailable: Map[String, String] = Map.empty
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The registry of every entry, built from [[modules]], the one list of
  * the modules that register entries. Every entry in `queries` is one
  * implemented operator/capability from SURVEY.md §2; entries with a
  * DuckDB-equivalent SQL also have an oracle (the correctness gate).
  * Building the registry throws on a name that two modules register.
  *
  * A corpus whose query texts are absent (JOB without its query dir, see
  * [[sql.JobVerbatim]]) contributes no entries and is listed in
  * [[unavailable]] instead: the rest of the registry still loads, and
  * Verify and `scripts/check.py` report the corpus as skipped, never as
  * passed.
  */
object SparkEntry {

  type Entry = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.CoreQueries.q3Shipping(spark, "/root/testdata/sf0.001")

  val modules: Seq[EntryModule] = Seq(
    operators.CoreQueries, operators.TpchQueries, operators.TpcdsShapes,
    operators.OlapSuites, operators.GraphShapes, operators.BizAnalytics,
    operators.Joins, operators.ScaleJoins, operators.Aggregates,
    operators.Windows, operators.HolisticWindows, operators.SetOps,
    operators.Shaping, operators.EdgeQueries,
    sql.DuckSqlQueries, sql.TpchVerbatim, sql.TpcdsVerbatim, sql.JobVerbatim,
    functions.FunctionQueries, functions.GraftMacros,
    pipeline.Dedup, pipeline.Similarity, pipeline.Clustering,
    pipeline.TextAnalysis, pipeline.Mixture, pipeline.Bpe, pipeline.Chunking,
    pipeline.Multimodal,
    sources.DmlQueries,
    compaction.CompactionQueries)

  /** Entry name → the module that registers it. */
  private[graft] def index(mods: Seq[EntryModule]): Map[String, EntryModule] =
    mods.foldLeft(Map.empty[String, EntryModule]) { (acc, m) =>
      m.queries.keys.foldLeft(acc) { (a, name) =>
        require(!a.contains(name), s"entry $name is registered by two modules")
        a.updated(name, m)
      }
    }

  private lazy val moduleOf: Map[String, EntryModule] = index(modules)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Entry] =
    moduleOf.map { case (name, m) => name -> m.queries(name) }

  /** Corpora that register no entries because their query texts are
    * absent, each with the reason. */
  def unavailable: Map[String, String] = modules.flatMap(_.unavailable).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, at the gate scale. Omit for non-SQL-
    * expressible ops. */
  def oracleSql: Map[String, String] = modules.flatMap(_.oracle).toMap

  private val built = scala.collection.concurrent.TrieMap.empty[(String, String), Option[String]]

  /** The oracles of `names` for the entries' testdata dir `dir`. Each is
    * built once per name and dir: the verbatim suites read an oracle's
    * query text from disk, and Verify asks again after every entry. */
  def oraclesFor(names: Set[String], dir: String): Map[String, String] =
    names.flatMap(n => built.getOrElseUpdate((n, dir),
      moduleOf.get(n).flatMap(_.oracleOf(n, dir))).map(n -> _)).toMap
}
