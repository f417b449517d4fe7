package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's JOB (Join Order Benchmark / IMDB) corpus — the
  * PAPER'S OWN headline workload — executed VERBATIM over a synthetic
  * IMDB-schema corpus.
  *
  * The reference drives JOB through the 113 .benchmark files under
  * `benchmark/imdb` (its q19d is BASELINE.md's headline number) and ships
  * the full query texts (`benchmark/imdb_plan_cost/queries/01a.sql ..
  * 33c.sql`) plus the 21-table schema
  * (`benchmark/imdb_plan_cost/init/schema.sql`). The real IMDB parquet,
  * however, is fetched from a GitHub release over https
  * (`benchmark/imdb/init/load.sql`) — unreachable in this sandbox
  * (probed this round: DNS-blocked), so the shipped real-data answers
  * (`benchmark/imdb/answers`) cannot be reproduced here.
  *
  * What IS provable offline is corpus-level SQL parity, the same
  * contract as [[TpchVerbatim]]/[[TpcdsVerbatim]]: run each verbatim
  * text unmodified through [[DuckDialect.translate]] → `spark.sql` over
  * a deterministic synthetic corpus with the reference's EXACT schema
  * (staged by `scripts/stage_imdb.py`, coverage-dense so the deep
  * conjunctive join chains have non-empty support — all 113 queries
  * return fully non-NULL single-row results), and oracle the identical
  * raw text against DuckDB over the identical parquet files. Every JOB
  * output column is explicitly aliased (`MIN(...) AS x`), so no
  * positional rename is needed.
  *
  * Unlike the TPC-H and TPC-DS texts, the 113 JOB texts are not in the
  * repository and no installed package ships them. Where they are absent
  * the corpus is [[unavailable]]: it registers no entries and no oracles,
  * and the registry reports it instead of failing as a whole.
  *
  * At 100 TB: JOB is the no-broadcast-escape-hatch join regime the
  * `job_*`/`ScaleJoins` analogs plan-pin — dimension tables
  * (info_type, company_type, ...) broadcast, the fact chain
  * (cast_info ⋈ movie_info ⋈ movie_keyword ⋈ ...) shuffles on id
  * keys, and AQE re-plans the deep trees from runtime cardinalities
  * (the paper's core subject). This module's job is SQL-surface parity
  * over the reference's own query texts.
  */
object JobVerbatim {

  val tables: Seq[String] = Seq(
    "aka_name", "aka_title", "cast_info", "char_name", "comp_cast_type",
    "company_name", "company_type", "complete_cast", "info_type",
    "keyword", "kind_type", "link_type", "movie_companies", "movie_info",
    "movie_info_idx", "movie_keyword", "movie_link", "name",
    "person_info", "role_type", "title")

  /** Root of the staged synthetic corpus (committed to the repo). */
  def fixtureRoot: String =
    sys.env.get("SPARK_GRAFT_IMDB_FIXTURES").getOrElse {
      val local = new java.io.File("fixtures/imdb")
      if (local.isDirectory) local.getAbsolutePath
      else "/root/repo/fixtures/imdb"
    }

  /** Directory holding the reference's verbatim query texts. */
  def queriesDir: String =
    sys.env.get("SPARK_GRAFT_IMDB_QUERIES").getOrElse {
      val ref = new java.io.File(
        "/root/reference/benchmark/imdb_plan_cost/queries")
      if (ref.isDirectory) ref.getAbsolutePath
      else throw new IllegalStateException(
        "reference JOB query dir not found — set SPARK_GRAFT_IMDB_QUERIES")
    }

  /** The 113 query ids (01a..33c), from the reference's own listing. */
  lazy val queryIds: Seq[String] = {
    val d = new java.io.File(queriesDir)
    d.listFiles.map(_.getName).filter(_.endsWith(".sql"))
      .map(_.stripSuffix(".sql")).sorted.toSeq
  }

  def queryText(id: String): String = {
    val f = java.nio.file.Paths.get(queriesDir, s"$id.sql")
    val raw = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    raw.trim.stripSuffix(";")
  }

  /** Run verbatim query `id` over the staged corpus. The corpus has a
    * single scale (the driver's testdata dir is ignored — JOB has no
    * dbgen-style scale knob; bench-time inflation goes through
    * GRAFT_IMDB_ROOT + SPARK_GRAFT_IMDB_FIXTURES instead). */
  def run(spark: SparkSession, id: String): DataFrame = {
    tables.foreach(t =>
      graft.Tables.registerView(spark, t, graft.Tables.t(spark, fixtureRoot, t)))
    spark.sql(DuckDialect.translate(queryText(id)))
  }

  /** Oracle: the verbatim text with the 21 tables bound to the staged
    * parquet via a WITH prefix (no JOB text starts with WITH). */
  def oracleText(id: String): String = {
    val binds = tables.map(t =>
      s"$t AS (SELECT * FROM read_parquet('$fixtureRoot/$t.parquet'))")
    s"WITH ${binds.mkString(", ")} ${queryText(id)}"
  }

  /** Why the corpus cannot run here: the query texts are not part of
    * the repository, so without a reference checkout (or
    * SPARK_GRAFT_IMDB_QUERIES) [[queriesDir]] throws, and its message is
    * the reason. [[queries]] and [[oracle]] are then empty, and
    * [[graft.SparkEntry.unavailable]] reports the corpus; [[queryIds]],
    * [[queryText]] and [[queriesDir]] keep throwing for direct callers. */
  lazy val unavailable: Option[String] =
    try { queriesDir; None }
    catch { case e: IllegalStateException => Some(e.getMessage) }

  /** Lazy: listing the query dir must not be part of initializing this
    * object, which [[oracleOf]] does for any entry name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    if (unavailable.isDefined) Map.empty
    else queryIds.map(id =>
      s"imdb_q$id" -> ((s: SparkSession, _: String) => run(s, id))
    ).toMap

  def oracle: Map[String, String] =
    if (unavailable.isDefined) Map.empty
    else queryIds.map(id => s"imdb_q$id" -> oracleText(id)).toMap

  /** One entry's oracle: lists the query dir only for an `imdb_q` name. */
  def oracleOf(name: String): Option[String] =
    Some(name).filter(n => n.startsWith("imdb_q") && unavailable.isEmpty)
      .map(_.stripPrefix("imdb_q")).filter(queryIds.contains).map(oracleText)
}
