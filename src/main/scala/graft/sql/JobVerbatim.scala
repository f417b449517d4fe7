package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's JOB (Join Order Benchmark / IMDB) corpus — the
  * PAPER'S OWN headline workload — executed VERBATIM (see
  * [[VerbatimCorpus]]) over a synthetic IMDB-schema corpus.
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
  * text unmodified over a deterministic synthetic corpus, of one scale,
  * with the reference's EXACT schema
  * (staged by `scripts/stage_imdb.py`, coverage-dense so the deep
  * conjunctive join chains have non-empty support — all 113 queries
  * return fully non-NULL single-row results), and oracle the identical
  * raw text against DuckDB over the identical parquet files. Every JOB
  * output column is explicitly aliased (`MIN(...) AS x`) and no text
  * starts with WITH, so neither result nor oracle needs shaping.
  *
  * Unlike the TPC-H and TPC-DS texts, the 113 JOB texts are not in the
  * repository and no installed package ships them. Where they are absent
  * (no reference checkout and no `SPARK_GRAFT_IMDB_QUERIES`) the corpus
  * is [[unavailable]]: it registers no entries and no oracles, and the
  * registry reports it instead of failing as a whole; [[queryIds]],
  * [[queryText]] and [[queriesDir]] keep throwing for direct callers.
  *
  * At 100 TB: JOB is the no-broadcast-escape-hatch join regime the
  * `job_*`/`ScaleJoins` analogs plan-pin — dimension tables
  * (info_type, company_type, ...) broadcast, the fact chain
  * (cast_info ⋈ movie_info ⋈ movie_keyword ⋈ ...) shuffles on id
  * keys, and AQE re-plans the deep trees from runtime cardinalities
  * (the paper's core subject). This module's job is SQL-surface parity
  * over the reference's own query texts.
  */
object JobVerbatim extends VerbatimCorpus("imdb", "imdb_q", Seq(
    "aka_name", "aka_title", "cast_info", "char_name", "comp_cast_type",
    "company_name", "company_type", "complete_cast", "info_type",
    "keyword", "kind_type", "link_type", "movie_companies", "movie_info",
    "movie_info_idx", "movie_keyword", "movie_link", "name",
    "person_info", "role_type", "title"), filePrefix = "", scaled = false) {

  /** Directory holding the reference's verbatim query texts. */
  override def queriesDir: String =
    sys.env.get("SPARK_GRAFT_IMDB_QUERIES").getOrElse {
      val ref = new java.io.File(
        "/root/reference/benchmark/imdb_plan_cost/queries")
      if (ref.isDirectory) ref.getAbsolutePath
      else throw new IllegalStateException(
        "reference JOB query dir not found — set SPARK_GRAFT_IMDB_QUERIES")
    }

  /** Run verbatim query `id`: the corpus has one scale, so no testdata dir
    * (bench-time inflation goes through `scripts/stage_imdb.py <scale>`
    * and SPARK_GRAFT_IMDB_FIXTURES instead). */
  def run(spark: SparkSession, id: String): DataFrame = run(spark, "", id)
}
