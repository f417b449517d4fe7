package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's REAL TPC-H benchmark corpus, executed VERBATIM.
  *
  * The reference ships the genuine dbgen + the 22 official query texts
  * (reference `extension/tpch/dbgen/queries/q01.sql..q22.sql`, driven by
  * the `.benchmark` files under `benchmark/tpch/sf1`) against the full
  * 8-table schema —
  * including `partsupp`, which the driver's TPC-H-ish testdata omits.
  * The fixture-schema analogs in [[graft.operators.TpchQueries]] cover
  * all 22 planner shapes; THIS module closes the remaining parity gap by
  * running the reference's own SQL strings, unmodified, through
  * [[DuckDialect.translate]] → `spark.sql` over a real dbgen corpus
  * (staged by `scripts/stage_tpch.py`: DuckDB's offline
  * `CALL dbgen(sf=...)` → parquet, DECIMAL money columns exported as
  * DOUBLE to match the driver-testdata convention so both engines do
  * identical double arithmetic).
  *
  * The texts are committed as `fixtures/tpch/queries/q01.sql..q22.sql`
  * (with a `SHA256SUMS`), written byte for byte by `scripts/stage_tpch.py`
  * from DuckDB 1.0.0's `SELECT query FROM tpch_queries()`: its tpch
  * extension is built from the same `extension/tpch/dbgen/queries`
  * files. All 22 hash to exactly `perfbench/tpch/SHA256SUMS`, and
  * wherever a reference checkout sits next to the repository
  * `QueryTextsSpec` compares them with its files.
  *
  * The oracle is the SAME verbatim text, prefixed with a WITH clause
  * binding the 8 table names to `read_parquet` over the staged fixture
  * files — CTE names shadow any same-named fixture views the gate
  * registers, so the oracle provably reads the TPC-H corpus.
  *
  * Scale plumbing: entries receive the driver's testdata dir; the TPC-H
  * fixture scale follows its basename (sf0.1 → fixtures/tpch/sf0.1,
  * anything else → sf0.01). At 100 TB the plans are the ones Catalyst
  * picks for the analogs — broadcast dims, shuffled fact joins, partial
  * aggs — verified by the analogs' plan pins; this module's job is
  * SQL-surface parity, not a second physical design.
  */
object TpchVerbatim {

  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "partsupp", "orders", "lineitem")

  /** Root of the staged dbgen fixtures (committed to the repo). */
  def fixtureRoot: String =
    sys.env.get("SPARK_GRAFT_TPCH_FIXTURES").getOrElse {
      val local = new java.io.File("fixtures/tpch")
      if (local.isDirectory) local.getAbsolutePath
      else "/root/repo/fixtures/tpch"
    }

  /** Directory holding the 22 verbatim query texts: the committed
    * `queries` dir under [[fixtureRoot]] unless SPARK_GRAFT_TPCH_QUERIES
    * names another. */
  def queriesDir: String =
    sys.env.getOrElse("SPARK_GRAFT_TPCH_QUERIES", s"$fixtureRoot/queries")

  /** Map the driver's testdata dir to the matching fixture scale.
    * SPARK_GRAFT_TPCH_FORCE_SCALE pins a specific staged scale (e.g. a
    * tmpfs-staged sf1 for bench sweeps). */
  private[sql] def scaleFor(testdataDir: String): String =
    sys.env.getOrElse("SPARK_GRAFT_TPCH_FORCE_SCALE",
      if (new java.io.File(testdataDir).getName == "sf0.1") "sf0.1" else "sf0.01")

  /** Single scale source for the ORACLE side (r16 advice: the engine
    * scale derived from the testdata dir while the oracle scale came
    * from an independent env default — two knobs that could silently
    * diverge). Verify pins the dir-derived scale here before dumping
    * oracle SQL; SPARK_GRAFT_TPCH_ORACLE_SCALE stays an explicit
    * override for hand-driven cross-scale checks. */
  @volatile private var pinnedOracleScale: Option[String] = None
  def pinOracleScale(testdataDir: String): Unit =
    pinnedOracleScale = Some(scaleFor(testdataDir))

  def queryText(n: Int): String = {
    val f = java.nio.file.Paths.get(queriesDir, f"q$n%02d.sql")
    val raw = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    raw.trim.stripSuffix(";")
  }

  /** Run verbatim query `n` over the staged corpus for `dir`'s scale. */
  def run(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val fixDir = s"$fixtureRoot/${scaleFor(dir)}"
    tables.foreach(t =>
      graft.Tables.registerView(spark, t, graft.Tables.t(spark, fixDir, t)))
    spark.sql(DuckDialect.translate(queryText(n)))
  }

  /** Oracle: the verbatim text with the 8 tables bound to the sf0.01
    * fixture parquet via a WITH prefix (the gate runs oracles at sf0.01;
    * local sf0.1 checks pass SPARK_GRAFT_TPCH_ORACLE_SCALE=sf0.1 to
    * Verify). CTEs shadow the gate's same-named testdata views. */
  def oracleText(n: Int): String = {
    val scale = sys.env.getOrElse("SPARK_GRAFT_TPCH_ORACLE_SCALE",
      pinnedOracleScale.getOrElse("sf0.01"))
    val binds = tables.map(t =>
      s"$t AS (SELECT * FROM read_parquet('$fixtureRoot/$scale/$t.parquet'))")
    val bound = s"WITH ${binds.mkString(", ")} ${queryText(n)}"
    // Comparison-boundary type shim, NOT a query change: q12's
    // sum(CASE…1…0 END) is HUGEINT in DuckDB (no int64-overflow sums)
    // and BIGINT in Spark — semantically the same integer; pandas turns
    // HUGEINT into float64, which the gate correctly hard-fails as a
    // dtype mismatch. Re-cast to the common integer type outside the
    // verbatim text, mirroring check.py's own guidance.
    if (n == 12)
      "SELECT l_shipmode, CAST(high_line_count AS BIGINT) AS high_line_count, " +
        s"CAST(low_line_count AS BIGINT) AS low_line_count FROM ($bound) graft_q12"
    else bound
  }

  private val byName: Map[String, Int] = (1 to 22).map(n => f"tpch_q$n%02d" -> n).toMap

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (k, n) => k -> ((s: SparkSession, dir: String) => run(s, dir, n)) }

  def oracle: Map[String, String] = byName.map { case (k, n) => k -> oracleText(n) }

  /** One entry's oracle: reads that query's text only. */
  def oracleOf(name: String): Option[String] = byName.get(name).map(oracleText)
}
