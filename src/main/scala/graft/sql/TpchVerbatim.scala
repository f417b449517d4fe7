package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's REAL TPC-H benchmark corpus, executed VERBATIM (see
  * [[VerbatimCorpus]]).
  *
  * The reference ships the genuine dbgen + the 22 official query texts
  * (reference `extension/tpch/dbgen/queries/q01.sql..q22.sql`, driven by
  * the `.benchmark` files under `benchmark/tpch/sf1`) against the full
  * 8-table schema — including `partsupp`, which the gate's TPC-H-ish
  * testdata omits. The fixture-schema analogs in
  * [[graft.operators.TpchQueries]] cover all 22 planner shapes; THIS
  * module runs the reference's own SQL strings over a real dbgen corpus
  * (staged by `scripts/stage_tpch.py`: DuckDB's offline
  * `CALL dbgen(sf=...)` → parquet, DECIMAL money columns exported as
  * DOUBLE to match the gate-testdata convention so both engines do
  * identical double arithmetic), one dir per scale.
  *
  * The texts are committed as `fixtures/tpch/queries/q01.sql..q22.sql`
  * (with a `SHA256SUMS`), written byte for byte by `scripts/stage_tpch.py`
  * from DuckDB 1.0.0's `SELECT query FROM tpch_queries()`: its tpch
  * extension is built from the same `extension/tpch/dbgen/queries`
  * files. All 22 hash to exactly `perfbench/tpch/SHA256SUMS`, and
  * wherever a reference checkout sits next to the repository
  * `QueryTextsSpec` compares them with its files.
  *
  * At 100 TB the plans are the ones Catalyst picks for the analogs —
  * broadcast dims, shuffled fact joins, partial aggs — verified by the
  * analogs' plan pins; this module's job is SQL-surface parity, not a
  * second physical design.
  */
object TpchVerbatim extends VerbatimCorpus("tpch", "tpch_q", Seq(
    "region", "nation", "customer", "supplier", "part",
    "partsupp", "orders", "lineitem"), filePrefix = "q", scaled = true) {

  override lazy val queryIds: Seq[String] = (1 to 22).map(n => f"$n%02d")

  def queryText(n: Int): String = queryText(f"$n%02d")

  def run(spark: SparkSession, dir: String, n: Int): DataFrame = run(spark, dir, f"$n%02d")

  def oracleText(n: Int): String = oracleText(f"$n%02d")

  /** Comparison-boundary type shim, NOT a query change: q12's
    * sum(CASE…1…0 END) is HUGEINT in DuckDB (no int64-overflow sums)
    * and BIGINT in Spark — semantically the same integer; pandas turns
    * HUGEINT into float64, which the gate correctly hard-fails as a
    * dtype mismatch. Re-cast to the common integer type outside the
    * verbatim text, mirroring check.py's own guidance. */
  override protected def shapeOracle(id: String, bound: String): String =
    if (id == "12")
      "SELECT l_shipmode, CAST(high_line_count AS BIGINT) AS high_line_count, " +
        s"CAST(low_line_count AS BIGINT) AS low_line_count FROM ($bound) graft_q12"
    else bound
}
