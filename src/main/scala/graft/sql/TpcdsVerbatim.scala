package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's REAL TPC-DS benchmark corpus, executed VERBATIM (see
  * [[VerbatimCorpus]]).
  *
  * The reference ships the genuine dsdgen + all 99 official query texts
  * (reference `extension/tpcds/dsdgen/queries/01.sql..99.sql`, driven by
  * the `.benchmark` files under `benchmark/tpcds/sf1` and validated
  * against `dsdgen/answers/`) over the full 24-table snowflake schema.
  * The 50 `ds_*` planner-shape analogs cover the plan shapes; THIS
  * module (round 17) closes the corpus-parity gap the same way
  * [[TpchVerbatim]] did for TPC-H in round 16: the reference's own SQL
  * strings, unmodified, run through [[DuckDialect.translate]] →
  * `spark.sql` over a real offline-dsdgen corpus (staged by
  * `scripts/stage_tpcds.py`: DuckDB's `CALL dsdgen(sf=...)` → parquet,
  * DECIMAL money columns exported as DOUBLE so both engines do
  * identical double arithmetic).
  *
  * The texts are committed as `fixtures/tpcds/queries/01.sql..99.sql`
  * (with a `SHA256SUMS`), written byte for byte by `scripts/stage_tpcds.py`
  * from DuckDB 1.0.0's `SELECT query FROM tpcds_queries()`: its tpcds
  * extension is built from the same `extension/tpcds/dsdgen/queries` files. Run by
  * DuckDB over `fixtures/tpcds/sf0.01`, all 99 reproduce
  * `fixtures/tpcds/meta.json` byte for byte — arity, DuckDB types and
  * row counts, which the staging script had probed from the reference's
  * own files — and 32 of them start with WITH. Wherever a reference
  * checkout sits next to the repository, `QueryTextsSpec` compares them
  * with its files.
  *
  * TPC-DS differs from TPC-H at the comparison boundary in one
  * mechanical way: many query outputs are UNALIASED expressions
  * (`round(sun_sales1/sun_sales2, 2)`, bare `count(*)`, …) whose
  * auto-generated names differ per engine, and the driver's comparator
  * keys on column names. Both sides therefore rename POSITIONALLY to
  * `c0..cN`: the engine via `df.toDF`, the oracle via a derived column
  * list `FROM (…) AS graft_t(c0, …)`. The arity and the DuckDB result
  * types come from `fixtures/tpcds/meta.json`, probed at staging time;
  * HUGEINT columns (DuckDB's `sum(INTEGER)`) are cast to BIGINT in the
  * oracle — the same integer, and the exact shim [[TpchVerbatim]]
  * documents for its q12. Neither rename nor cast touches the verbatim
  * query text itself.
  *
  * At 100 TB the physical plans are the ones Catalyst picks with AQE:
  * date_dim/item/store/… dims broadcast, the seven fact tables
  * (store_sales/_returns, catalog_sales/_returns, web_sales/_returns,
  * inventory) shuffle on their join keys, partial aggregation
  * map-side — the same posture the `ds_*` analogs plan-pin. This
  * module's job is SQL-surface parity over the reference's own corpus.
  */
object TpcdsVerbatim extends VerbatimCorpus("tpcds", "tpcds_q", Seq(
    "call_center", "catalog_page", "catalog_returns", "catalog_sales",
    "customer", "customer_address", "customer_demographics", "date_dim",
    "household_demographics", "income_band", "inventory", "item",
    "promotion", "reason", "ship_mode", "store", "store_returns",
    "store_sales", "time_dim", "warehouse", "web_page", "web_returns",
    "web_sales", "web_site"), filePrefix = "", scaled = true) {

  override lazy val queryIds: Seq[String] = (1 to 99).map(n => f"$n%02d")

  def queryText(n: Int): String = queryText(f"$n%02d")

  def run(spark: SparkSession, dir: String, n: Int): DataFrame = run(spark, dir, f"$n%02d")

  def oracleText(n: Int): String = oracleText(f"$n%02d")

  /** Staging-time probe of each query's result arity + DuckDB types
    * (scripts/stage_tpcds.py → fixtures/tpcds/meta.json). */
  private lazy val meta: Map[String, (Int, Vector[String])] = {
    import scala.jdk.CollectionConverters._
    val root = graft.Json.read(java.nio.file.Files.readString(
      java.nio.file.Paths.get(fixtureRoot, "meta.json")))
    root.fieldNames.asScala.map { id =>
      val e = root.get(id)
      require(e.has("ncols") && e.has("types"), s"meta.json entry $id lacks ncols or types")
      val ncols = e.get("ncols").asInt
      val types = e.get("types").elements.asScala.map(_.asText).toVector
      require(types.length == ncols,
        s"meta.json entry $id: ${types.length} types vs ncols $ncols")
      id -> (ncols, types)
    }.toMap
  }

  private def posNames(ncols: Int): Seq[String] =
    (0 until ncols).map(i => s"c$i")

  /** Comparison-boundary shims, NOT query changes (the TpchVerbatim q12
    * precedent): query → (column index → round scale). Both engines'
    * outputs are put on ONE grid — `CAST(ROUND(x, k) AS DOUBLE)` on the
    * oracle side and `round(col, k).cast(double)` on the Spark side — for
    * the columns where the engines' native result types diverge:
    *
    *  - q18 (`avg(CAST(x AS DECIMAL(12,2)))` ×7): Spark keeps avg-of-
    *    decimal IN decimal (decimal(16,6), half-up at the 6th place);
    *    DuckDB returns full-precision DOUBLE. The r17 shim cast the
    *    oracle's double to DECIMAL(16,6) — same grid, but the driver's
    *    hash still failed it (rounding-mode/version seam in the
    *    double→decimal cast). Rounding BOTH sides to scale 3 as DOUBLE
    *    removes the cast entirely; k=3 was chosen by measuring, on both
    *    staged scales, each output value's distance to the nearest
    *    half-grid tie: ≥4.5e-5 at k=3 (vs the ≤5e-7 cross-engine
    *    quantization error, a 90× margin) while k=1, 2 and 4 all have
    *    values EXACTLY on a tie (e.g. 1955.725 at sf0.1).
    *  - q61: `decimal(15,4)/decimal(15,4)*100` stays decimal(38,19) in
    *    Spark but DuckDB's decimal division is carried out in DOUBLE;
    *    the two sums are also order-sensitive double sums (observed one
    *    ulp apart at sf0.1). All 3 columns → scale 2 (true sums lie ON
    *    the cents grid; the ratio's tie margin is ≥0.003).
    *  - q78's `round(qty_ratio, 2)`: decimal(?,2) in Spark vs DOUBLE in
    *    DuckDB — "4.00" vs "4.0" under the driver's exact hash. Scale 2
    *    is the query's own grid (no value change, type parity only). */
  private val roundShims: Map[String, Map[Int, Int]] = Map(
    "18" -> (4 to 10).map(_ -> 3).toMap,
    "61" -> (0 to 2).map(_ -> 2).toMap,
    "78" -> Map(3 -> 2))

  /** The engine's result renamed positionally to c0..cN (see scaladoc),
    * with the round-grid shims applied. */
  override protected def shapeResult(id: String, df: DataFrame): DataFrame = {
    val renamed = df.toDF(posNames(df.columns.length): _*)
    roundShims.get(id) match {
      case None => renamed
      case Some(shims) =>
        import org.apache.spark.sql.functions.{col, round}
        shims.foldLeft(renamed) { case (acc, (i, k)) =>
          acc.withColumn(s"c$i", round(col(s"c$i"), k).cast("double"))
        }
    }
  }

  /** The bound oracle wrapped in a positional rename + the round-grid
    * and HUGEINT→BIGINT comparison casts. */
  override protected def shapeOracle(id: String, bound: String): String = {
    val (ncols, types) = meta.getOrElse(id, throw new IllegalStateException(
      s"fixtures/tpcds/meta.json has no entry for query ${id.toInt} — re-run " +
        "scripts/stage_tpcds.py"))
    val sel = (0 until ncols).map { i =>
      roundShims.get(id).flatMap(_.get(i)) match {
        case Some(k) => s"CAST(ROUND(c$i, $k) AS DOUBLE) AS c$i"
        case None if types(i) == "HUGEINT" => s"CAST(c$i AS BIGINT) AS c$i"
        case None => s"c$i"
      }
    }.mkString(", ")
    s"SELECT $sel FROM ($bound) AS graft_t(${posNames(ncols).mkString(", ")})"
  }
}
