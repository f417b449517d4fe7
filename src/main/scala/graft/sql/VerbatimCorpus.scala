package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One of the reference's benchmark corpora, run VERBATIM: its own query
  * texts, unmodified, through [[DuckDialect.translate]] → `spark.sql` over
  * a staged parquet corpus, with the same text as the DuckDB oracle. This
  * is the Spark side of the reference's `.benchmark` runner, which loads a
  * corpus, runs each query text and compares its result; [[TpchVerbatim]],
  * [[TpcdsVerbatim]] and [[JobVerbatim]] are thin objects over it.
  *
  * Query `id` is the file `queriesDir/<filePrefix><id>.sql` and the entry
  * `<prefix><id>`. The corpus reads its parquet from [[fixtureRoot]]
  * (`SPARK_GRAFT_TPCH_FIXTURES`, `SPARK_GRAFT_TPCDS_FIXTURES`,
  * `SPARK_GRAFT_IMDB_FIXTURES`, else the repository's `fixtures/<corpus>`)
  * and its texts from [[queriesDir]] (`SPARK_GRAFT_TPCH_QUERIES`,
  * `SPARK_GRAFT_TPCDS_QUERIES`, `SPARK_GRAFT_IMDB_QUERIES`, else `queries`
  * under the fixture root).
  *
  * Scale: a `scaled` corpus stages one dir per scale (`sf0.01`, `sf0.1`, …)
  * under its fixture root. Both an entry's run and its oracle take the
  * testdata dir the entry is given, and its basename picks the staged
  * scale of the same name; a dir with no staged twin (the smoke scale
  * `sf0.001`, the edge-case corpora) reads [[DefaultScale]]. An unscaled
  * corpus reads the fixture root itself.
  *
  * The oracle binds every table name to `read_parquet` over the same
  * staged files with a WITH prefix, merged into the query's own WITH list
  * when the text starts with one. CTE names shadow any same-named views
  * the gate registers, so the oracle provably reads this corpus.
  *
  * Two hooks carry what differs between corpora at the comparison
  * boundary, never in the query text: [[shapeResult]] (the engine's
  * result) and [[shapeOracle]] (the bound oracle SQL).
  *
  * A corpus whose [[queriesDir]] throws (JOB without its texts) registers
  * no entries and reports the reason as [[unavailable]]. A corpus whose
  * dir exists but lacks a text throws when that text is read. Nothing
  * touches the disk when the object is initialized.
  */
abstract class VerbatimCorpus(
    val corpus: String,
    val prefix: String,
    val tables: Seq[String],
    filePrefix: String,
    val scaled: Boolean) extends graft.EntryModule {

  def fixtureRoot: String =
    sys.env.getOrElse(s"SPARK_GRAFT_${corpus.toUpperCase}_FIXTURES",
      new java.io.File(s"fixtures/$corpus").getAbsolutePath)

  def queriesDir: String =
    sys.env.getOrElse(s"SPARK_GRAFT_${corpus.toUpperCase}_QUERIES", s"$fixtureRoot/queries")

  /** The query ids: the `.sql` files of [[queriesDir]], sorted. */
  lazy val queryIds: Seq[String] =
    new java.io.File(queriesDir).list.toSeq
      .filter(f => f.startsWith(filePrefix) && f.endsWith(".sql"))
      .map(_.stripPrefix(filePrefix).stripSuffix(".sql")).sorted

  def queryText(id: String): String = {
    val f = java.nio.file.Paths.get(queriesDir, s"$filePrefix$id.sql")
    new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.stripSuffix(";")
  }

  /** The scales staged under [[fixtureRoot]]: its `sf*` dirs, sorted. */
  def stagedScales: Seq[String] =
    Option(new java.io.File(fixtureRoot).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("sf")).map(_.getName).sorted

  /** The staged scale a testdata dir's basename names, else [[DefaultScale]]. */
  private[sql] def scaleFor(testdataDir: String): String = {
    val name = new java.io.File(testdataDir).getName
    if (stagedScales.contains(name)) name else VerbatimCorpus.DefaultScale
  }

  /** The parquet dir that entries given `testdataDir` read. */
  def fixtureDir(testdataDir: String): String =
    if (scaled) s"$fixtureRoot/${scaleFor(testdataDir)}" else fixtureRoot

  /** Comparison-boundary shaping of the engine's result of query `id`. */
  protected def shapeResult(id: String, df: DataFrame): DataFrame = df

  /** Comparison-boundary shaping of query `id`'s bound oracle SQL. */
  protected def shapeOracle(id: String, bound: String): String = bound

  /** Run query `id` over the corpus staged for `testdataDir`. */
  def run(spark: SparkSession, testdataDir: String, id: String): DataFrame = {
    val dir = fixtureDir(testdataDir)
    tables.foreach(t => graft.Tables.registerView(spark, t, graft.Tables.t(spark, dir, t)))
    shapeResult(id, spark.sql(DuckDialect.translate(queryText(id))))
  }

  /** Query `id`'s oracle over the corpus staged for `testdataDir`. */
  def oracleText(id: String, testdataDir: String = VerbatimCorpus.DefaultScale): String = {
    val dir = fixtureDir(testdataDir)
    val binds = tables.map(t =>
      s"$t AS (SELECT * FROM read_parquet('$dir/$t.parquet'))").mkString(", ")
    val text = queryText(id)
    shapeOracle(id,
      if (text.take(4).equalsIgnoreCase("with")) s"WITH $binds, ${text.drop(4).trim}"
      else s"WITH $binds $text")
  }

  /** Why the corpus cannot run here: the message [[queriesDir]] throws. */
  lazy val missing: Option[String] =
    try { queriesDir; None }
    catch { case e: IllegalStateException => Some(e.getMessage) }

  private lazy val idOf: Map[String, String] =
    if (missing.isDefined) Map.empty else queryIds.map(id => s"$prefix$id" -> id).toMap

  lazy val queries: Map[String, graft.SparkEntry.Entry] =
    idOf.map { case (k, id) => k -> ((s: SparkSession, dir: String) => run(s, dir, id)) }

  /** Every oracle at [[DefaultScale]], the gate's. */
  def oracle: Map[String, String] = idOf.map { case (k, id) => k -> oracleText(id) }

  /** One entry's oracle: reads that query's text only. */
  override def oracleOf(name: String, testdataDir: String): Option[String] =
    idOf.get(name).map(oracleText(_, testdataDir))

  override def unavailable: Map[String, String] = missing.map(s"$prefix*" -> _).toMap
}

object VerbatimCorpus {

  /** The scale a testdata dir without a staged twin reads: the gate's. */
  val DefaultScale = "sf0.01"
}
