package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap

/** Timing for the reference's REAL benchmark suites run VERBATIM, the
  * engine side of same-box twins whose DuckDB halves are
  * `scripts/bench_<suite>_duckdb.py` (identical SQL, identical parquet
  * files, same warm best-of-N protocol):
  *   - `tpch`  — [[sql.TpchVerbatim]], the 22 texts under
  *     `reference/extension/tpch/dbgen/queries/` over the dbgen corpus;
  *   - `tpcds` — [[sql.TpcdsVerbatim]], the 99 texts under
  *     `reference/extension/tpcds/dsdgen/queries/` over the dsdgen corpus;
  *   - `imdb`  — [[sql.JobVerbatim]], the 113 JOB texts under
  *     `reference/benchmark/imdb_plan_cost/queries/` over the synthetic
  *     corpus. Every JOB query is a deep many-dim join over one of three
  *     fact spines with a single MIN row out, so the cost is join
  *     scheduling + probe, not scan or agg; all IMDB dims broadcast under
  *     10 MB. JOB has one scale: `SPARK_GRAFT_IMDB_FIXTURES` points it at
  *     an inflated corpus (scripts/stage_imdb.py <scale>).
  * All three run under [[BenchConf.verbatim]]. Each suite is warmed TWICE
  * (the first sweep pays codegen compile + footer caches, the second gets
  * C2 onto the join/agg loops: single-warm best-of-3 ran 2-4× slower on
  * the join-heavy TPC-H queries), then timed best-of-3. Emits one JSON line and writes it to the suite's
  * `bench_evidence/` record.
  *
  * Run: `sbt "runMain graft.VerbatimBench <tpch|tpcds|imdb> [scale]"`
  * (scale = one of the suite's staged fixture dirs, e.g. sf0.01 or sf0.1,
  * default sf0.1; a scale with no staged dir is refused with the list of
  * staged ones; ignored by imdb).
  */
object VerbatimBench {

  private type Run = SparkSession => DataFrame
  private val Runs = 3

  /** Per suite: the corpus, the metric name and the record path. */
  private case class Suite(corpus: sql.VerbatimCorpus, metric: String, out: String)

  private val suites = Map(
    "tpch" -> Suite(sql.TpchVerbatim, "tpch_verbatim_total", "bench_evidence/r16_tpch_verbatim.json"),
    "tpcds" -> Suite(sql.TpcdsVerbatim, "tpcds_verbatim_total", "bench_evidence/r17_tpcds_verbatim.json"),
    "imdb" -> Suite(sql.JobVerbatim, "imdb_verbatim_total", "bench_evidence/r17_imdb_verbatim.json"))

  /** The fixture scale to time: `arg` when the corpus has it staged. */
  private[graft] def stagedScale(corpus: sql.VerbatimCorpus, arg: String): String = {
    require(!corpus.scaled || corpus.stagedScales.contains(arg),
      s"no ${corpus.corpus} scale $arg staged under ${corpus.fixtureRoot}; " +
        s"staged: ${corpus.stagedScales.mkString(", ")}")
    arg
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    val suite = suites.getOrElse(name, throw new IllegalArgumentException(
      s"usage: VerbatimBench <${suites.keys.toSeq.sorted.mkString("|")}> [scale]"))
    val corpus = suite.corpus
    val scale = stagedScale(corpus, args.lift(1).getOrElse("sf0.1"))
    val spark = EngineSession.local(EngineSession.cores)
    BenchConf.verbatim(spark)
    // the scale is passed where entries take their testdata dir: its name selects the staged dir
    val queries = corpus.queryIds.map(id => s"q$id" -> (corpus.run(_: SparkSession, scale, id)))
    def once(q: Run): Double = {
      val t0 = System.nanoTime()
      Bench.noop(q(spark))
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 2).foreach(_ => queries.foreach(q => once(q._2)))
    val best = queries.map { case (k, q) => k -> (1 to Runs).map(_ => once(q)).min }
    val scope = if (corpus.scaled) "scale" -> scale else "fixtures" -> corpus.fixtureRoot
    val record = ListMap("metric" -> suite.metric, "value" -> Bench.r3(best.map(_._2).sum),
      "unit" -> "sec", "runs" -> Runs, scope,
      "queries" -> ListMap.from(best.map { case (k, t) => k -> Bench.r3(t) }))
    scala.util.Try(Json.writeFile(suite.out, record)).fold(
      e => System.err.println(s"[$name-bench] write failed (${e.getMessage})"),
      _ => System.err.println(s"[$name-bench] record -> ${suite.out}"))
    println(Json.write(record))
    spark.stop()
  }
}
