package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Verify's record files under fault injection: a throwing entry lands in
  * errors.json (never vanishes), the good entries' oracles land in
  * oracle_sql.json, and one worker or three write byte-identical records —
  * the stateful `ducksql_*` and `dml_*` entries included, since each
  * worker session holds its own SQL state. */
class VerifySpec extends SparkSpec {

  private val good = Seq("ducksql_attach", "ducksql_macro_stmt",
    "ducksql_prepare_stmt", "dml_sql_txn", "agg_grouping_sets")

  private val entries: Map[String, Verify.Entry] =
    (sql.DuckSqlQueries.queries ++ sources.DmlQueries.queries ++
      operators.Aggregates.queries).filter { case (n, _) => good.contains(n) } +
      ("verify_spec_throws" -> ((_, _) => throw new IllegalStateException("injected fault")))

  private def record(out: String, name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(s"$out/$name"))

  test("a throwing entry is recorded as an error; 1 and 3 workers write identical records") {
    val outs = Seq(1, 3).map { threads =>
      val out = Files.createTempDirectory(s"graft_verify_spec_t${threads}_").toString
      val (timings, errors) = Verify.run(spark, sf(), out, entries, threads)
      assert(errors.keySet === Set("verify_spec_throws"), s"threads=$threads")
      assert(timings.keySet === good.toSet, s"threads=$threads")
      val errorsJson = Json.read(new String(record(out, "errors.json"), "UTF-8"))
      assert(errorsJson.fieldNames.asScala.toSet === Set("verify_spec_throws"))
      assert(errorsJson.get("verify_spec_throws").asText.contains("injected fault"))
      val oracles = Json.read(new String(record(out, "oracle_sql.json"), "UTF-8"))
      assert(oracles.fieldNames.asScala.toSet === good.toSet, s"threads=$threads")
      out
    }
    for (f <- Seq("oracle_sql.json", "errors.json"))
      assert(record(outs(0), f).sameElements(record(outs(1), f)), s"$f differs across modes")
  }
}
