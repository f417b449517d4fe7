package graft.sql

import graft.SparkSpec
import org.apache.spark.sql.catalyst.parser.ParseException

/** The session-level fallback: wraps the real session parser (the same
  * delegation `GraftExtensions.injectParser` installs) and checks the
  * three-way contract — native SQL parses natively, DuckDB-dialect SQL
  * parses via translation, garbage still throws the ORIGINAL
  * ParseException. Value-level correctness of translated plans is pinned
  * by the `ducksql_*` oracle entries (which execute through
  * `EngineSession`, where this parser is installed for real).
  */
class DuckFallbackParserSpec extends SparkSpec {

  private lazy val parser =
    new DuckFallbackParser(spark, spark.sessionState.sqlParser)

  test("native Spark SQL parses unchanged") {
    parser.parsePlan("SELECT a, count(*) FROM t GROUP BY a")
  }

  test("DuckDB-dialect statements parse via the translation fallback") {
    parser.parsePlan(
      "SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1")
    parser.parsePlan(
      "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC")
    parser.parsePlan("SELECT * EXCLUDE (a) FROM t")
    parser.parsePlan("SELECT * REPLACE (a + 1 AS a) FROM t")
    parser.parsePlan("SELECT a // 2 AS h, a::VARCHAR AS s FROM t")
    parser.parsePlan(
      "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t")
  }

  /** Split a script on top-level `;` (outside quotes and parens) —
    * statement-face corpus entries (PREPARE …; EXECUTE …) are scripts,
    * not single parseable statements. */
  private def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var inStr = false
    for (c <- script) c match {
      case '\'' => inStr = !inStr; cur += c
      case '(' if !inStr => depth += 1; cur += c
      case ')' if !inStr => depth -= 1; cur += c
      case ';' if !inStr && depth == 0 => out += cur.toString; cur.clear()
      case _ => cur += c
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  test("every raw ducksql corpus string parses through the fallback") {
    // the whole dialect corpus (QUALIFY, DISTINCT ON, ASOF, EXCLUDE,
    // REPLACE, IGNORE NULLS, //, ::VARCHAR, list functions) must reach a
    // plan — natively or via translation — with no exception.
    // Statement-face scripts (PREPARE/EXECUTE/DEALLOCATE) route through
    // the DuckDml face exactly as EngineSession would: PREPARE registers,
    // EXECUTE resolves to bound SQL which must then parse.
    // Entries whose EXECUTION path is not the parser fallback:
    //  - ASOF RIGHT/FULL route through the schema-aware AsofRewrite
    //    BEFORE translate (translate's lateral form covers LEFT/INNER
    //    only and refuses RIGHT/FULL with a typed pointer) — assert the
    //    fast path takes them instead;
    //  - ducksql_attach's oracle is a DuckDB-side script (ATTACH
    //    ':memory:' + CREATE TABLE aux.…) intentionally different from
    //    the engine's own ATTACH statements (DuckDmlSpec covers those);
    //    only its final SELECT is shared surface — parse that.
    val viaAsofRewrite = Set("ducksql_asof_right", "ducksql_asof_full")
    // PREPARE registers on a session of its own
    val s = spark.newSession()
    for ((name, raw) <- DuckSqlQueries.oracle.toSeq.sortBy(_._1))
      withClue(name) {
        if (viaAsofRewrite(name))
          assert(AsofRewrite.maybeRun(spark, sf(), raw).isDefined,
            s"$name must take the AsofRewrite fast path")
        else for (stmt <- splitStatements(raw)) {
          val head = stmt.takeWhile(!_.isWhitespace).toLowerCase
          head match {
            case "prepare" | "deallocate" =>
              DuckDml.exec(s, Map.empty, stmt)
            case "execute" =>
              val bound = DuckDml.resolveExecute(SessionSql.of(s), stmt).getOrElse(
                fail(s"$name: EXECUTE did not resolve"))
              parser.parsePlan(bound)
            case "attach" | "create" if name == "ducksql_attach" => ()
            case _ => parser.parsePlan(stmt)
          }
        }
      }
  }

  test("garbage still raises ParseException (not a translator error)") {
    intercept[ParseException](parser.parsePlan("SELEKT oops FRUM t"))
    intercept[ParseException](parser.parsePlan("SELECT 1 +"))
  }

  test("grammar-tail constructs refuse loudly with the documented message") {
    import DuckDialect.{translate, GraftSqlException}
    // every refusal is the TYPED exception, names the construct, and
    // points at the Spark-side alternative — the "fail loudly, never
    // silently wrong" contract for the untranslated grammar tail
    def refusal(sql: String, mustMention: String*): Unit = {
      val e = intercept[GraftSqlException](translate(sql))
      mustMention.foreach(m => assert(e.getMessage.contains(m),
        s"message for `$sql` should mention `$m`, got: ${e.getMessage}"))
    }
    refusal("SELECT {'a': x, b: 2} FROM t", "keys must be string literals")
    refusal("SUMMARIZE t", "SUMMARIZE", "summary()")
    // UNION BY NAME translates now (rewriteUnionByName); only forms whose
    // output names the SQL text cannot expose are refused
    refusal("SELECT * FROM t UNION BY NAME SELECT * FROM u",
      "BY NAME", "column names")
    refusal("SELECT a + 1 FROM t UNION BY NAME SELECT a FROM u",
      "BY NAME", "AS alias")
    refusal("SELECT a FROM t UNION BY NAME SELECT a FROM u EXCEPT SELECT a FROM v",
      "BY NAME", "positional")
    // INTERSECT/EXCEPT BY NAME translate since round 14; mixed-kind
    // chains translate since round 16 (precedence-aware tree — INTERSECT
    // binds tighter, pinned in DuckDialectSpec)
    assert(DuckDialect.translate("SELECT a FROM t UNION BY NAME " +
      "SELECT a FROM u INTERSECT BY NAME SELECT a FROM v")
      .contains("INTERSECT"))
    refusal("INSERT INTO t VALUES (1) RETURNING *", "RETURNING", "execReturning")
    refusal("DELETE FROM t WHERE a = 1 RETURNING a", "RETURNING")
    // list comprehensions TRANSLATE since round 12 (literal
    // single-variable forms); only the non-literal variable forms refuse
    refusal("SELECT [e FOR x, i IN l] FROM t", "single-variable", "transform(")
    assert(DuckDialect.translate("SELECT [x FOR x IN l] FROM t")
      .contains("transform"))
    refusal("SELECT l[1] FROM t", "element_at")
    refusal("SELECT a // 2.5 FROM t", "floor(a / b)")
    refusal("SELECT enum_first(NULL::mood) FROM t", "ENUM", "array_position")
    // COLUMNS expands through the ACTIVE session's catalog since round
    // 14, so the refusal pin must use a table NO catalog resolves —
    // `lineitem` may be a live temp view here when another suite's
    // Tables.sql ran first on this test thread (full-suite order)
    refusal("SELECT COLUMNS('l_.*') FROM graft_no_such_catalog_table",
      "COLUMNS", "schema")
    refusal("SELECT DISTINCT ON (g) g FROM t", "ORDER BY")
    refusal("SELECT * FROM a POSITIONAL JOIN b", "POSITIONAL", "positionalJoin")
    // refused constructs never slip through the session fallback as
    // silently-different SQL: the fallback rethrows the ORIGINAL parse
    // error instead (native Spark diagnostics, no translator artifact)
    intercept[ParseException](parser.parsePlan("SUMMARIZE t"))
    // translated UNION BY NAME reaches a plan through the fallback
    parser.parsePlan("SELECT a, b FROM t UNION BY NAME SELECT b, a FROM u")
  }

  test("a session with GraftExtensions executes DuckDB-dialect SQL end-to-end") {
    // The suite-shared session has no extensions; drive the injected-parser
    // path through a plan parsed by the fallback and executed via the
    // ducksql surface instead: translate + spark.sql ≡ what the injected
    // parser does on ParseException.
    import spark.implicits._
    Seq((1, 10.0), (1, 20.0), (2, 5.0)).toDF("k", "v")
      .createOrReplaceTempView("fb_t")
    val rows = spark.sql(DuckDialect.translate(
      "SELECT k, v FROM fb_t QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1 ORDER BY k"))
      .collect()
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSeq == Seq((1, 20.0), (2, 5.0)))
    // the translated bernoulli-with-seed sample must be EXECUTABLE Spark
    // (TABLESAMPLE … REPEATABLE placement before the alias): same seed →
    // same sample, and 100% keeps everything
    val sampled = spark.sql(DuckDialect.translate(
      "SELECT count(*) AS n FROM fb_t s USING SAMPLE 100% (bernoulli, 42)"))
      .collect().head.getLong(0)
    assert(sampled == 3L)
  }
}
