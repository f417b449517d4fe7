package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Session-level DuckDB-dialect fallback: makes `spark.sql("<DuckDB
  * SQL>")` work directly in a session carrying `GraftExtensions`
  * (`spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Strictly a FALLBACK — the native parser runs first and its success is
  * final, so every valid Spark SQL statement plans exactly as before
  * (zero overhead, zero semantic change). Only when the native parse
  * throws do we translate through `DuckDialect` and re-parse; if the
  * translation is a no-op or itself unparsable, the ORIGINAL
  * ParseException propagates (the user was writing Spark SQL and should
  * see Spark's error, not a translator artifact).
  *
  * Scope follows from the trigger: parse-level dialect (QUALIFY,
  * DISTINCT ON, ASOF JOIN, `* EXCLUDE`/`* REPLACE`, `//`, bare
  * `::VARCHAR`) is caught here; name-level dialect (`len`, `strpos`,
  * `list_*`) parses fine natively and fails later in analysis, so it is
  * NOT rescued — use `DuckDialect.run`/`translate` explicitly for full
  * translation of function spellings.
  *
  * CONTRACT — syntax valid in BOTH dialects executes with SPARK
  * semantics on this path: the native parse succeeds, so the translator
  * (and its divergence guards) never runs. The notable trap is bracket
  * subscripts — `l[1]` is the first element in DuckDB but the SECOND in
  * Spark — which `DuckDialect.translate` refuses but this fallback
  * cannot intercept without breaking native Spark SQL. Same for
  * fractional `//` (never reaches here when `/` parses) and
  * fractional→int cast rounding. Users pasting DuckDB verbatim should
  * go through `DuckDialect.run`/`translate`, which guards all of these.
  *
  * The translation applies `session`'s macros and ATTACH aliases
  * ([[SessionSql]]), so `spark.sql` sees exactly what `DuckDialect.run`
  * on the same session sees.
  */
class DuckFallbackParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  private def withFallback(sqlText: String, f: String => LogicalPlan): LogicalPlan =
    try f(sqlText) catch {
      case pe: ParseException =>
        val translated =
          try DuckDialect.translate(sqlText, Some(SessionSql.of(session)))
          catch { case NonFatal(_) => throw pe }
        if (translated == sqlText) throw pe
        try f(translated) catch { case NonFatal(_) => throw pe }
    }

  override def parsePlan(sqlText: String): LogicalPlan =
    withFallback(sqlText, delegate.parsePlan)

  override def parseQuery(sqlText: String): LogicalPlan =
    withFallback(sqlText, delegate.parseQuery)

  /** `spark.sql(text, args)`: the trait's default ignores `params`, which
    * leaves every named or positional marker unbound. */
  override def parsePlanWithParameters(sqlText: String, params: ParameterContext): LogicalPlan =
    withFallback(sqlText, delegate.parsePlanWithParameters(_, params))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)

  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)

  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)

  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)

  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)

  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)

  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}
