package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import graft.Tables
import DuckDialect.{GraftSqlException, Tok}

/** DuckDB `PIVOT` statement front-end (reference:
  * `src/parser/transform/statement/transform_pivot_stmt.cpp`; DuckDB
  * 1.0.0 grammar `PIVOT <source> ON <col> USING <agg> [GROUP BY …]`).
  * Like SUMMARIZE, the expansion is schema-dependent (DuckDB's binder
  * discovers the pivot values and the implicit group keys from the
  * source relation), so it executes via [[DuckDialect.run]] rather than
  * the string-level translator.
  *
  * Spark-first expansion: `RelationalGroupedDataset.pivot` — the same
  * two-phase plan DuckDB builds internally (distinct pivot values, then
  * one conditional aggregate per value), with the distinct-value scan
  * and the aggregate both distributed.
  *
  * Faithfully covered: single ON column, single un-aliased USING
  * aggregate, explicit or DuckDB-implicit GROUP BY (all columns not
  * referenced in ON/USING). count(...) cells fill 0 for absent
  * combinations exactly as DuckDB's pivot does; other aggregates leave
  * NULL on both engines. Multiple ON columns / USING aggregates, value
  * IN-lists, and aliases change DuckDB's output-column NAMING scheme —
  * refused loudly rather than translated approximately. */
object PivotStatement {

  def run(spark: SparkSession, dir: String, stmt: String): DataFrame = {
    val toks = DuckDialect.tokenize(stmt).filterNot(t => t.kind == 1)
    def refuse(msg: String): Nothing = throw new GraftSqlException(
      s"PIVOT: $msg — or use DataFrame groupBy(...).pivot(...).agg(...)")
    val nw = toks.filterNot(_.isWs)
    require(nw.nonEmpty && nw.head.word == "pivot", s"not a PIVOT statement: $stmt")
    var i = 1 // index into nw
    def word(j: Int): String = if (j < nw.length) nw(j).word else ""
    def identText(t: Tok): String =
      if (t.kind == 3) t.text.substring(1, t.text.length - 1) else t.text
    // source: bare table name or parenthesized subquery
    val srcSql: String =
      if (nw(i).is("(")) {
        var d = 0; val sb = new StringBuilder; var done = false
        while (i < nw.length && !done) {
          if (nw(i).is("(")) d += 1 else if (nw(i).is(")")) d -= 1
          if (d == 0) done = true
          else if (!(d == 1 && nw(i).is("("))) { sb.append(nw(i).text); sb.append(' ') }
          i += 1
        }
        sb.toString
      } else if (nw(i).kind == 3 || nw(i).kind == 4) {
        val n = identText(nw(i)); i += 1; s"SELECT * FROM $n"
      } else refuse("source must be a table name or a parenthesized query")
    if (word(i) != "on") refuse("expected ON <column>")
    i += 1
    if (i >= nw.length || (nw(i).kind != 3 && nw(i).kind != 4))
      refuse("ON must name a single column")
    val pivotCol = identText(nw(i)); i += 1
    if (i < nw.length && nw(i).is(","))
      refuse("multiple ON columns are unsupported (they change DuckDB's " +
        "output-column naming)")
    if (word(i) == "in")
      refuse("ON ... IN value lists are unsupported — let the engine " +
        "discover the values (DuckDB's default)")
    if (word(i) != "using") refuse("expected USING <aggregate>")
    i += 1
    // aggregate expression: tokens until depth-0 GROUP/ORDER or end
    val aggSb = new StringBuilder; var d = 0
    while (i < nw.length && !(d == 0 && (word(i) == "group" || word(i) == "order"))) {
      if (nw(i).is("(")) d += 1 else if (nw(i).is(")")) d -= 1
      if (d == 0 && nw(i).is(","))
        refuse("multiple USING aggregates are unsupported")
      if (d == 0 && word(i) == "as")
        refuse("USING aliases are unsupported (they change DuckDB's " +
          "output-column naming)")
      aggSb.append(nw(i).text); aggSb.append(' ')
      i += 1
    }
    val aggSql = aggSb.toString.trim
    if (aggSql.isEmpty) refuse("USING aggregate is empty")
    // optional GROUP BY ident list
    val explicitGroups: Option[Seq[String]] =
      if (word(i) == "group" && word(i + 1) == "by") {
        i += 2
        val gs = Seq.newBuilder[String]
        var expectIdent = true
        while (i < nw.length) {
          if (expectIdent) {
            if (nw(i).kind != 3 && nw(i).kind != 4)
              refuse("GROUP BY must list plain columns")
            gs += identText(nw(i)); expectIdent = false
          } else {
            if (!nw(i).is(",")) refuse("unexpected token after GROUP BY list")
            expectIdent = true
          }
          i += 1
        }
        Some(gs.result())
      } else if (i < nw.length) refuse(s"unexpected trailing tokens: ${nw(i).text}")
      else None
    val src = Tables.sql(spark, dir, DuckDialect.translateIn(spark, srcSql))
    // implicit grouping (DuckDB default): every column not referenced in
    // ON or USING — detected by scanning the aggregate's identifiers.
    // Function-call NAMES (identifier followed by '(') are NOT column
    // references: a source column that happens to be named 'sum'/'count'
    // must stay in the grouping keys, as it does in DuckDB.
    val aggToksAll = DuckDialect.tokenize(aggSql)
    val aggToks = aggToksAll.filterNot(_.isWs)
    val aggIdents = aggToks.zipWithIndex.collect {
      case (t, j) if (t.kind == 3 || t.kind == 4) &&
          !(j + 1 < aggToks.length && aggToks(j + 1).is("(")) =>
        identText(t).toLowerCase
    }.toSet
    val groups = explicitGroups.getOrElse(
      src.columns.toSeq.filter(c =>
        c.toLowerCase != pivotCol.toLowerCase && !aggIdents(c.toLowerCase)))
    if (groups.isEmpty)
      refuse("no grouping columns remain — every column is consumed by ON/USING")
    val pivoted = src.groupBy(groups.map(col): _*)
      .pivot(pivotCol)
      .agg(expr(DuckDialect.translateIn(spark, aggSql)))
    // DuckDB's pivot yields 0 (not NULL) for absent combinations of a
    // count aggregate; Spark leaves NULL — align the cells
    if (aggSql.toLowerCase.matches("""count\s*\(.*"""))
      pivoted.na.fill(0L, pivoted.columns.diff(groups))
    else pivoted
  }
}
