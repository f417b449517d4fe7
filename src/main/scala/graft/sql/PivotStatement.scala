package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import graft.Tables
import DuckDialect.{GraftSqlException, Tok, firstTop, identText, matching}

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

  /** The `<kw> <source>` head PIVOT and UNPIVOT share: the statement's
    * tokens without whitespace and comments, the source as a query (a
    * table name or a parenthesized query), and the index after it. */
  private[sql] def source(stmt: String, kw: String,
      refuse: String => Nothing): (Vector[Tok], String, Int) = {
    val nw = DuckDialect.tokenize(stmt).filterNot(_.isWs)
    require(nw.nonEmpty && nw.head.word == kw, s"not a ${kw.toUpperCase} statement: $stmt")
    if (nw.length > 1 && nw(1).is("(")) {
      val close = matching(nw, 1)
      (nw, nw.slice(2, close).map(_.text + " ").mkString, close + 1)
    } else if (nw.length > 1 && (nw(1).kind == 3 || nw(1).kind == 4))
      (nw, s"SELECT * FROM ${identText(nw(1))}", 2)
    else refuse("source must be a table name or a parenthesized query")
  }

  def run(spark: SparkSession, dir: String, stmt: String): DataFrame = {
    def refuse(msg: String): Nothing = throw new GraftSqlException(
      s"PIVOT: $msg — or use DataFrame groupBy(...).pivot(...).agg(...)")
    val (nw, srcSql, afterSrc) = source(stmt, "pivot", refuse)
    var i = afterSrc // index into nw
    def word(j: Int): String = if (j < nw.length) nw(j).word else ""
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
    val tailAt = firstTop(nw, i)(t => t.word == "group" || t.word == "order")
    val aggEnd = if (tailAt < 0) nw.length else tailAt
    val bad = firstTop(nw, i, aggEnd)(t => t.is(",") || t.word == "as")
    if (bad >= 0 && nw(bad).is(","))
      refuse("multiple USING aggregates are unsupported")
    if (bad >= 0)
      refuse("USING aliases are unsupported (they change DuckDB's " +
        "output-column naming)")
    val aggSql = nw.slice(i, aggEnd).map(_.text).mkString(" ")
    i = aggEnd
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
