package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import DuckDialect.{GraftSqlException, identText}

/** DuckDB `UNPIVOT` statement front-end (reference:
  * `src/parser/transform/statement/transform_pivot_stmt.cpp` — DuckDB
  * parses UNPIVOT into the same pivot-statement node with a direction
  * flag; grammar `UNPIVOT <source> ON <col>, … INTO NAME <n> VALUE <v>`).
  *
  * Unlike PIVOT, the expansion needs NO schema discovery — the ON list
  * is explicit — so the translation is a pure text rewrite onto Spark's
  * native UNPIVOT clause:
  *
  *   UNPIVOT src ON a, b INTO NAME m VALUE v
  *     →  SELECT * FROM (src) graft_unpivot_src UNPIVOT (v FOR m IN (a, b))
  *
  * Both engines exclude NULL-valued cells by default (probed: a NULL
  * measure column produces no row on either side) and emit the same
  * column order (pass-through columns, then NAME, then VALUE).
  *
  * Refused loudly: `ON col AS 'alias'` (probed on DuckDB 1.0 — an alias
  * silently CHANGES which columns unpivot, keeping un-aliased siblings
  * as pass-through, so a faithful rewrite would need DuckDB's exact
  * bug-for-bug column partition), `ON COLUMNS(...)` star forms, and
  * multi-column VALUE lists (DuckDB stacks N columns per row; Spark's
  * IN-list groups differ in naming). */
object UnpivotStatement {

  def run(spark: SparkSession, dir: String, stmt: String): DataFrame =
    Tables.sql(spark, dir, spell(stmt, Some(SessionSql.of(spark))))

  /** The schema-free text rewrite alone — also the path
    * `DuckDialect.translate` (hence the session fallback parser) takes
    * for statement-head UNPIVOT, which needs no session beyond the
    * source query's macros and aliases. */
  def spell(stmt: String, session: Option[SessionSql]): String = {
    def refuse(msg: String): Nothing = throw new GraftSqlException(
      s"UNPIVOT: $msg — or use Dataset.unpivot(ids, values, variableColumnName, valueColumnName)")
    val (nw, srcSql, afterSrc) = PivotStatement.source(stmt, "unpivot", refuse)
    var i = afterSrc
    def word(j: Int): String = if (j < nw.length) nw(j).word else ""
    if (word(i) != "on") refuse("expected ON <column list>")
    i += 1
    val cols = Seq.newBuilder[String]
    var expectIdent = true
    while (i < nw.length && word(i) != "into") {
      if (expectIdent) {
        if (word(i) == "columns")
          refuse("ON COLUMNS(...) star forms are unsupported — list the columns")
        if (nw(i).kind != 3 && nw(i).kind != 4)
          refuse("ON must list plain columns")
        cols += identText(nw(i)); expectIdent = false
      } else {
        if (word(i) == "as")
          refuse("ON ... AS aliases are unsupported (DuckDB silently keeps " +
            "un-aliased siblings as pass-through columns when any alias is present)")
        if (!nw(i).is(",")) refuse(s"unexpected token in ON list: ${nw(i).text}")
        expectIdent = true
      }
      i += 1
    }
    val onCols = cols.result()
    if (onCols.isEmpty) refuse("ON list is empty")
    if (word(i) != "into" || word(i + 1) != "name")
      refuse("expected INTO NAME <column> VALUE <column>")
    i += 2
    if (i >= nw.length || (nw(i).kind != 3 && nw(i).kind != 4))
      refuse("NAME must be a single identifier")
    val nameCol = identText(nw(i)); i += 1
    if (word(i) != "value") refuse("expected VALUE <column>")
    i += 1
    if (i >= nw.length || (nw(i).kind != 3 && nw(i).kind != 4))
      refuse("VALUE must be a single identifier")
    val valueCol = identText(nw(i)); i += 1
    if (i < nw.length && nw(i).is(","))
      refuse("multi-column VALUE lists are unsupported (per-row column " +
        "stacking has no Spark UNPIVOT equivalent)")
    if (i < nw.length) refuse(s"unexpected trailing tokens: ${nw(i).text}")
    s"""SELECT * FROM (${DuckDialect.translate(srcSql, session)}) graft_unpivot_src
       |UNPIVOT (`$valueCol` FOR `$nameCol` IN (${onCols.map(c => s"`$c`").mkString(", ")}))""".stripMargin
  }
}
