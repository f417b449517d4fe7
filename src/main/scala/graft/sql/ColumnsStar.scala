package graft.sql

import org.apache.spark.sql.SparkSession
import graft.Tables
import DuckDialect.{GraftSqlException, Tok, firstTop, matching, nextIdx, render, splitTop,
  tokenize}

/** Schema-aware expansion of DuckDB's `COLUMNS(*)` / `COLUMNS('regex')`
  * star expressions (reference
  * `src/parser/transform/expression/transform_columnref.cpp`; the regex
  * is an unanchored SEARCH over column names, and a function wrapping the
  * star — `min(COLUMNS('re'))` — keeps the ORIGINAL column name per
  * expansion, both probed on DuckDB 1.0.0).
  *
  * Token-level `translate` cannot expand these (no schema), so the
  * session-aware `DuckDialect.run` path resolves them here first, against
  * the statement's single fixture table. Supported: a depth-0
  * `SELECT … FROM <table>` whose select items each contain at most ONE
  * `COLUMNS(…)` call with a `*` or string-literal-regex argument; the
  * item template replicates per matched column (aliased to the column
  * name, matching DuckDB's output naming). Everything else — joins,
  * subqueries, COLUMNS outside the select list, lambda/EXCLUDE arguments,
  * zipped multi-COLUMNS items — refuses loudly with the generic recipe.
  */
object ColumnsStar {

  private def refuse(what: String): Nothing =
    throw new GraftSqlException(
      s"COLUMNS(...) expansion supports a single `SELECT … FROM <table>` with " +
        s"* or a string-literal regex ($what) — list the columns explicitly, " +
        "or select them on the DataFrame with " +
        "df.select(df.columns.filter(...).map(col): _*)")

  /** Expand COLUMNS stars against the fixture catalog at `dir`; None
    * when the SQL has none. The `DuckDialect.run` face — a non-fixture
    * FROM table refuses loudly (run's catalog IS the fixture set). */
  def maybeExpand(spark: SparkSession, dir: String, sql: String): Option[String] =
    expandWith(n => if (Tables.names.contains(n))
      Some(Tables.t(spark, dir, n).columns.toSeq) else None,
      sql, refuseOnMissing = true)

  /** Expand COLUMNS stars against the SESSION catalog (temp views,
    * catalog tables); None when the SQL has none OR the table is not in
    * the session catalog. The `translate` face (round-13 verdict:
    * `translate` refused what `run` expanded — with an active session
    * that resolves the table, both entry points now behave identically);
    * an unresolvable table returns None so translate's generic
    * refuseUnsupported message fires instead (the caller may have meant
    * the run face's fixture catalog). Shape violations (joins, zipped
    * COLUMNS, non-literal regex) still refuse loudly here. */
  def maybeExpandSession(spark: SparkSession, sql: String): Option[String] =
    expandWith(n =>
      if (spark.catalog.tableExists(n)) Some(spark.table(n).columns.toSeq)
      else None, sql, refuseOnMissing = false)

  /** Core expansion over a pluggable table→columns lookup; None when the
    * SQL has no COLUMNS call (or, with refuseOnMissing=false, when the
    * lookup cannot resolve the FROM table). */
  private def expandWith(schemaOf: String => Option[Seq[String]],
      sql: String, refuseOnMissing: Boolean): Option[String] = {
    val toks = tokenize(sql)
    val colsAt = toks.indices.filter(i => toks(i).word == "columns" &&
      { val n = nextIdx(toks, i); n < toks.length && toks(n).is("(") })
    if (colsAt.isEmpty) return None

    // statement shape: SELECT <items> FROM <table> [tail clauses]
    val first = toks.indexWhere(!_.isWs)
    if (first < 0 || toks(first).word != "select") refuse("not a plain SELECT")
    val fromIdx = firstTop(toks)(_.word == "from")
    if (fromIdx < 0) refuse("no FROM clause")
    val tblIdx = nextIdx(toks, fromIdx)
    if (tblIdx >= toks.length || toks(tblIdx).kind != 4)
      refuse("FROM must be a single plain table name")
    val schemaOpt = schemaOf(toks(tblIdx).word)
    if (schemaOpt.isEmpty) {
      if (refuseOnMissing) refuse(s"FROM table '${toks(tblIdx).text}' is " +
        "not resolvable in this catalog")
      return None
    }
    val afterTbl = nextIdx(toks, tblIdx)
    val tailKw = Set("where", "group", "having", "qualify", "window",
      "order", "limit", "offset")
    if (afterTbl < toks.length && !tailKw(toks(afterTbl).word))
      refuse("joins/aliases/multiple relations are unsupported")
    if (colsAt.exists(_ > fromIdx))
      refuse("COLUMNS outside the select list")
    val afterSelect = nextIdx(toks, first)
    if (afterSelect < toks.length &&
        (toks(afterSelect).word == "distinct" || toks(afterSelect).word == "all"))
      refuse("DISTINCT/ALL quantifiers are unsupported with COLUMNS")
    val schema = schemaOpt.get

    val items = splitTop(toks, first + 1, fromIdx)(_.is(","))
    val expanded = items.flatMap { item =>
      // indices are local to the item vector now
      val hits = item.indices.filter { k =>
        item(k).word == "columns" && {
          val j = nextIdx(item, k)
          j < item.length && item(j).is("(")
        }
      }
      if (hits.isEmpty) Seq(render(item).trim)
      else if (hits.length > 1) refuse("multiple COLUMNS in one item (zip)")
      else {
        val k = hits.head
        val open = nextIdx(item, k)
        val close = matching(item, open)
        val arg = item.slice(open + 1, close).filterNot(_.isWs)
        val matched: Seq[String] = arg match {
          case Vector(t) if t.is("*") => schema
          case Vector(t) if t.kind == 2 =>
            val re = java.util.regex.Pattern.compile(
              t.text.drop(1).dropRight(1).replace("''", "'"))
            schema.filter(c => re.matcher(c).find())
          case _ => refuse("argument must be * or a string literal")
        }
        if (matched.isEmpty) refuse("regex matched no columns")
        // an explicit alias cannot name N replicas
        val hasAlias = firstTop(item)(_.word == "as") >= 0
        if (hasAlias && matched.length > 1)
          refuse("an AS alias cannot name multiple expanded columns")
        // bare = the item is nothing but the COLUMNS(...) call itself
        val bare = item.count(!_.isWs) == item.slice(k, close + 1).count(!_.isWs)
        matched.map { c =>
          val repl = item.take(k) ++ Vector(Tok(4, c)) ++ item.drop(close + 1)
          if (bare) c else s"${render(repl).trim} AS $c"
        }
      }
    }
    Some("SELECT " + expanded.mkString(", ") + " " + render(toks.drop(fromIdx)))
  }
}
