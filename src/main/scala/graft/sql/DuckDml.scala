package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import graft.sources.GraftTable
import DuckDialect.{GraftSqlException, Tok, firstTop, identText, matching, render,
  splitTop, tokenize, topIndices}

/** SQL front-end for the DML surface: routes `INSERT INTO` / `DELETE
  * FROM` / `UPDATE … SET` statement STRINGS to the corresponding
  * `GraftTable` operations, so the write-path statements a DuckDB user
  * pastes work too (reference `src/execution/operator/persistent/
  * physical_{insert,delete,update}.cpp`; the read-side dialect is
  * `DuckDialect`).
  *
  * `tables` maps statement-level table names to GraftTable roots — the
  * catalog seam. The source query of an INSERT runs through
  * `DuckDialect.translate`, so dialect SQL works there as well;
  * DELETE/UPDATE predicates and assignment expressions are Spark
  * `expr()` strings after the same token-level function renames.
  *
  * Fail-loudly contract: every unsupported or malformed statement —
  * MERGE strings, multi-table `UPDATE … FROM`, RETURNING, truncated
  * statements, duplicate SET targets, CREATE over an existing table —
  * throws `GraftSqlException`, never a raw parser/index error. The
  * DataFrame API (`GraftTable.merge`) covers MERGE.
  *
  * PREPARE (reference `src/main/client_context.cpp:520-560`
  * PendingStatementOrPreparedStatement / `EXECUTE` routing): DuckDB
  * binds at PREPARE time; here the session's [[SessionSql]] stores the
  * RAW statement text and binds it at EXECUTE time — translation sees
  * the substituted literals, so dialect rewrites (which may depend on
  * literal-ness, e.g. strftime) behave exactly as if the user had pasted
  * the bound SQL.
  *
  * TRANSACTION surface (reference: DuckDB's BEGIN/COMMIT/ROLLBACK over
  * its MVCC; `src/transaction/`): the versioned manifest table IS the
  * undo log. BEGIN opens a transaction on the session; the first
  * mutation of each table inside it records that table's
  * pre-transaction version; ROLLBACK restores every touched table to
  * its recorded version via [[graft.sources.GraftTable.restore]] (a
  * metadata-only commit — no data movement); COMMIT simply forgets the
  * recorded versions (statements apply eagerly, so reads inside the
  * transaction see its own writes). Scope: DML only
  * (INSERT/DELETE/UPDATE); transactional DDL, VACUUM, and CHECKPOINT
  * inside a transaction are refused loudly (file reclamation is not
  * restorable). Two sessions writing the SAME table are not isolated
  * from each other: a ROLLBACK restores the table's recorded version
  * whatever another session wrote since.
  */
object DuckDml {

  private def words(toks: Vector[Tok]): Vector[Tok] = toks.filterNot(_.isWs)

  /** ROLL BACK any transaction of `spark`'s session still open after `f`
    * (abort semantics — an exception between BEGIN and COMMIT must not
    * leave eagerly-applied uncommitted writes in place, so scope exit
    * with a dangling transaction restores every touched table to its
    * recorded pre-transaction version, exactly like an explicit
    * ROLLBACK). */
  def withTxnScope[T](spark: SparkSession)(f: => T): T =
    try f
    finally SessionSql.of(spark).end().foreach(_.foreach { case (r, v) =>
      // Each restore is individually guarded: a failing restore (e.g. a
      // missing version file) thrown from this finally-block would MASK
      // the original exception from f — the root cause the caller needs
      // (r16 advice). Log and keep rolling the remaining tables back.
      try graft.sources.GraftTable.restore(r, v)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] txn-scope rollback of $r to version $v FAILED " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
              "continuing so the original exception propagates")
      }
    })

  /** Bind an EXECUTE argument list into a prepared statement's text:
    * `$n` positional slots take the nth argument, bare `?` slots bind in
    * order; mixing the two styles refuses (DuckDB refuses it too). Each
    * substitution is parenthesized so operator precedence cannot leak. */
  private[sql] def bindPrepared(text: String, args: Seq[String]): String = {
    val toks = tokenize(text)
    val out = new StringBuilder
    var i = 0
    var nextQ = 0
    var maxDollar = 0
    var sawDollar = false
    var sawQ = false
    def arg(idx: Int): String = {
      if (idx < 1 || idx > args.length)
        throw new GraftSqlException(
          s"EXECUTE: statement references parameter $$$idx but ${args.length} argument(s) were given")
      "(" + args(idx - 1).trim + ")"
    }
    while (i < toks.length) {
      val t = toks(i)
      if (t.is("$") && i + 1 < toks.length && toks(i + 1).kind == 5) {
        val numTok = toks(i + 1).text
        if (!numTok.forall(_.isDigit))
          throw new GraftSqlException(
            s"EXECUTE: malformed parameter slot $$$numTok — the index must be an integer")
        sawDollar = true
        val idx = numTok.toInt
        maxDollar = math.max(maxDollar, idx)
        out ++= arg(idx)
        i += 2
      } else if (t.is("?")) {
        sawQ = true; nextQ += 1
        out ++= arg(nextQ)
        i += 1
      } else { out ++= t.text; i += 1 }
    }
    if (sawDollar && sawQ)
      throw new GraftSqlException(
        "EXECUTE: cannot mix $n and ? parameter styles in one prepared statement")
    if (sawQ && nextQ != args.length)
      throw new GraftSqlException(
        s"EXECUTE: statement has $nextQ ? slot(s) but ${args.length} argument(s) were given")
    // surplus arguments are an error, matching the reference's
    // parameter-count check (a $n statement's highest slot must equal the
    // argument count; a slot-free statement takes no arguments)
    if (sawDollar && maxDollar != args.length)
      throw new GraftSqlException(
        s"EXECUTE: statement references parameters up to $$$maxDollar but ${args.length} argument(s) were given")
    if (!sawDollar && !sawQ && args.nonEmpty)
      throw new GraftSqlException(
        s"EXECUTE: statement takes no parameters but ${args.length} argument(s) were given")
    out.toString
  }

  /** Resolve `EXECUTE name(args…)` against the session's prepared
    * statements to the bound statement text, or None if `sql` is not an
    * EXECUTE. Shared by the query face (`DuckDialect.run`) and the DML
    * face ([[exec]]). */
  private[sql] def resolveExecute(st: SessionSql, sql: String): Option[String] = {
    val toks = words(tokenize(sql.stripSuffix(";")))
    if (toks.isEmpty || toks(0).word != "execute") return None
    if (toks.length < 2 || (toks(1).kind != 4 && toks(1).kind != 3))
      throw new GraftSqlException("EXECUTE needs a prepared-statement name")
    val name = identText(toks(1)).toLowerCase
    val text = st.prepared.get(name)
    if (text == null)
      throw new GraftSqlException(
        s"no prepared statement named '$name' — PREPARE it first")
    val args: Seq[String] =
      if (toks.length == 2) Nil
      else {
        if (!toks(2).is("("))
          throw new GraftSqlException("EXECUTE name(arg, …) — expected '('")
        val close = matching(toks, 2)
        if (close + 1 < toks.length)
          throw new GraftSqlException(
            s"EXECUTE: unexpected trailing tokens after ')': ${toks(close + 1).text}")
        // the top-level comma-separated argument spans, verbatim; an empty
        // one refuses loudly here rather than splicing '()' into the
        // statement and surfacing an opaque downstream parse error
        val spans = splitTop(toks, 3, close)(_.is(","))
        if (close == 3) Nil
        else spans.zipWithIndex.map { case (span, k) =>
          if (span.isEmpty)
            throw new GraftSqlException(
              if (k == spans.length - 1)
                "EXECUTE: empty argument before ')' — remove the trailing comma"
              else "EXECUTE: empty argument in the argument list (doubled or leading comma)")
          span.foldLeft("") { (arg, t) =>
            if (t.is("(") || t.is(")") || arg.isEmpty) arg + t.text else arg + " " + t.text
          }
        }
      }
    Some(bindPrepared(text, args))
  }

  /** Split a trailing depth-0 `RETURNING <exprs>` clause off a DML
    * statement → (statement without the clause, RETURNING list text);
    * None when the statement has no depth-0 RETURNING. */
  private[sql] def splitReturning(sql: String): Option[(String, String)] = {
    val full = tokenize(sql.stripSuffix(";"))
    topIndices(full)(_.word == "returning").lastOption.map(at =>
      (render(full.take(at)), render(full.drop(at + 1)).trim))
  }

  /** Execute one DML statement and RETURN its affected rows (reference
    * `src/execution/operator/persistent/physical_insert.cpp` /
    * `physical_delete.cpp` / `physical_update.cpp` RETURNING semantics):
    * INSERT returns the inserted rows (after ON CONFLICT resolution),
    * UPDATE the NEW values of updated rows, DELETE the deleted rows.
    *
    * The affected-row set comes from the GraftTable MANIFEST DIFF
    * between the versions the mutation committed ([[GraftTable.changes]]
    * — only the files and positions the mutation touched are read),
    * never from re-applying the predicate to the post-image (whose
    * columns may have changed). The
    * RETURNING list supports `*` and dialect-translated expression/alias
    * items over the affected rows.
    *
    * Documented divergence (the [[GraftTable.changes]] contract): an
    * UPDATE assignment that leaves a matched row bit-identical does not
    * surface (identical old and new rows cancel in the diff), while DuckDB
    * returns the row; row ORDER is not DuckDB's insertion order (the
    * engine's distributed scans have no insertion order to preserve). */
  def execReturning(spark: SparkSession, tables: Map[String, String],
      sql: String): DataFrame = {
    val (stmt, retList) = splitReturning(sql).getOrElse(
      throw new GraftSqlException(
        "execReturning needs a trailing RETURNING clause — use exec for " +
          "plain DML"))
    if (retList.isEmpty)
      throw new GraftSqlException("RETURNING needs an expression list (or *)")
    val toks = words(tokenize(stmt))
    def w(i: Int): String = if (i < toks.length) toks(i).word else ""
    val head = w(0)
    val nameAt = head match {
      case "insert" | "delete" => 2 // INSERT INTO t / DELETE FROM t
      case "update" => 1            // UPDATE t SET …
      case other => throw new GraftSqlException(
        s"RETURNING is supported on INSERT/UPDATE/DELETE, not '$other'")
    }
    if (nameAt >= toks.length)
      throw new GraftSqlException(
        s"statement ended before the ${head.toUpperCase} target table")
    val n = identText(toks(nameAt)).toLowerCase
    val root = tables.getOrElse(n,
      throw new GraftSqlException(
        s"unknown table '${toks(nameAt).text}' — register its GraftTable " +
          "root in the catalog map"))
    val vBefore = GraftTable.currentVersion(root)
    exec(spark, tables, stmt)
    val vAfter = GraftTable.currentVersion(root)
    val affected = GraftTable.changes(spark, root, vBefore, vAfter)
      .filter(org.apache.spark.sql.functions.col("change_type") ===
        (if (head == "delete") "delete" else "insert"))
      .drop("change_type")
    if (retList == "*") affected
    else affected.selectExpr(
      splitTop(tokenize(retList))(_.is(",")).map(item =>
        DuckDialect.translateIn(spark, render(item))): _*)
  }

  /** Execute one DML statement; returns the table root it mutated. */
  def exec(spark: SparkSession, tables: Map[String, String], sql: String): String = {
    val st = SessionSql.of(spark)
    // a RETURNING statement reaching the row-less face would otherwise
    // surface as an opaque predicate/source parse failure — route loudly
    val headWord = tokenize(sql).find(!_.isWs).map(_.word).getOrElse("")
    if ((headWord == "insert" || headWord == "update" || headWord == "delete") &&
        splitReturning(sql).isDefined)
      throw new GraftSqlException(
        "this statement has a RETURNING clause — use DuckDml.execReturning, " +
          "which runs the mutation and returns the affected rows")
    // ONE tokenization: `full` keeps whitespace (for re-rendering spans
    // verbatim), `toks` is the non-ws view all indices below refer to.
    val full = tokenize(sql.stripSuffix(";"))
    val toks = words(full)
    def w(i: Int): String = if (i < toks.length) toks(i).word else ""
    // bounds-safe token access: a truncated statement must refuse, not
    // throw IndexOutOfBounds
    def tok(i: Int): Tok =
      if (i < toks.length) toks(i)
      else throw new GraftSqlException(
        s"statement ended unexpectedly after '${toks.lastOption.map(_.text).getOrElse("")}'")
    // quoted table references resolve like bare ones (the column side
    // already strips quotes — identifiers are identifiers)
    def root(name: Tok): String = {
      val n = identText(name).toLowerCase
      tables.getOrElse(n,
        throw new GraftSqlException(
          s"unknown table '${name.text}' — register its GraftTable root in the catalog map"))
    }
    // original-text remainder starting at non-ws token index `i`
    def rest(i: Int): String = {
      tok(i) // bounds check with the loud refusal
      var seen = 0; var j = 0
      while (j < full.length) {
        if (!full(j).isWs) {
          if (seen == i) return render(full.drop(j))
          seen += 1
        }
        j += 1
      }
      throw new GraftSqlException("statement ended unexpectedly") // unreachable
    }
    def sourceQuery(fromTok: Int): DataFrame = {
      val src = DuckDialect.translateIn(spark, rest(fromTok))
      tables.get("__dir") match {
        case Some(dir) => graft.Tables.sql(spark, dir, src)
        case None => spark.sql(src)
      }
    }
    w(0) match {
      case "prepare" =>
        // PREPARE name AS <statement> — stores the RAW text; binding and
        // dialect translation happen at EXECUTE
        val name = identText(tok(1)).toLowerCase
        if (w(2) != "as")
          throw new GraftSqlException("PREPARE name AS <statement>")
        st.prepared.put(name, rest(3))
        s"prepared $name (${"$"}n/? slots bind at EXECUTE)"
      case "deallocate" =>
        val name = identText(tok(if (w(1) == "prepare") 2 else 1)).toLowerCase
        if (st.prepared.remove(name) == null)
          throw new GraftSqlException(s"no prepared statement named '$name'")
        s"deallocated $name"
      case "execute" =>
        // EXECUTE of a prepared DML statement — the query face is
        // DuckDialect.run, which resolves EXECUTE for SELECTs
        exec(spark, tables, resolveExecute(st, sql).get)
      case "create" =>
        // CREATE [OR REPLACE] MACRO name(params) AS body → registered as
        // a SQL-text macro of the session, inlined by DuckDialect.translate
        // at every call site (reference `create_macro_info.hpp`; DuckDB macros
        // inline at bind time — textual inlining is the faithful twin,
        // and the expansion stays inside whole-stage codegen)
        val macroAt =
          if (w(1) == "macro") 1
          else if (w(1) == "or" && w(2) == "replace" && w(3) == "macro") 3
          else -1
        if (macroAt > 0) {
          val name = identText(tok(macroAt + 1))
          if (!tok(macroAt + 2).is("("))
            throw new GraftSqlException("CREATE MACRO needs a parameter list: name(a, b)")
          val params = Seq.newBuilder[String]
          var i = macroAt + 3
          while (!tok(i).is(")")) {
            if (tok(i).is(",")) ()
            else if (tok(i).kind == 4 || tok(i).kind == 3) params += identText(tok(i))
            else throw new GraftSqlException(
              s"macro parameters must be plain identifiers, got '${tok(i).text}'")
            i += 1
          }
          if (w(i + 1) != "as")
            throw new GraftSqlException("CREATE MACRO name(params) AS <expression>")
          st.registerMacro(name, params.result(), rest(i + 2))
          return s"macro $name registered (${params.result().length} params, inlined at call sites)"
        }
        // CREATE TABLE <name> AS <query> — materializes version 1 at the
        // catalog root registered for <name>
        if (w(1) != "table") throw new GraftSqlException("CREATE must be CREATE TABLE or CREATE MACRO")
        val r = root(tok(2))
        if (w(3) != "as")
          throw new GraftSqlException(
            "only CREATE TABLE … AS SELECT is supported (schema-only CREATE needs a typed API: GraftTable.create)")
        // an initialized root means live data: DuckDB raises "table
        // already exists" here, and silently re-creating would orphan
        // every existing manifest version (time travel would mix old
        // manifests with the new v1) — refuse instead
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$r/_current")))
          throw new GraftSqlException(
            s"table '${tok(2).text}' already exists at $r — DROP it (remove the root) first; " +
              "CREATE OR REPLACE is not supported")
        st.refuseInTxn("CREATE TABLE")
        GraftTable.create(spark, r, sourceQuery(4))
        r
      case "insert" =>
        // DuckDB's upsert spellings carry per-key conflict semantics a
        // blind append cannot honor — refuse with the equivalent face
        if (w(1) == "or")
          throw new GraftSqlException(
            s"INSERT OR ${tok(2).text.toUpperCase} is unsupported — upsert " +
              "semantics need a declared key; use MERGE (DuckDml) or " +
              "GraftTable.merge with explicit key columns")
        if (w(1) != "into") throw new GraftSqlException("INSERT must be INSERT INTO")
        val r = root(tok(2))
        st.touch(r)
        // ON CONFLICT (reference `physical_insert.cpp` DO NOTHING /
        // DO UPDATE): the conflict clause is parsed AFTER the source
        // query span is bounded, below
        val conflictIdx = toks.indices.dropRight(1).find(j =>
          toks(j).word == "on" && toks(j + 1).word == "conflict").getOrElse(-1)
        var i = 3
        var cols: Seq[String] = Nil
        if (i < toks.length && toks(i).is("(")) {
          // column list: identifiers (bare or quoted) until the matching )
          val end = toks.indexWhere(_.is(")"), i)
          if (end < 0) throw new GraftSqlException("unbalanced ( ) in INSERT column list")
          val listed = toks.slice(i + 1, end)
          val bad = listed.filterNot(t => t.kind == 4 || t.kind == 3 || t.is(","))
          if (bad.nonEmpty)
            throw new GraftSqlException(
              s"INSERT column list must be identifiers, got '${bad.head.text}'")
          cols = listed.filter(t => t.kind == 4 || t.kind == 3).map(identText)
          i = end + 1
        }
        // remainder up to any ON CONFLICT is the source query (VALUES …
        // or SELECT …), dialect-translated; fixture views are registered
        // only when the caller provides the reserved "__dir" catalog key
        val df0 =
          if (conflictIdx < 0) sourceQuery(i)
          else {
            val srcSql = DuckDialect.translateIn(spark, 
              toks.slice(i, conflictIdx).map(_.text).mkString(" "))
            tables.get("__dir") match {
              case Some(dir) => graft.Tables.sql(spark, dir, srcSql)
              case None => spark.sql(srcSql)
            }
          }
        // SQL INSERT is positional: with no column list the source maps
        // to the full table schema in order; with one, to those columns —
        // and unlisted table columns are NULL-filled (SQL semantics).
        // The list is validated (a typo must be loud, not a silent NULL)
        // and canonicalized case-insensitively (SQL identifiers are).
        val schema = GraftTable.schemaOf(r)
        val canon = schema.fieldNames.map(f => f.toLowerCase -> f).toMap
        val target =
          if (cols.isEmpty) schema.fieldNames.toSeq
          else cols.map(c => canon.getOrElse(c.toLowerCase,
            throw new GraftSqlException(
              s"unknown column '$c' in INSERT column list (table has ${schema.fieldNames.mkString(", ")})")))
        if (df0.columns.length != target.length)
          throw new GraftSqlException(
            s"INSERT arity mismatch: ${df0.columns.length} source columns for ${target.length} target columns")
        val named = df0.toDF(target: _*)
        val filled = schema.fieldNames.filterNot(target.contains)
          .foldLeft(named)((d, c) => d.withColumn(c,
            org.apache.spark.sql.functions.lit(null)
              .cast(schema(c).dataType)))
        if (conflictIdx < 0) { GraftTable.insert(spark, r, filled); r }
        else {
          // `ON CONFLICT (keys) DO NOTHING | DO UPDATE SET c = excluded.c …`
          // (reference `physical_insert.cpp` OnConflictAction). The key
          // list is REQUIRED (DuckDB infers it from a unique index;
          // GraftTable has none to infer from). DO UPDATE supports the
          // full-row-upsert form only — every non-key column assigned
          // `col = excluded.col` — which is exactly GraftTable.merge's
          // WHEN MATCHED THEN UPDATE SET * semantics; partial updates and
          // expression assignments refuse with the recipe.
          var j = conflictIdx + 2
          if (j >= toks.length || !toks(j).is("("))
            throw new GraftSqlException(
              "ON CONFLICT needs an explicit (key, …) target — GraftTable has no " +
                "unique index to infer the conflict key from")
          val close = toks.indexWhere(_.is(")"), j)
          if (close < 0) throw new GraftSqlException("unbalanced ( ) in ON CONFLICT target")
          val keys = toks.slice(j + 1, close)
            .filter(t => t.kind == 4 || t.kind == 3).map(identText)
            .map(c => canon.getOrElse(c.toLowerCase,
              throw new GraftSqlException(
                s"unknown column '$c' in ON CONFLICT target (table has ${schema.fieldNames.mkString(", ")})")))
          if (keys.isEmpty) throw new GraftSqlException("empty ON CONFLICT target")
          j = close + 1
          if (w(j) != "do")
            throw new GraftSqlException("ON CONFLICT must be followed by DO NOTHING or DO UPDATE SET")
          if (w(j + 1) == "nothing") {
            if (j + 2 < toks.length)
              throw new GraftSqlException(
                s"unexpected tokens after DO NOTHING: '${toks(j + 2).text}…'")
            // duplicate conflict keys WITHIN the source would make the
            // surviving row depend on partition order — refuse, same
            // cardinality contract as GraftTable.merge
            import org.apache.spark.sql.functions.{col, count, lit}
            val dup = filled.groupBy(keys.map(col): _*)
              .agg(count(lit(1)).as("__graft_cnt"))
              .filter(col("__graft_cnt") > 1).limit(1).collect()
            if (dup.nonEmpty)
              throw new GraftSqlException(
                "ON CONFLICT DO NOTHING source has duplicate conflict keys " +
                  s"(e.g. ${dup.head.toSeq.init.mkString(",")}) — deduplicate per key first")
            val existing = GraftTable.read(spark, r).select(keys.map(col): _*)
            GraftTable.insert(spark, r,
              filled.join(existing, keys, "left_anti"))
            r
          } else if (w(j + 1) == "update" && w(j + 2) == "set") {
            val assignSpan = toks.drop(j + 3)
            val assigns = splitTop(assignSpan)(_.is(",")).map { item =>
              val parts = item.filterNot(_.isWs)
              // strictly `col = excluded . col` with the SAME column name
              val ok = parts.length == 5 &&
                (parts(0).kind == 4 || parts(0).kind == 3) &&
                parts(1).is("=") && parts(2).word == "excluded" &&
                parts(3).is(".") &&
                identText(parts(4)).toLowerCase == identText(parts(0)).toLowerCase
              if (!ok) throw new GraftSqlException(
                "ON CONFLICT DO UPDATE supports only the full-row upsert form " +
                  "`col = excluded.col` for every non-key column — for partial or " +
                  "computed updates use GraftTable.merge + updateWhere")
              canon.getOrElse(identText(parts(0)).toLowerCase,
                throw new GraftSqlException(
                  s"unknown column '${parts(0).text}' in DO UPDATE SET"))
            }
            val nonKeys = schema.fieldNames.toSeq.filterNot(keys.contains)
            if (assigns.toSet != nonKeys.toSet)
              throw new GraftSqlException(
                s"DO UPDATE SET must assign every non-key column exactly once " +
                  s"(expected ${nonKeys.mkString(", ")}; got ${assigns.mkString(", ")}) — " +
                  "partial updates: GraftTable.merge + updateWhere")
            GraftTable.merge(spark, r, filled, keys)
            r
          } else throw new GraftSqlException(
            "ON CONFLICT must be followed by DO NOTHING or DO UPDATE SET")
        }
      case "delete" =>
        if (w(1) != "from") throw new GraftSqlException("DELETE must be DELETE FROM")
        val r = root(tok(2))
        if (w(3) != "where")
          throw new GraftSqlException("DELETE without WHERE is refused; use WHERE true to empty a table")
        st.touch(r)
        GraftTable.delete(spark, r, expr(DuckDialect.translateIn(spark, rest(4))))
        r
      case "update" =>
        val r = root(tok(1))
        st.touch(r)
        if (w(2) != "set") throw new GraftSqlException("UPDATE must be UPDATE <table> SET")
        // assignments: depth-0 comma-separated `col = expr`, up to WHERE
        val setAt = firstTop(full)(_.word == "set")
        val whereAt = firstTop(full)(_.word == "where")
        val assignSpan = full.slice(setAt + 1, if (whereAt < 0) full.length else whereAt)
        // multi-table UPDATE (a top-level FROM in the assignment span) is
        // unsupported — refuse with the typed error, not a leaked Spark
        // ParseException from the fragment
        if (firstTop(assignSpan)(_.word == "from") >= 0)
          throw new GraftSqlException(
            "multi-table UPDATE … FROM is unsupported — express the join as a " +
              "MERGE (GraftTable.merge) or pre-compute the values into the predicate")
        // SET targets canonicalize case-insensitively through the table
        // schema, same as the INSERT column list (SQL identifiers are
        // case-insensitive; GraftTable.update requires exact field names)
        val schema = GraftTable.schemaOf(r)
        val canon = schema.fieldNames.map(f => f.toLowerCase -> f).toMap
        val assigns = splitTop(assignSpan)(_.is(",")).map { item =>
          val eq = firstTop(item)(_.is("="))
          if (eq < 0) throw new GraftSqlException("UPDATE SET items must be col = expr")
          val colName = item.take(eq).filterNot(_.isWs) match {
            case Vector(t) if t.kind == 4 || t.kind == 3 => identText(t)
            case _ => throw new GraftSqlException("UPDATE SET target must be a single column")
          }
          val target = canon.getOrElse(colName.toLowerCase,
            throw new GraftSqlException(
              s"unknown column '$colName' in UPDATE SET (table has ${schema.fieldNames.mkString(", ")})"))
          target -> expr(DuckDialect.translateIn(spark, render(item.drop(eq + 1))))
        }
        // duplicate targets would silently last-win through toMap; DuckDB
        // (and the SQL standard) reject multiple assignments to a column
        val dup = assigns.map(_._1).groupBy(identity).collectFirst {
          case (c, occ) if occ.length > 1 => c }
        dup.foreach(c => throw new GraftSqlException(
          s"multiple assignments to column '$c' in UPDATE SET"))
        val pred =
          if (whereAt < 0) expr("true")
          else expr(DuckDialect.translateIn(spark, render(full.drop(whereAt + 1))))
        GraftTable.update(spark, r, pred, assigns.toMap)
        r
      // maintenance statements (reference
      // `src/execution/operator/helper/physical_vacuum.cpp` and the
      // checkpointer's block merge): VACUUM reclaims unreferenced files,
      // CHECKPOINT merges small data files into target-size ones — the
      // manifest-table analogs of the reference's storage maintenance
      // (CHECKPOINT also drops the rows deletion vectors mark).
      case "vacuum" =>
        st.refuseInTxn("VACUUM")
        val r = root(tok(1))
        val keep =
          if (w(2) == "keep") {
            val t = tok(3)
            if (t.kind != 5 || !t.text.forall(_.isDigit)) throw new GraftSqlException(
              "VACUUM <table> KEEP <n>: n must be an integer version count")
            t.text.toInt
          } else if (toks.length > 2)
            throw new GraftSqlException(
              s"unexpected token after VACUUM target: '${tok(2).text}' " +
                "(supported: VACUUM <table> [KEEP <versions>])")
          else 1
        val removed = graft.sources.GraftTable.vacuum(r, keep)
        s"vacuum: removed $removed data files, kept $keep version(s)"
      case "checkpoint" =>
        st.refuseInTxn("CHECKPOINT")
        val r = root(tok(1))
        val targetMb =
          if (toks.length > 2) {
            val t = tok(2)
            if (t.kind != 5 || !t.text.forall(_.isDigit)) throw new GraftSqlException(
              "CHECKPOINT <table> [<target MB>]: target must be an integer")
            t.text.toInt
          } else 128
        val v = graft.sources.GraftTable.compact(spark, r, targetMb.toLong << 20)
        s"checkpoint: table at version $v (target ${targetMb} MB)"
      case "attach" =>
        // ATTACH '<dir>' AS <alias> (reference `ATTACH 'file.db' AS
        // name`): a directory of fixture parquet IS a catalog here —
        // registers one `<alias>__<table>` temp view per table present
        // and the session's alias for DuckDialect's qualified-ref
        // rewrite, so pasted `alias.table` SQL resolves cross-catalog.
        val p = tok(1)
        if (p.kind != 2)
          throw new GraftSqlException("ATTACH needs a quoted directory path")
        val dir = p.text.substring(1, p.text.length - 1).replace("''", "'")
        if (w(2) != "as")
          throw new GraftSqlException("ATTACH '<dir>' AS <alias>")
        val alias = identText(tok(3)).toLowerCase
        if (st.attached.containsKey(alias))
          throw new GraftSqlException(s"catalog '$alias' is already attached")
        val found = graft.Tables.names.filter(n =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$n.parquet")))
        if (found.isEmpty)
          throw new GraftSqlException(s"no fixture tables found under $dir")
        found.foreach(n =>
          graft.Tables.t(spark, dir, n).createOrReplaceTempView(s"${alias}__$n"))
        st.attached.put(alias, dir)
        s"attached $dir AS $alias (${found.length} tables)"
      case "detach" =>
        val alias = identText(tok(1)).toLowerCase
        if (st.attached.remove(alias) == null)
          throw new GraftSqlException(s"no attached catalog named '$alias'")
        graft.Tables.names.foreach(n =>
          spark.catalog.dropTempView(s"${alias}__$n"))
        s"detached $alias"
      case "export" =>
        // EXPORT DATABASE '<outdir>' (reference `EXPORT DATABASE`):
        // every fixture table of the session dir → parquet under
        // <outdir> plus a load.sql of view definitions — the re-import
        // script DuckDB's EXPORT also writes.
        st.refuseInTxn("EXPORT DATABASE")
        if (w(1) != "database")
          throw new GraftSqlException("EXPORT must be EXPORT DATABASE '<dir>'")
        val o = tok(2)
        if (o.kind != 2)
          throw new GraftSqlException("EXPORT DATABASE needs a quoted directory path")
        val outDir = o.text.substring(1, o.text.length - 1).replace("''", "'")
        val srcDir = tables.getOrElse("__dir",
          throw new GraftSqlException(
            "EXPORT DATABASE needs the fixture dir under the reserved '__dir' catalog key"))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val exported = graft.Tables.names.filter(n =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(s"$srcDir/$n.parquet")))
        exported.foreach(n => graft.Tables.t(spark, srcDir, n)
          .write.mode("overwrite").parquet(s"$outDir/$n.parquet"))
        // Spark writes `<n>.parquet` as a DIRECTORY of part files; DuckDB
        // cannot open a bare directory path, so the re-import script must
        // glob the parts for the engine it imitates.
        val load = exported.map(n =>
          s"CREATE VIEW $n AS SELECT * FROM '$outDir/$n.parquet/*.parquet';").mkString("\n")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/load.sql"), load)
        s"exported ${exported.length} tables to $outDir"
      case "begin" | "start" =>
        // BEGIN [TRANSACTION|WORK] / START TRANSACTION
        st.begin()
        "BEGIN"
      case "commit" | "end" =>
        val m = st.end().getOrElse(throw new GraftSqlException("no transaction is active"))
        s"COMMIT (${m.size} table(s))"
      case "rollback" | "abort" =>
        val m = st.end().getOrElse(throw new GraftSqlException("no transaction is active"))
        m.foreach { case (r, v) => graft.sources.GraftTable.restore(r, v) }
        s"ROLLBACK (${m.size} table(s) restored)"
      case other =>
        throw new GraftSqlException(
          s"unsupported DML statement '$other' — supported: INSERT INTO, DELETE FROM, " +
            "UPDATE … SET, BEGIN/COMMIT/ROLLBACK, VACUUM, CHECKPOINT")
    }
  }
}
