package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.operators.Joins

/** Schema-aware scale rewrite for pasted DuckDB `ASOF JOIN` SQL.
  *
  * The token-level translator's ASOF form (`rewriteAsof`) is the
  * CORRECTNESS fallback: a lateral top-1 subquery that Spark decorrelates
  * into a domain join — O(|distinct order keys| × |right|), measured
  * ~160 s per query at sf0.1. This rewrite recognizes the canonical
  * single-join shape
  *
  *   `SELECT <sel> FROM <rel> [AS] a ASOF [LEFT|INNER] JOIN <rel> [AS] b
  *      ON a.k = b.k [AND …] AND a.ts >= b.ts [WHERE …/ORDER BY …/LIMIT …]`
  *
  * and reroutes it through [[Joins.asofJoin]] — the union + window plan
  * (one shuffle on the equality keys, no domain product), the same
  * operator the `join_asof` oracle entries pin. Anything outside the
  * shape returns None and falls back to the lateral translation, so this
  * is a pure fast path: refuse-nothing, never-wrong-answers.
  *
  * Shape contract (checked, else None):
  *   - single ASOF join, no other joins in the FROM;
  *   - both relations are table names or parenthesized subqueries (run
  *     through the normal dialect translation themselves);
  *   - every ON conjunct is `alias.col <cmp> alias.col` with one side
  *     each; exactly one inequality conjunct;
  *   - the select list has no `*` (DuckDB's ASOF star includes the right
  *     side's key columns — the lateral form preserves that faithfully);
  *   - every qualified column reference uses one of the two aliases.
  *
  * Unbalanced brackets raise `GraftSqlException`, as on every other
  * dialect face.
  */
object AsofRewrite {
  import DuckDialect.{Tok, firstTop, matching, nextIdx, render, scopeEnd, splitTop, tokenize}

  private val clauseKw = Set("where", "group", "having", "order", "limit",
    "offset", "union", "intersect", "except", "qualify", "window")
  private val joinKw = Set("join", "inner", "left", "right", "full", "cross",
    "asof", "natural", "positional", "lateral", "anti", "semi")
  private val cmps = Set("=", ">=", "<=", ">", "<")

  /** One relation ref: (token span of the relation itself, alias). */
  private def relation(v: Vector[Tok], start: Int): Option[(Int, Int, String, Int)] = {
    var k = start
    if (k >= v.length) return None
    if (v(k).is("(")) {
      val close = matching(v, k)
      var a = nextIdx(v, close)
      if (a < v.length && v(a).word == "as") a = nextIdx(v, a)
      if (a >= v.length || v(a).kind != 4 || joinKw(v(a).word) || v(a).word == "on")
        return None // subqueries need an explicit alias
      Some((k, close + 1, v(a).word, a + 1))
    } else if (v(k).kind == 4 && !joinKw(v(k).word)) {
      val name = v(k).word
      var a = nextIdx(v, k)
      var alias = name
      var end = k + 1
      if (a < v.length && v(a).word == "as") {
        a = nextIdx(v, a)
        if (a >= v.length || v(a).kind != 4) return None
        alias = v(a).word; end = a + 1
      } else if (a < v.length && v(a).kind == 4 && !joinKw(v(a).word) &&
          v(a).word != "on" && !clauseKw(v(a).word)) {
        alias = v(a).word; end = a + 1
      }
      Some((k, end, alias, end))
    } else None
  }

  /** `alias.col` as (alias, col) when the non-ws tokens match exactly. */
  private def qualRef(toks: Seq[Tok]): Option[(String, String)] = {
    val t = toks.filterNot(_.isWs)
    if (t.length == 3 && t(0).kind == 4 && t(1).is(".") && t(2).kind == 4)
      Some((t(0).word, t(2).word))
    else None
  }

  def maybeRun(spark: SparkSession, dir: String, duckSql: String): Option[DataFrame] = {
    val v = tokenize(duckSql)
    val first = v.find(!_.isWs).map(_.word).getOrElse("")
    if (first != "select") return None
    // no star anywhere in the select list (checked below); find depth-0 FROM
    val fromAt = firstTop(v)(_.word == "from")
    if (fromAt < 0) return None
    val selStart = v.indexWhere(t => t.kind == 4 && t.word == "select") + 1
    val sel = v.slice(selStart, fromAt)
    if (sel.exists(_.is("*"))) return None
    // left relation
    val (lRelS, lRelE, la, afterL) = relation(v, nextIdx(v, fromAt)).getOrElse(return None)
    var k = afterL
    while (k < v.length && v(k).isWs) k += 1
    if (k >= v.length || v(k).word != "asof") return None
    var j = nextIdx(v, k)
    var joinType = "inner"
    if (j < v.length && v(j).word == "left") { joinType = "left"; j = nextIdx(v, j) }
    else if (j < v.length && v(j).word == "inner") j = nextIdx(v, j)
    else if (j < v.length && v(j).word == "right") { joinType = "right"; j = nextIdx(v, j) }
    else if (j < v.length && v(j).word == "full") { joinType = "full"; j = nextIdx(v, j) }
    if (j >= v.length || v(j).word != "join") return None
    val (rRelS, rRelE, ra, afterR) = relation(v, nextIdx(v, j)).getOrElse(return None)
    if (la == ra) return None
    var onAt = afterR
    while (onAt < v.length && v(onAt).isWs) onAt += 1
    if (onAt >= v.length || v(onAt).word != "on") return None
    // condition span to depth-0 clause keyword; a comma, another join or
    // the end of an enclosing bracket is outside the shape
    val scope = scopeEnd(v, onAt + 1)
    val stop = firstTop(v, onAt + 1, scope)(t =>
      clauseKw(t.word) || joinKw(t.word) || t.is(","))
    val cEnd = if (stop < 0) scope else stop
    if (cEnd < v.length && !clauseKw(v(cEnd).word)) return None
    val cond = v.slice(onAt + 1, cEnd)
    val trailing = v.slice(cEnd, v.length)
    val conjuncts = splitTop(cond)(_.word == "and")
    // each conjunct: alias.col <cmp> alias.col
    case class Cj(lsAlias: String, lsCol: String, cmp: String,
      rsAlias: String, rsCol: String)
    val parsed = conjuncts.map { c =>
      val t = c.filterNot(_.isWs)
      if (t.length == 7 && t(1).is(".") && t(5).is(".") &&
          t(0).kind == 4 && t(2).kind == 4 && t(4).kind == 4 && t(6).kind == 4 &&
          cmps(t(3).text))
        Cj(t(0).word, t(2).word, t(3).text, t(4).word, t(6).word)
      else return None
    }
    def orient(c: Cj): Option[(String, String, String)] =
      // (left col, cmp as seen from left, right col)
      if (c.lsAlias == la && c.rsAlias == ra) Some((c.lsCol, c.cmp, c.rsCol))
      else if (c.lsAlias == ra && c.rsAlias == la)
        Some((c.rsCol, c.cmp match {
          case ">=" => "<="; case "<=" => ">="; case ">" => "<"
          case "<" => ">"; case o => o
        }, c.lsCol))
      else None
    val oriented = parsed.map(c => orient(c).getOrElse(return None))
    val (eqs, ineqs) = oriented.partition(_._2 == "=")
    if (ineqs.length != 1 || eqs.isEmpty) return None
    val (leftOrder, op, rightOrder) = ineqs.head
    // resolve relations through the normal translation path
    def resolve(s0: Int, e0: Int): DataFrame = {
      val rel = render(v.slice(s0, e0)).trim
      val body = if (rel.startsWith("(")) rel else s"(SELECT * FROM $rel)"
      Tables.sql(spark, dir, DuckDialect.translateIn(spark, s"SELECT * FROM $body __asof_rel"))
    }
    val leftDF = try resolve(lRelS, lRelE) catch { case _: Exception => return None }
    val rightDF0 = try resolve(rRelS, rRelE) catch { case _: Exception => return None }
    // align right eq-key names to the left's
    val rightDF = eqs.foldLeft(rightDF0) { case (df, (lc, _, rc)) =>
      if (lc == rc) df else df.withColumnRenamed(rc, lc)
    }
    val keys = eqs.map(_._1)
    if (!keys.forall(leftDF.columns.contains) ||
        !keys.forall(rightDF.columns.contains) ||
        !leftDF.columns.contains(leftOrder) ||
        !rightDF.columns.contains(rightOrder)) return None
    val joined =
      try {
        joinType match {
          case "right" =>
            Joins.asofJoinRight(leftDF, rightDF, keys, leftOrder, rightOrder, op)
          case "full" =>
            Joins.asofJoinFull(leftDF, rightDF, keys, leftOrder, rightOrder, op)
          case jt =>
            Joins.asofJoin(leftDF, rightDF, keys, leftOrder, rightOrder, op, jt)
        }
      } catch { case _: Exception => return None }
    // name maps for qualified references in SELECT/trailing clauses
    val lCols = leftDF.columns.toSet
    val rPayload = rightDF.columns.filterNot(keys.contains)
    val collide = rPayload.filter(lCols.contains).toSet
    // RIGHT/FULL keep the right keys as distinct `_r` columns (padded
    // rows carry them under NULL left keys); LEFT/INNER merge them
    val rKeyMap: Map[String, String] =
      if (joinType == "right" || joinType == "full")
        eqs.map { case (lc, _, rc) => rc -> (lc + "_r") }.toMap
      else keys.map(c => c -> c).toMap
    val rMap: Map[String, String] =
      rPayload.map(c => c -> (if (collide(c)) c + "_r" else c)).toMap ++ rKeyMap
    // rewrite alias-qualified refs; bail on unknown qualifiers/columns
    def rewriteRefs(toks: Seq[Tok]): Option[Seq[Tok]] = {
      val out = Vector.newBuilder[Tok]
      var x = 0
      val tv = toks.toVector
      while (x < tv.length) {
        val t = tv(x)
        val n1 = nextIdx(tv, x)
        val n2 = if (n1 < tv.length) nextIdx(tv, n1) else tv.length
        if (t.kind == 4 && n1 < tv.length && tv(n1).is(".") &&
            n2 < tv.length && tv(n2).kind == 4) {
          val (q, c) = (t.word, tv(n2).word)
          if (q == la) {
            if (!lCols.contains(c)) return None
            out += Tok(4, c); x = n2 + 1
          } else if (q == ra) {
            rMap.get(c) match {
              case Some(m) => out += Tok(4, m); x = n2 + 1
              case None => return None
            }
          } else return None // unknown qualifier — lateral path handles it
        } else { out += t; x += 1 }
      }
      Some(out.result())
    }
    val sel2 = rewriteRefs(sel).getOrElse(return None)
    val tr2 = rewriteRefs(trailing).getOrElse(return None)
    val view = s"__graft_asof_${System.identityHashCode(joined).toHexString}"
    joined.createOrReplaceTempView(view)
    val outer = s"SELECT ${render(sel2)} FROM $view ${render(tr2)}"
    try Some(Tables.sql(spark, dir, DuckDialect.translateIn(spark, outer)))
    catch { case _: Exception => None }
  }
}
