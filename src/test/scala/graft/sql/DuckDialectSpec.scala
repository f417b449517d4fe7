package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import DuckDialect.{translate, GraftSqlException}

/** String-level contract of the DuckDB→Spark dialect rewriter. The
  * value-level contract (translated SQL ≡ DuckDB on the same relations)
  * is pinned by the `ducksql_*` entries at the driver's oracle gate;
  * here we pin the REWRITES themselves: what changes, what must never
  * change (literals, quoted identifiers, comments), and what is refused
  * loudly instead of translated wrong.
  */
class DuckDialectSpec extends AnyFunSuite {

  private def norm(s: String) = s.replaceAll("\\s+", " ").trim

  test("// becomes DIV, but never inside a string literal or comment") {
    assert(norm(translate("SELECT a // b FROM t")) == "SELECT a DIV b FROM t")
    assert(translate("SELECT 'a // b' AS s FROM t").contains("'a // b'"))
    assert(translate("SELECT a FROM t -- c // d").contains("-- c // d"))
    assert(translate("SELECT a /* x // y */ FROM t").contains("/* x // y */"))
  }

  test("function renames fire only at call sites") {
    assert(norm(translate("SELECT len(s) FROM t")) == "SELECT length(s) FROM t")
    // `len` as a plain identifier (column named len) is left alone
    assert(norm(translate("SELECT len FROM t")) == "SELECT len FROM t")
    assert(translate("SELECT list_contains(list_value(1,2), x) FROM t")
      .contains("array_contains(array(1,2), x)"))
    assert(translate("SELECT strpos(a, 'x') FROM t").contains("instr(a, 'x')"))
    assert(translate("SELECT regexp_matches(a, 'p') FROM t").contains("regexp_like(a, 'p')"))
    // array_to_string is structural since round 16 (empty list → NULL in
    // DuckDB vs '' in array_join — probed): the rewrite guards size()=0
    assert(norm(translate("SELECT list_sort(l), array_to_string(l, '-'), list_max(l) FROM t"))
      .contains("array_sort(l), (CASE WHEN size((l)) = 0 THEN NULL " +
        "ELSE array_join((l), ('-')) END), array_max(l)"))
    // structurally different list fns rewrite (round 14; probed on 1.0.0)
    assert(norm(translate("SELECT list_slice(l, 2, 4) FROM t"))
      .contains("slice((l), 2, 3)"))
    assert(norm(translate("SELECT list_slice(l, -3, -1) FROM t"))
      .contains("slice((l), -3, 3)"))
    assert(norm(translate("SELECT list_slice(l, 3, 2) FROM t"))
      .contains("slice((l), 3, 0)"), "e<b folds to an empty window, never a negative length")
    // non-literal / mixed-sign / zero endpoints take the general
    // size-normalized form (round 16; every corner probed on 1.0.0)
    val dyn = norm(translate("SELECT list_slice(l, a, b) FROM t"))
    // r16 advice: arguments bind ONCE into a struct (non-deterministic
    // endpoints must evaluate exactly once, like DuckDB); the clamp
    // arithmetic references only the bound struct fields
    assert(dyn.contains("transform(array(struct((l) AS gl, (a) AS gb, (b) AS ge))"))
    assert(dyn.contains("CASE WHEN g.gl IS NULL OR g.gb IS NULL OR g.ge IS NULL THEN NULL"))
    assert(dyn.contains("greatest(CASE WHEN g.gb < 0 THEN size(g.gl) + g.gb + 1 ELSE g.gb END, 1)"))
    assert(dyn.contains("least(CASE WHEN g.ge < 0 THEN size(g.gl) + g.ge + 1 ELSE g.ge END, size(g.gl))"))
    // each argument expression appears exactly once in the output
    assert("\\(l\\)".r.findAllIn(dyn).length == 1, dyn)
    assert("\\(a\\)".r.findAllIn(dyn).length == 1, dyn)
    assert("\\(b\\)".r.findAllIn(dyn).length == 1, dyn)
    assert(norm(translate("SELECT list_slice(l, 2, -2) FROM t"))
      .contains("CASE WHEN"), "mixed-sign literals route through the general form")
    // (non-literal / mixed-sign endpoints translated since round 16 —
    // asserted above via the general size-normalized form)
    assert(norm(translate("SELECT list_prepend(0, l) FROM t"))
      .contains("array_prepend((l), (0))"))
    assert(norm(translate("SELECT list_reverse_sort(l) FROM t"))
      .contains("sort_array((l), false)"))
    val lc = norm(translate("SELECT list_concat(a, b) FROM t"))
    assert(lc.contains("WHEN (a) IS NULL AND (b) IS NULL THEN NULL") &&
      lc.contains("concat(ifnull((a), array()), ifnull((b), array()))"))
  }

  test("string_split's literal separator is regex-escaped for Spark's split") {
    // '.' is a plain character to DuckDB but a regex metachar to Spark
    assert(translate("SELECT string_split(a, '.') FROM t").contains("split(a, '\\\\.')"))
    // inert separators pass through unchanged
    assert(translate("SELECT string_split(a, '_') FROM t").contains("split(a, '_')"))
    // non-literal separator: left for the engine (documented contract)
    assert(translate("SELECT string_split(a, sep) FROM t").contains("split(a, sep)"))
  }

  test("star EXCLUDE becomes star EXCEPT; scalar replace() is untouched") {
    assert(norm(translate("SELECT * EXCLUDE (a, b) FROM t")) == "SELECT * EXCEPT (a, b) FROM t")
    assert(translate("SELECT replace(s, 'a', 'b') FROM t").contains("replace(s, 'a', 'b')"))
    // paren-less single-column EXCLUDE (valid DuckDB) gains the parens
    assert(norm(translate("SELECT * EXCLUDE city FROM t")) == "SELECT * EXCEPT(city) FROM t")
  }

  test("QUALIFY followed by a set operation keeps the other branch intact") {
    val out = norm(translate(
      "SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1 UNION ALL SELECT b FROM u"))
    assert(out.contains("WHERE __graft_q UNION ALL SELECT b FROM u"))
    assert(!out.contains("UNION ALL SELECT b FROM u ) AS __graft_q"))
  }

  test("QUALIFY in a LATER set-operation branch rewrites only that branch") {
    val out = norm(translate(
      "SELECT a FROM t UNION ALL SELECT b FROM u QUALIFY row_number() OVER (ORDER BY b) = 1"))
    assert(out.startsWith("SELECT a FROM t UNION ALL SELECT * EXCEPT(__graft_q) FROM (SELECT b , ("))
    assert(out.contains(") AS __graft_q FROM u ) graft_qualify WHERE __graft_q"))
  }

  test("star REPLACE expands to EXCEPT plus re-projections") {
    val out = norm(translate("SELECT * REPLACE (x + 1 AS x, upper(y) AS y) FROM t"))
    assert(out.contains("* EXCEPT (x, y)"))
    assert(out.contains("x + 1 AS x"))
    assert(out.contains("upper(y) AS y"))
  }

  test("bare VARCHAR maps to STRING; VARCHAR(n) is preserved") {
    assert(translate("SELECT a::VARCHAR FROM t").contains("::STRING"))
    assert(translate("SELECT CAST(a AS VARCHAR(10)) FROM t").contains("VARCHAR(10)"))
  }

  test("read_parquet('p') becomes a direct-path parquet scan") {
    assert(translate("SELECT * FROM read_parquet('/d/x.parquet')")
      .contains("parquet.`/d/x.parquet`"))
  }

  test("QUALIFY lifts the predicate into a subquery column + WHERE") {
    val out = norm(translate(
      "SELECT a, b FROM t QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) = 1 ORDER BY a LIMIT 5"))
    assert(out.contains("SELECT * EXCEPT(__graft_q) FROM (SELECT a, b , ("))
    assert(out.contains(") AS __graft_q FROM t ) graft_qualify WHERE __graft_q"))
    assert(out.endsWith("ORDER BY a LIMIT 5"))
  }

  test("QUALIFY rewrites inside CTE bodies and subqueries (innermost first)") {
    val out = translate(
      "WITH c AS (SELECT a FROM t QUALIFY rank() OVER (ORDER BY a) = 1) SELECT * FROM c")
    assert(out.contains("graft_qualify"))
    assert(out.toLowerCase.indexOf("qualify") > 0) // only the alias survives
    assert(!out.matches("(?is).*\\bQUALIFY\\b.*"))
  }

  test("DISTINCT ON becomes row_number() = 1 over the ORDER BY") {
    val out = norm(translate(
      "SELECT DISTINCT ON (g) g, v FROM t ORDER BY g, v DESC"))
    assert(out.contains("row_number() OVER (PARTITION BY g ORDER BY g, v DESC) AS __graft_rn"))
    assert(out.contains("WHERE __graft_rn = 1 ORDER BY g, v DESC"))
  }

  test("IGNORE/RESPECT NULLS moves from inside the argument list to after the call") {
    assert(norm(translate("SELECT last_value(x IGNORE NULLS) OVER (ORDER BY k) FROM t"))
      == "SELECT last_value(x ) IGNORE NULLS OVER (ORDER BY k) FROM t")
    assert(translate("SELECT nth_value(x, 2 RESPECT NULLS) OVER (ORDER BY k) FROM t")
      .contains(") RESPECT NULLS OVER"))
    // Spark-style (already outside) is untouched
    assert(norm(translate("SELECT last_value(x) IGNORE NULLS OVER (ORDER BY k) FROM t"))
      == "SELECT last_value(x) IGNORE NULLS OVER (ORDER BY k) FROM t")
  }

  test("ASOF JOIN becomes a LATERAL nearest-row subquery") {
    val out = norm(translate(
      "SELECT a.x, p.y FROM a ASOF JOIN prices p ON a.k = p.k AND a.t >= p.t"))
    assert(out.contains("JOIN LATERAL (SELECT p.* FROM prices p WHERE a.k = p.k AND a.t >= p.t ORDER BY p.t DESC LIMIT 1) p"))
    // LEFT variant keeps unmatched left rows; <= flips the order direction
    val l = norm(translate(
      "SELECT * FROM a ASOF LEFT JOIN b ON a.k = b.k AND a.t <= b.t"))
    assert(l.contains("LEFT JOIN LATERAL"))
    assert(l.contains("ORDER BY b.t ASC LIMIT 1"))
    // subquery right side with alias (the reference's own oracle shape)
    val s = norm(translate(
      "SELECT c.id, p.ts FROM c ASOF LEFT JOIN (SELECT * FROM ev WHERE k = 1) p ON c.u = p.u AND c.ts >= p.ts"))
    assert(s.contains("LEFT JOIN LATERAL (SELECT p.* FROM (SELECT * FROM ev WHERE k = 1) p WHERE"))
  }

  test("ASOF refusals: RIGHT/FULL, zero or two inequalities, unqualified sides") {
    intercept[GraftSqlException](translate(
      "SELECT * FROM a ASOF RIGHT JOIN b ON a.k = b.k AND a.t >= b.t"))
    intercept[GraftSqlException](translate(
      "SELECT * FROM a ASOF JOIN b ON a.k = b.k"))
    intercept[GraftSqlException](translate(
      "SELECT * FROM a ASOF JOIN b ON a.t >= b.t AND a.s < b.s"))
  }

  test("DISTINCT ON with a bare star hides the helper row number") {
    val out = norm(translate("SELECT DISTINCT ON (g) * FROM t ORDER BY g, v"))
    assert(out.startsWith("SELECT * EXCEPT(__graft_rn) FROM"))
  }

  test("UNION-type functions refuse with the struct+tag modeling pointer") {
    for (fn <- Seq("union_value(a := 1)", "union_extract(u, 'a')", "union_tag(u)")) {
      val e = intercept[GraftSqlException](translate(s"SELECT $fn FROM t"))
      assert(e.getMessage.contains("tagged sum"), s"wrong refusal for $fn")
    }
    // a plain column named union_tag must NOT trip the refusal
    translate("SELECT union_tag FROM t")
  }

  test("refusals: the constructs we cannot translate faithfully") {
    intercept[GraftSqlException](translate(
      "SELECT DISTINCT ON (g) g, v FROM t")) // no ORDER BY → nondeterministic
    // QUALIFY + GROUP BY ALL: the reference itself refuses (DuckDB
    // 1.0.0 binder error) — our refusal is parity, and says so
    assert(intercept[GraftSqlException](translate(
      "SELECT g, count(*) FROM t GROUP BY ALL QUALIFY rank() OVER (ORDER BY g) = 1"))
      .getMessage.contains("REFERENCE refuses"))
    intercept[GraftSqlException](translate("SELECT * REPLACE (x + 1) FROM t"))
  }

  test("QUALIFY with SELECT DISTINCT dedups AFTER the predicate (r16 item 3)") {
    // probed on 1.0.0: QUALIFY evaluates before DISTINCT, so the inner
    // subquery must be non-distinct and DISTINCT moves to the outer
    // projection
    val out = norm(translate(
      "SELECT DISTINCT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1"))
    assert(out.startsWith("SELECT DISTINCT * EXCEPT(__graft_q) FROM (SELECT a ,"), out)
    assert(!out.matches("(?is).*\\(\\s*SELECT\\s+DISTINCT.*"),
      "inner subquery must see pre-dedup rows")
    // DISTINCT ON still routes to its own rewrite, not this path
    val on = norm(translate(
      "SELECT DISTINCT ON (g) g, v FROM t ORDER BY g, v"))
    assert(on.contains("row_number"), on)
  }

  test("positional list subscripts are refused loudly (1-based vs 0-based)") {
    // l[1] pasted from DuckDB would RUN on Spark with 0-based semantics
    // and silently return the wrong element — must throw instead
    val e = intercept[GraftSqlException](translate("SELECT l[1] FROM t"))
    assert(e.getMessage.contains("element_at"))
    intercept[GraftSqlException](translate("SELECT t.l[1] FROM t"))     // qualified
    intercept[GraftSqlException](translate("SELECT l[i] FROM t"))       // expr index
    intercept[GraftSqlException](translate("SELECT l[1:2] FROM t"))     // slice
    intercept[GraftSqlException](translate("SELECT split(s, ',')[1] FROM t")) // call result
    // string-keyed map access agrees on both engines → passes through
    assert(translate("SELECT m['key'] FROM t").contains("m['key']"))
    // brackets inside string literals are inert
    assert(translate("SELECT 'a[1]' FROM t").contains("'a[1]'"))
  }

  test("bracket list literals translate to array(…) constructors") {
    // a `[` at expression-lead position is a DuckDB list literal, not a
    // subscript — previously refused with a misleading subscript message
    assert(norm(translate("SELECT [1, 2, 3] FROM t")) ==
      "SELECT array(1, 2, 3) FROM t")
    assert(norm(translate("SELECT ARRAY[1, 2] FROM t")) ==
      "SELECT array(1, 2) FROM t")
    // after a comma / operator / open paren
    assert(norm(translate("SELECT a, [1, 2] FROM t")) ==
      "SELECT a, array(1, 2) FROM t")
    assert(norm(translate("SELECT size([1, 2]) FROM t")) ==
      "SELECT size(array(1, 2)) FROM t")
    // nested literals
    assert(norm(translate("SELECT [[1, 2], [3]] FROM t")) ==
      "SELECT array(array(1, 2), array(3)) FROM t")
    // a literal may feed a function rename in the same statement
    assert(norm(translate("SELECT list_contains([1, 2], x) FROM t")) ==
      "SELECT array_contains(array(1, 2), x) FROM t")
    // …while a subscript ON a literal is still a refused subscript
    intercept[GraftSqlException](translate("SELECT ([1, 2])[1] FROM t"))
  }

  test("struct and map literals translate to named_struct / map constructors") {
    assert(norm(translate("SELECT {'a': 1, 'b': x + 1} AS s FROM t")) ==
      "SELECT named_struct('a', 1, 'b', x + 1) AS s FROM t")
    assert(norm(translate("SELECT MAP {'k1': v, 'k2': 2} AS m FROM t")) ==
      "SELECT map ('k1', v, 'k2', 2) AS m FROM t")
    // nested: struct inside struct, list inside struct
    assert(norm(translate("SELECT {'o': {'i': 1}} FROM t")) ==
      "SELECT named_struct('o', named_struct('i', 1)) FROM t")
    assert(norm(translate("SELECT {'l': [1, 2]} FROM t")) ==
      "SELECT named_struct('l', array(1, 2)) FROM t")
    // field access passes through untouched (both engines agree)
    assert(translate("SELECT s.a, m['k'] FROM t").contains("s.a"))
    // non-literal keys refuse loudly
    intercept[GraftSqlException](translate("SELECT {a: 1} FROM t"))
  }

  test("arg_max/arg_min and starts_with/ends_with rename to the Spark spellings") {
    assert(norm(translate("SELECT arg_max(a, b), argmin(a, b) FROM t GROUP BY g")) ==
      "SELECT max_by(a, b), min_by(a, b) FROM t GROUP BY g")
    assert(norm(translate("SELECT starts_with(s, 'x'), ends_with(s, 'y') FROM t")) ==
      "SELECT startswith(s, 'x'), endswith(s, 'y') FROM t")
    // as identifiers (no call parens) they are untouched
    assert(norm(translate("SELECT arg_max FROM t")) == "SELECT arg_max FROM t")
  }

  test("list_position is a plain rename: DuckDB 1.0.0 matches Spark (0 on miss)") {
    val out = norm(translate("SELECT list_position(l, e) FROM t"))
    assert(out == "SELECT array_position(l, e) FROM t")
    assert(norm(translate("SELECT list_indexof(list_value(1, 2), x) FROM t"))
      == "SELECT array_position(array(1, 2), x) FROM t")
    // as a plain identifier it is left alone
    assert(norm(translate("SELECT list_position FROM t")) == "SELECT list_position FROM t")
  }

  test("`//` with a fractional literal operand is refused (floor vs truncate)") {
    val e = intercept[GraftSqlException](translate("SELECT a // 2.5 FROM t"))
    assert(e.getMessage.contains("floor(a / b)"))
    intercept[GraftSqlException](translate("SELECT 7.5 // b FROM t"))
    // the two other fractional spellings: leading-dot and exponent
    intercept[GraftSqlException](translate("SELECT a // .5 FROM t"))
    intercept[GraftSqlException](translate("SELECT .5 // b FROM t"))
    intercept[GraftSqlException](translate("SELECT a // 1e3 FROM t"))
    intercept[GraftSqlException](translate("SELECT 1e3 // b FROM t"))
    // a signed exponent is part of the literal, not `1e` `-` `3`
    intercept[GraftSqlException](translate("SELECT a // 1e-3 FROM t"))
    intercept[GraftSqlException](translate("SELECT a // 2E+2 FROM t"))
    // signed fractional literals: `-2.5` tokenizes as sym('-') + num('2.5')
    intercept[GraftSqlException](translate("SELECT a // -2.5 FROM t"))
    intercept[GraftSqlException](translate("SELECT a // +.5 FROM t"))
    intercept[GraftSqlException](translate("SELECT a // - -2.5 FROM t"))
    // integer literals and identifiers still rewrite — including an
    // identifier that merely LOOKS like an exponent (`e3` alone)
    assert(norm(translate("SELECT a // 2 FROM t")).contains("DIV"))
    assert(norm(translate("SELECT a // b FROM t")).contains("DIV"))
    assert(norm(translate("SELECT a // e3 FROM t")).contains("DIV"))
    // signed INTEGER literal still rewrites (DuckDB 1.0.0 truncates integer
    // `//` toward zero like Spark DIV: oracle `SELECT -7 // 2` = -3)
    assert(norm(translate("SELECT a // -2 FROM t")).contains("DIV"))
  }

  test("QUALIFY inlines select-list aliases into the predicate") {
    val out = norm(translate(
      "SELECT a, row_number() OVER (ORDER BY b) AS rn FROM t QUALIFY rn = 1"))
    assert(out.contains("WHERE __graft_q"))
    // the predicate column holds the inlined window expression — the
    // window expr appears twice (alias definition + inlined predicate)
    // and the predicate no longer references `rn`
    assert("row_number\\(\\) OVER \\(ORDER BY b\\)".r.findAllIn(out).length == 2)
    assert(!out.contains("rn = 1"))
    // non-alias references are untouched; alias-as-function-name is not inlined
    val keep = norm(translate(
      "SELECT a, b AS c FROM t QUALIFY row_number() OVER (ORDER BY c(a)) = 1"))
    assert(keep.contains("c(a)"))
  }

  test("backslash separator escapes to a 4-character literal (regex + string escape)") {
    // regex \\ (escaped backslash) spelled in a Spark string literal is \\\\
    assert(translate("SELECT string_split(a, '\\') FROM t").contains("split(a, '\\\\\\\\')"))
  }

  test("string literals convert DuckDB backslash convention to Spark (r17)") {
    // DuckDB treats backslash in '…' literally; Spark's parser consumes
    // it as an escape (probed: 'a\]b' has length 3 in Spark, 4 in
    // DuckDB). The final render doubles every literal backslash exactly
    // once, so the VALUE both engines compute is identical.
    assert(translate("SELECT 'a\\b' AS x FROM t").contains("'a\\\\b'"))
    // doubled single-quotes parse identically on both engines — untouched
    assert(translate("SELECT 'don''t' AS x FROM t").contains("'don''t'"))
    // intermediate rewrites that re-render + re-tokenize spans must not
    // double twice: a literal inside a rewritten list fn keeps ONE
    // doubling (list_concat re-renders its argument spans)
    val lc = translate("SELECT list_concat(['a\\b'], l) FROM t")
    assert(lc.contains("'a\\\\b'") && !lc.contains("'a\\\\\\\\b'"), lc)
  }

  test("UNION BY NAME aligns columns by name and NULL-fills the gaps") {
    val t = norm(translate(
      "SELECT a, b FROM t UNION ALL BY NAME SELECT c, a FROM u"))
    // merged list = first-appearance order (a, b, c); branch 2 lacks b,
    // branch 1 lacks c
    assert(t == "SELECT a, b, NULL AS c FROM ( SELECT a, b FROM t ) " +
      "UNION ALL SELECT a, NULL AS b, c FROM ( SELECT c, a FROM u )")
    // distinct form uses plain UNION; qualified refs name by last segment;
    // AS aliases win over the expression text
    val d = norm(translate(
      "SELECT t.a, sum(x) AS s FROM t GROUP BY t.a " +
        "UNION BY NAME SELECT s, a FROM u"))
    assert(d.startsWith("SELECT a, s FROM ("))
    assert(d.contains(" UNION SELECT a, s FROM ("))
  }

  test("UNION BY NAME keeps a leading WITH and a trailing ORDER BY outside") {
    val t = norm(translate(
      "WITH w AS (SELECT 1 AS a) SELECT a FROM w " +
        "UNION BY NAME SELECT b AS a FROM u ORDER BY a LIMIT 3"))
    assert(t.startsWith("WITH w AS (SELECT 1 AS a) SELECT a FROM ("))
    assert(t.endsWith("ORDER BY a LIMIT 3"))
    // the ORDER BY must not be swallowed into the last branch's subquery
    assert(!t.contains("ORDER BY a LIMIT 3 )"))
  }

  test("UNION BY NAME refusals: star, unaliased expressions, mixed chains") {
    def refused(s: String) = intercept[GraftSqlException](translate(s))
    assert(refused("SELECT * FROM t UNION BY NAME SELECT * FROM u")
      .getMessage.contains("column names"))
    assert(refused("SELECT a + 1 FROM t UNION BY NAME SELECT a FROM u")
      .getMessage.contains("AS alias"))
    assert(refused("SELECT a AND b FROM t UNION BY NAME SELECT a FROM u")
      .getMessage.contains("AS alias"))
    assert(refused(
      "SELECT a FROM t UNION BY NAME SELECT a FROM u UNION SELECT a FROM v")
      .getMessage.contains("positional"))
  }

  test("BY NAME chains: mixed ALL/DISTINCT, left-assoc, per-op quantifier (r15 item 4)") {
    // (t UNION ALL u) UNION v — the distinct applies to the whole left
    // fold, exactly DuckDB's left-assoc grouping (probed on 1.0.0)
    val t = norm(translate("SELECT a FROM t UNION ALL BY NAME SELECT a FROM u " +
      "UNION BY NAME SELECT a FROM v"))
    assert(t == "SELECT a FROM ( SELECT a FROM ( SELECT a FROM t ) " +
      "UNION ALL SELECT a FROM ( SELECT a FROM u ) ) " +
      "UNION SELECT a FROM ( SELECT a FROM v )", t)
    // name merge stays first-appearance across the fold, NULL-fill per node
    val m = norm(translate("SELECT a FROM t UNION BY NAME SELECT b FROM u " +
      "UNION ALL BY NAME SELECT c FROM v"))
    assert(m.contains("NULL AS c FROM (") && m.endsWith(
      "UNION ALL SELECT NULL AS a, NULL AS b, c FROM ( SELECT c FROM v )"), m)
  }

  test("BY NAME chains: INTERSECT binds tighter than UNION/EXCEPT (r15 item 4)") {
    // a UNION (b INTERSECT c) — libpg_query precedence; BY NAME on
    // INTERSECT/EXCEPT is this engine's extra (the reference grammar has
    // BY NAME for UNION only), so the mixed chain is translator-pinned
    val t = norm(translate("SELECT a FROM t UNION BY NAME " +
      "SELECT a FROM u INTERSECT BY NAME SELECT a FROM v"))
    assert(t == "SELECT a FROM ( SELECT a FROM t ) UNION SELECT a FROM ( " +
      "SELECT a FROM ( SELECT a FROM u ) " +
      "INTERSECT SELECT a FROM ( SELECT a FROM v ) )", t)
    // EXCEPT folds left with UNION at equal precedence
    val e = norm(translate("SELECT a FROM t EXCEPT BY NAME SELECT a FROM u " +
      "UNION BY NAME SELECT a FROM v"))
    assert(e == "SELECT a FROM ( SELECT a FROM ( SELECT a FROM t ) " +
      "EXCEPT SELECT a FROM ( SELECT a FROM u ) ) " +
      "UNION SELECT a FROM ( SELECT a FROM v )", e)
    // INTERSECT/EXCEPT nodes still require equal column sets
    def refused(s: String) = intercept[GraftSqlException](translate(s))
    assert(refused("SELECT a FROM t UNION BY NAME " +
      "SELECT a FROM u INTERSECT BY NAME SELECT b FROM v")
      .getMessage.contains("same column set"))
  }

  test("GLOB character classes translate to anchored RLIKE (r15 item 4)") {
    // final SQL literals are Spark-convention: each regex-level backslash
    // is spelled DOUBLED (Spark's parser consumes one level — probed:
    // 'a\]b' has length 3), and the anchor is \z, not $ (r16 advice:
    // Java's $ also matches before a trailing newline; the reference glob
    // requires full consumption)
    val t = norm(translate("SELECT p_name GLOB 'w[i!]dg*' AS m FROM part"))
    assert(t.contains("RLIKE '^(?s:w[i!]dg.*)\\\\z'"), t)
    // negation, leading-] literal, range, regex metachars quoted
    assert(norm(translate("SELECT x GLOB 'a[!b-d]e' FROM t"))
      .contains("RLIKE '^(?s:a[^b-d]e)\\\\z'"))
    assert(norm(translate("SELECT x GLOB '[]]a.b' FROM t"))
      .contains("RLIKE '^(?s:[\\\\]]a\\\\.b)\\\\z'"))
    assert(norm(translate("SELECT x GLOB 'a+[0-9]?' FROM t"))
      .contains("RLIKE '^(?s:a\\\\+[0-9].)\\\\z'"))
    // classless globs keep the cheaper LIKE path
    assert(norm(translate("SELECT x GLOB 'a*b' FROM t")).contains("LIKE 'a%b'"))
    // unterminated class refuses loudly
    assert(intercept[GraftSqlException](
      translate("SELECT x GLOB 'a[bc' FROM t"))
      .getMessage.contains("unterminated"))
    // r16 advice: '[a-]' consumes the ']' as a range endpoint in the
    // reference (found_closing_bracket stays false → matches nothing) —
    // refuse loudly instead of silently matching 'a' or '-'
    assert(intercept[GraftSqlException](
      translate("SELECT x GLOB 'w[a-]d' FROM t"))
      .getMessage.contains("unterminated"))
    // '&' escaped inside classes: '[a&&b]' is the literal set {a,&,b} in
    // the reference, never a Java character-class intersection
    assert(norm(translate("SELECT x GLOB '[a&&b]' FROM t"))
      .contains("RLIKE '^(?s:[a\\\\&\\\\&b])\\\\z'"))
    // a ']' opening a RANGE in first position ([]-a] = chars ']'..'a')
    assert(norm(translate("SELECT x GLOB '[]-a]x' FROM t"))
      .contains("RLIKE '^(?s:[\\\\]-a]x)\\\\z'"))
  }

  test("INTERSECT/EXCEPT BY NAME align column ORDER by name (r13 item 6)") {
    val t = norm(translate(
      "SELECT a, b FROM t INTERSECT BY NAME SELECT b, a FROM u"))
    assert(t == "SELECT a, b FROM ( SELECT a, b FROM t ) " +
      "INTERSECT SELECT a, b FROM ( SELECT b, a FROM u )")
    val e = norm(translate(
      "SELECT a, b FROM t EXCEPT ALL BY NAME SELECT b, a FROM u"))
    assert(e.contains(" EXCEPT ALL SELECT a, b FROM ( SELECT b, a FROM u )"))
    def refused(s: String) = intercept[GraftSqlException](translate(s))
    // a column set mismatch would NULL-fill into never-matching rows —
    // refused (only UNION BY NAME NULL-fills)
    assert(refused("SELECT a FROM t EXCEPT BY NAME SELECT b FROM u")
      .getMessage.contains("same column set"))
    // mixed kinds now translate with libpg_query precedence: INTERSECT
    // binds tighter, so this is (t ∩ u) − v
    val mix = norm(translate("SELECT a FROM t INTERSECT BY NAME SELECT a FROM u " +
      "EXCEPT BY NAME SELECT a FROM v"))
    assert(mix == "SELECT a FROM ( SELECT a FROM ( SELECT a FROM t ) " +
      "INTERSECT SELECT a FROM ( SELECT a FROM u ) ) " +
      "EXCEPT SELECT a FROM ( SELECT a FROM v )", mix)
  }

  test("zipped multi-unnest becomes one explode over a zip_with chain") {
    val t = norm(translate(
      "SELECT k, unnest(a) AS x, unnest(b) y FROM t WHERE k > 0"))
    assert(t.startsWith("SELECT k, graft_zip.graft_u0 AS x, " +
      "graft_zip.graft_u1 AS y FROM ( SELECT *, explode(zip_with("), t)
    assert(t.contains("ifnull((a), array())") && t.contains("ifnull((b), array())"))
    assert(t.contains("struct(gx AS graft_u0, gy AS graft_u1)"))
    assert(t.contains("FROM t WHERE k > 0 ) graft_unnest_zip"))
    // three lists left-nest; no FROM clause drops the inner star
    val t3 = norm(translate(
      "SELECT unnest([1]) AS x, unnest([2]) AS y, unnest([3]) AS z"))
    assert(t3.contains("zip_with(zip_with("))
    assert(t3.contains("gp.graft_u0 AS graft_u0, gp.graft_u1 AS graft_u1, " +
      "gy AS graft_u2"))
    assert(t3.contains("FROM ( SELECT explode("), "no FROM → no inner star")
    // single unnest keeps the plain explode rename
    assert(norm(translate("SELECT unnest(a) AS x FROM t"))
      == "SELECT explode(a) AS x FROM t")
    // CTE bodies and subqueries rewrite through the block recursion
    val tc = norm(translate(
      "WITH z AS (SELECT unnest(a) AS x, unnest(b) AS y FROM t) SELECT x, y FROM z"))
    assert(tc.startsWith("WITH z AS (SELECT graft_zip.graft_u0 AS x"), tc)
    def refused(s: String) = intercept[GraftSqlException](translate(s))
    assert(refused("SELECT unnest(a), unnest(b) FROM t")
      .getMessage.contains("alias"))
    assert(refused("SELECT unnest(a) + 1 AS x, unnest(b) AS y FROM t")
      .getMessage.contains("literal"))
    assert(refused("SELECT DISTINCT unnest(a) AS x, unnest(b) AS y FROM t")
      .getMessage.contains("DISTINCT"))
    assert(refused("SELECT unnest(a) AS x, unnest(b) AS y FROM t GROUP BY x")
      .getMessage.contains("GROUP"))
  }

  test("double-quoted identifiers become backticks (DuckDB idents, not strings)") {
    assert(norm(translate("SELECT \"min\" FROM \"t\"")) ==
      "SELECT `min` FROM `t`")
    // `""` un-escapes to a literal quote inside the identifier
    assert(translate("SELECT \"a\"\"b\" FROM t").contains("`a\"b`"))
    // single-quoted string literals are untouched
    assert(translate("SELECT 'a \"x\" b' FROM t").contains("'a \"x\" b'"))
  }

  test("strftime/strptime formats convert token-for-token to JDK patterns") {
    assert(norm(translate("SELECT strftime(d, '%Y-%m-%d') FROM t")) ==
      "SELECT date_format(d, 'yyyy-MM-dd') FROM t")
    assert(translate("SELECT strftime(d, '%A, %-d %B %H:%M:%S') FROM t")
      .contains("date_format(d, 'EEEE, d MMMM HH:mm:ss')"))
    // literal letter RUNS quote once for JDK (doubled again for the SQL
    // literal); %% stays a literal percent
    assert(translate("SELECT strftime(d, '%HH%M %% ok') FROM t")
      .contains("date_format(d, 'HH''H''mm % ''ok''')"))
    assert(translate("SELECT strptime(s, '%Y-%m-%d %H:%M') FROM t")
      .contains("to_timestamp(s, 'yyyy-MM-dd HH:mm')"))
    // refusals: non-literal format, untranslatable specifier
    intercept[GraftSqlException](
      translate("SELECT strftime(d, fmt_col) FROM t"))
    intercept[GraftSqlException](
      translate("SELECT strftime(d, '%U') FROM t")) // week-of-year, Sunday-based
  }

  test("strftime format-first overload: argument spans swap to (value, format)") {
    // reference binds BOTH orders; format is the literal carrying '%'
    assert(norm(translate("SELECT strftime('%Y-%m', d) FROM t")) ==
      "SELECT date_format( d,'yyyy-MM') FROM t")
    // both-literal: the one with '%' is the format even when it is first
    assert(norm(translate("SELECT strftime('%Y', '2020-01-01') FROM t")) ==
      "SELECT date_format( '2020-01-01','yyyy') FROM t")
    // both-literal, both with '%': canonical (value, format) order wins
    assert(translate("SELECT strftime('100%', '%Y') FROM t")
      .contains("date_format('100%', 'yyyy')"))
    // strptime has NO format-first overload: the reference binds the
    // format from the LAST argument and requires it constant
    // (StrpTimeBindFunction throws 'strptime format must be a constant'),
    // so format-first strptime refuses instead of silently swapping
    intercept[GraftSqlException](
      translate("SELECT strptime('%Y-%m-%d', s) FROM t"))
    // both-literal strptime: last argument is the format, first the value
    assert(translate("SELECT strptime('100%', '%Y') FROM t")
      .contains("to_timestamp('100%', 'yyyy')"))
    // neither argument is a lone literal → still refuses
    intercept[GraftSqlException](
      translate("SELECT strftime(a, b) FROM t"))
  }

  test("LIMIT n PERCENT: trailing clause splits for run(); nested refuses") {
    import DuckDialect.splitLimitPercent
    assert(splitLimitPercent("SELECT a FROM t ORDER BY a LIMIT 7 PERCENT")
      .exists { case (inner, p) => p == 7.0 && norm(inner).endsWith("ORDER BY a") })
    assert(splitLimitPercent("SELECT a FROM t LIMIT 2.5%").exists(_._2 == 2.5))
    // plain LIMIT, or a parenthesized (nested) percent clause: no split
    assert(splitLimitPercent("SELECT a FROM t LIMIT 7").isEmpty)
    assert(splitLimitPercent("SELECT * FROM (SELECT a FROM t LIMIT 7%)").isEmpty)
    // …and the nested form refuses loudly in translate
    assert(intercept[GraftSqlException](
      translate("SELECT * FROM (SELECT a FROM t LIMIT 7%) u"))
      .getMessage.contains("OUTERMOST"))
  }

  test("SQL macros inline at call sites with precedence-safe parens") {
    val st = new SessionSql
    st.registerMacro("dd_add", Seq("a", "b"), "a + b")
    st.registerMacro("dd_twice", Seq("x"), "dd_add(x, x)")
    st.registerMacro("dd_loop", Seq("x"), "dd_loop(x)")
    def translate(sql: String) = DuckDialect.translate(sql, Some(st))
    // translation without the session state leaves the call alone
    assert(DuckDialect.translate("SELECT dd_add(1, 2) FROM t").contains("dd_add(1, 2)"))
    def tight(s: String) = s.replaceAll("\\s+", "")
    // argument substitution parenthesizes: 1, 2 * 3 must not reassociate
    assert(tight(translate("SELECT dd_add(1, 2) * 3 FROM t")) ==
      "SELECT((1)+(2))*3FROMt")
    // macro-in-macro expands transitively (each layer adds its
    // precedence parens; harmless and value-identical)
    assert(tight(translate("SELECT dd_twice(y) FROM t")) ==
      "SELECT((((y))+((y))))FROMt")
    // arity mismatch and cycles refuse loudly
    assert(intercept[GraftSqlException](translate("SELECT dd_add(1) FROM t"))
      .getMessage.contains("expects 2"))
    assert(intercept[GraftSqlException](translate("SELECT dd_loop(1) FROM t"))
      .getMessage.contains("cyclic"))
    // a bare identifier with a macro's name is untouched
    assert(norm(translate("SELECT dd_add FROM t")) == "SELECT dd_add FROM t")
    // list, struct and MAP literal arguments are one argument each: the
    // commas inside their brackets do not split the call
    st.registerMacro("dd_id", Seq("x"), "x")
    assert(tight(translate("SELECT dd_id([1, 2]) FROM t")) == "SELECT((array(1,2)))FROMt")
    assert(tight(translate("SELECT dd_id({'a': 1, 'b': 2}) FROM t")) ==
      "SELECT((named_struct('a',1,'b',2)))FROMt")
    assert(tight(translate("SELECT dd_id(MAP {'k': 1, 'j': 2}) FROM t")) ==
      "SELECT((map('k',1,'j',2)))FROMt")
  }

  test("FROM-first queries normalize to standard SELECT form") {
    // bare FROM → SELECT *
    assert(norm(translate("FROM t")) == "SELECT * FROM t")
    // FROM + WHERE, no select clause
    assert(norm(translate("FROM t WHERE x > 5")) ==
      "SELECT * FROM t WHERE x > 5")
    // the optional SELECT clause sits between FROM and WHERE (DuckDB
    // grammar) and moves to the front with the rest in clause order
    assert(norm(translate("FROM t SELECT x WHERE x > 2 ORDER BY x DESC")) ==
      "SELECT x FROM t WHERE x > 2 ORDER BY x DESC")
    assert(norm(translate("FROM t SELECT sum(x) AS s GROUP BY y")) ==
      "SELECT sum(x) AS s FROM t GROUP BY y")
    // CTE body + outer query both FROM-first
    assert(norm(translate("WITH c AS (FROM t WHERE x < 5) FROM c SELECT max(x) AS m")) ==
      "WITH c AS (SELECT * FROM t WHERE x < 5) SELECT max(x) AS m FROM c")
    // subquery position
    assert(norm(translate("SELECT * FROM (FROM t WHERE x = 1) s")) ==
      "SELECT * FROM (SELECT * FROM t WHERE x = 1) s")
    // set-op branches
    assert(norm(translate("FROM a UNION ALL FROM b")) ==
      "SELECT * FROM a UNION ALL SELECT * FROM b")
    // a join keeps the whole from-clause together
    assert(norm(translate("FROM a JOIN b ON a.k = b.k SELECT a.x WHERE b.y > 0")) ==
      "SELECT a.x FROM a JOIN b ON a.k = b.k WHERE b.y > 0")
    // CREATE TABLE … AS FROM (bare AS opens a query body)
    assert(norm(translate("CREATE TABLE r AS FROM t WHERE x = 1")) ==
      "CREATE TABLE r AS SELECT * FROM t WHERE x = 1")
    // standard SQL is untouched: ')' before FROM is a function call, not
    // a CTE close
    assert(norm(translate("SELECT max(x) FROM t")) == "SELECT max(x) FROM t")
    assert(norm(translate("SELECT a, count(*) FROM t GROUP BY a")) ==
      "SELECT a, count(*) FROM t GROUP BY a")
    // extract's FROM keyword is not a query start
    assert(norm(translate("SELECT extract(day FROM ts) FROM t")) ==
      "SELECT extract(day FROM ts) FROM t")
  }

  test("USING SAMPLE translates numeric forms, refuses method/seed forms") {
    assert(norm(translate("SELECT * FROM t USING SAMPLE 10%")) ==
      "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(norm(translate("SELECT * FROM t USING SAMPLE 10 PERCENT")) ==
      "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(norm(translate("SELECT * FROM t USING SAMPLE 7 ROWS")) ==
      "SELECT * FROM t TABLESAMPLE (7 ROWS)")
    // a bare count means ROWS in DuckDB
    assert(norm(translate("SELECT * FROM t USING SAMPLE 7")) ==
      "SELECT * FROM t TABLESAMPLE (7 ROWS)")
    // join USING is untouched
    assert(norm(translate("SELECT * FROM a JOIN b USING (k)")) ==
      "SELECT * FROM a JOIN b USING (k)")
    // bernoulli translates (Spark PERCENT sampling IS Bernoulli); a seed
    // becomes REPEATABLE
    assert(norm(translate("SELECT * FROM t USING SAMPLE 10% (bernoulli)")) ==
      "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(norm(translate("SELECT * FROM t USING SAMPLE 10% (bernoulli, 42)")) ==
      "SELECT * FROM t TABLESAMPLE (10 PERCENT) REPEATABLE (42)")
    assert(norm(translate("SELECT * FROM t USING SAMPLE bernoulli(10%)")) ==
      "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    // percent-reservoir/system forms refuse loudly (membership semantics
    // differ, not just the RNG)
    assert(intercept[GraftSqlException](
      translate("SELECT * FROM t USING SAMPLE 10% (system, 42)"))
      .getMessage.contains("bernoulli"))
    assert(intercept[GraftSqlException](
      translate("SELECT * FROM t USING SAMPLE reservoir(10%)"))
      .getMessage.contains("bernoulli"))
  }

  test("USING SAMPLE n ROWS (reservoir, seed) becomes the seeded reservoir draw (r15 item 5)") {
    // bare table: the subquery is aliased with the table name so
    // qualified column refs keep resolving
    assert(norm(translate(
      "SELECT * FROM orders USING SAMPLE 500 ROWS (reservoir, 42)")) ==
      "SELECT * FROM ( SELECT * FROM orders ORDER BY rand(42) LIMIT 500 ) orders")
    // explicit alias (with and without AS) survives in place
    assert(norm(translate(
      "SELECT o.x FROM orders o USING SAMPLE 9 ROWS (reservoir, 7)")) ==
      "SELECT o.x FROM ( SELECT * FROM orders ORDER BY rand(7) LIMIT 9 ) o")
    assert(norm(translate(
      "SELECT * FROM orders AS o USING SAMPLE 9 ROWS (reservoir)")) ==
      "SELECT * FROM ( SELECT * FROM orders ORDER BY rand() LIMIT 9 ) o")
    // dotted table chain: alias defaults to the last segment
    assert(norm(translate(
      "SELECT * FROM cat.orders USING SAMPLE 5 ROWS (reservoir, 1)")) ==
      "SELECT * FROM ( SELECT * FROM cat.orders ORDER BY rand(1) LIMIT 5 ) orders")
    // subquery sources refuse with the API pointer
    assert(intercept[GraftSqlException](translate(
      "SELECT * FROM (SELECT 1 AS a) s USING SAMPLE 2 ROWS (reservoir, 3)"))
      .getMessage.contains("Sampling.reservoir"))
  }

  test("series table functions and unnest translate with matching column names") {
    assert(norm(translate("SELECT unnest(l) FROM t")) == "SELECT explode(l) FROM t")
    assert(norm(translate("SELECT generate_series(1, 3) AS g")) ==
      "SELECT explode(sequence(1, 3)) AS g")
    assert(norm(translate("SELECT * FROM generate_series(1, 5) g")).contains(
      "(SELECT explode(sequence(1, 5)) AS generate_series) g"))
    assert(norm(translate("SELECT * FROM range(0, 3) r")).contains(
      "(SELECT id AS range FROM range(0, 3)) r"))
    // window RANGE frames and a bare column named range are untouched
    assert(norm(translate(
      "SELECT sum(x) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")) ==
      "SELECT sum(x) OVER (ORDER BY x RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
    assert(norm(translate("SELECT range FROM t")) == "SELECT range FROM t")
  }

  test("GLOB and SIMILAR TO translate to LIKE / anchored RLIKE") {
    assert(norm(translate("SELECT a GLOB 'wid*' FROM t")) ==
      "SELECT a LIKE 'wid%' FROM t")
    assert(norm(translate("SELECT a GLOB 'w?d' FROM t")) ==
      "SELECT a LIKE 'w_d' FROM t")
    // GLOB's % is a LITERAL percent — escaped for LIKE (the backslash
    // doubles at final render so Spark's parser leaves \% for LIKE)
    assert(norm(translate("SELECT a GLOB 'a%b' FROM t")) ==
      "SELECT a LIKE 'a\\\\%b' FROM t")
    assert(norm(translate("SELECT a SIMILAR TO 'wid.*' FROM t")) ==
      "SELECT a RLIKE '^(?:wid.*)\\\\z' FROM t")
    assert(norm(translate("SELECT a NOT SIMILAR TO 'x' FROM t")) ==
      "SELECT a NOT RLIKE '^(?:x)\\\\z' FROM t")
    // character classes now translate (see the dedicated r15-item-4 test)
    assert(norm(translate("SELECT a GLOB '[ab]c' FROM t"))
      .contains("RLIKE '^(?s:[ab]c)\\\\z'"))
    assert(intercept[GraftSqlException](translate("SELECT a SIMILAR TO p FROM t"))
      .getMessage.contains("string-literal"))
  }

  test("series fns: select-list comma is NOT a from-list comma (r11 advice)") {
    // previously mis-rewritten into a scalar subquery Spark rejects
    assert(norm(translate("SELECT x, generate_series(1, 3) FROM t")) ==
      "SELECT x, explode(sequence(1, 3)) FROM t")
    // from-list comma still takes the table-function form
    assert(norm(translate("SELECT * FROM t, generate_series(1, 3)")).contains(
      "(SELECT explode(sequence(1, 3)) AS generate_series)"))
    // function-arg position stays scalar
    assert(norm(translate("SELECT size(generate_series(1, n)) FROM t")) ==
      "SELECT size(explode(sequence(1, n))) FROM t")
  }

  test("USING SAMPLE lands before a table alias (r11 advice)") {
    assert(norm(translate("SELECT * FROM orders o USING SAMPLE 5")) ==
      "SELECT * FROM orders TABLESAMPLE (5 ROWS) o")
    assert(norm(translate("SELECT * FROM orders AS o USING SAMPLE 10%")) ==
      "SELECT * FROM orders TABLESAMPLE (10 PERCENT) AS o")
    // subquery alias
    assert(norm(translate("SELECT * FROM (SELECT 1 AS a) s USING SAMPLE 3")) ==
      "SELECT * FROM (SELECT 1 AS a) TABLESAMPLE (3 ROWS) s")
  }

  test("a column actually named glob survives (r11 advice)") {
    assert(norm(translate("SELECT glob FROM t")) == "SELECT glob FROM t")
    assert(norm(translate("SELECT t.glob FROM t")) == "SELECT t.glob FROM t")
    // operator position still translates, incl. NOT GLOB
    assert(norm(translate("SELECT a NOT GLOB 'x*' FROM t")) ==
      "SELECT a NOT LIKE 'x%' FROM t")
  }

  test("list comprehensions translate: map, filter-first IF, nesting") {
    assert(norm(translate("SELECT [x * 2 FOR x IN l] FROM t")) ==
      "SELECT transform(l, x -> x * 2) FROM t")
    assert(norm(translate("SELECT [x * 2 FOR x IN [1, 2, 3] IF x > 1] FROM t")) ==
      "SELECT transform(filter(array(1, 2, 3), x -> x > 1), x -> x * 2) FROM t")
    // nested comprehension in the element expr rewrites recursively
    assert(norm(translate("SELECT [[y + 1 FOR y IN [x, 2]] FOR x IN l] FROM t")) ==
      "SELECT transform(l, x -> transform(array(x, 2), y -> y + 1)) FROM t")
    // comprehension over a function-built list
    assert(norm(translate("SELECT [upper(p) FOR p IN string_split(s, '_')] FROM t")) ==
      "SELECT transform(split(s, '_'), p -> upper(p)) FROM t")
    // non-literal variable forms refuse loudly
    assert(intercept[GraftSqlException](
      translate("SELECT [e FOR x, i IN l] FROM t"))
      .getMessage.contains("single-variable"))
  }

  test("native passthrough: constructs Spark 4 already parses are untouched") {
    for (sqlStr <- Seq(
      "SELECT a, count(*) FROM t GROUP BY ALL ORDER BY ALL",
      "SELECT count(*) FILTER (WHERE a > 0) AS n FROM t",
      "SELECT a FROM t WHERE a ILIKE '%x%'",
      "SELECT a::INT FROM t"))
      assert(norm(translate(sqlStr)) == norm(sqlStr))
  }
}
