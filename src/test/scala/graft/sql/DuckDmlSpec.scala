package graft.sql

import graft.SparkSpec
import graft.sources.GraftTable
import DuckDialect.GraftSqlException

/** The DML statement front-end: INSERT/DELETE/UPDATE strings mutate a
  * GraftTable through the same write paths the dml_* oracle entries
  * check; here we pin statement parsing, dialect composition inside
  * statements, and the refusal contracts. */
class DuckDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): (String, Map[String, String]) = {
    val root = java.nio.file.Files.createTempDirectory("graft_ddml_").toString
    GraftTable.create(spark, root,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "bal"))
    (root, Map("t" -> root))
  }

  private def state(root: String): Set[(Long, String, Double)] =
    GraftTable.read(spark, root).as[(Long, String, Double)].collect().toSet

  test("PREPARE/EXECUTE: $n and ? binding, arity and mixing refusals, DEALLOCATE") {
    // on a session of its own: its prepared statements stay there
    val s = spark.newSession()
    // $n positional slots, bound as a SELECT through the query face
    DuckDml.exec(s, Map.empty,
      "PREPARE padd AS SELECT CAST($1 AS INT) + CAST($2 AS INT) AS s")
    val r = DuckDialect.run(s, sf(), "EXECUTE padd(40, 2)").head()
    assert(r.getInt(0) == 42)
    // the same slot may repeat; arguments can be expressions/literals
    DuckDml.exec(s, Map.empty,
      "PREPARE ptwice AS SELECT CAST($1 AS INT) * CAST($1 AS INT) AS sq")
    assert(DuckDialect.run(s, sf(), "EXECUTE ptwice(6)").head().getInt(0) == 36)
    // ? ordinal style
    DuckDml.exec(s, Map.empty,
      "PREPARE pq AS SELECT CAST(? AS INT) - CAST(? AS INT) AS d")
    assert(DuckDialect.run(s, sf(), "EXECUTE pq(50, 8)").head().getInt(0) == 42)
    // arity refusals, both styles
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE padd(1)"))
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE pq(1)"))
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE pq(1, 2, 3)"))
    // mixing $n and ? refuses
    DuckDml.exec(s, Map.empty, "PREPARE pmix AS SELECT $1 + ? AS x")
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE pmix(1, 2)"))
    // surplus arguments refuse in $n style too (DuckDB raises a
    // parameter-count error; these were once silently ignored)
    intercept[GraftSqlException](
      DuckDialect.run(s, sf(), "EXECUTE padd(1, 2, 3)"))
    intercept[GraftSqlException](
      DuckDialect.run(s, sf(), "EXECUTE ptwice(1, 2)"))
    // a malformed slot ($2.5) is a TYPED refusal, not a raw
    // NumberFormatException (the fail-loudly contract)
    DuckDml.exec(s, Map.empty, "PREPARE pbad AS SELECT $2.5 AS x")
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE pbad(1, 2)"))
    // list and struct literal arguments are one argument each: the
    // commas inside their brackets do not split the argument list
    DuckDml.exec(s, Map.empty, "PREPARE pv AS SELECT $1 AS v")
    assert(DuckDialect.run(s, sf(), "EXECUTE pv([1, 2])").head().getSeq[Int](0) == Seq(1, 2))
    val struct = DuckDialect.run(s, sf(), "EXECUTE pv({'a': 1, 'b': 2})").head().getStruct(0)
    assert(struct.schema.fieldNames.toSeq == Seq("a", "b") &&
      struct.getInt(0) == 1 && struct.getInt(1) == 2)
    // an exponent literal is one argument, bound as written
    assert(DuckDialect.run(s, sf(), "EXECUTE pv(1e3)").head().getDouble(0) == 1000.0)
    DuckDml.exec(s, Map.empty, "PREPARE pin AS SELECT list_contains($1, $2) AS v")
    assert(DuckDialect.run(s, sf(), "EXECUTE pin([1, 2], 2)").head().getBoolean(0))
    // empty argument spans refuse at EXECUTE-split time: trailing,
    // doubled, and leading commas each name the malformation
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE padd(1,)"))
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE padd(1,,2)"))
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE padd(,1)"))
    // unknown name refuses; DEALLOCATE removes
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE nosuch(1)"))
    DuckDml.exec(s, Map.empty, "DEALLOCATE padd")
    intercept[GraftSqlException](DuckDialect.run(s, sf(), "EXECUTE padd(1, 2)"))
    // nothing prepared on `s` is visible to another session
    intercept[GraftSqlException](DuckDialect.run(spark, sf(), "EXECUTE ptwice(3)"))
  }

  test("INSERT INTO with VALUES and with a column list") {
    val (root, cat) = freshTable()
    DuckDml.exec(spark, cat, "INSERT INTO t VALUES (4, 'd', 40.0)")
    DuckDml.exec(spark, cat, "INSERT INTO t (id, name, bal) SELECT 5, 'e', 50.0")
    assert(state(root) === Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0)))
  }

  test("QUOTED identifiers work in column lists, SET targets, and table refs") {
    val (root, cat) = freshTable()
    // quoted + REORDERED column list: values must land by NAME, not
    // position (a dropped quoted list would map positionally — silent swap)
    DuckDml.exec(spark, cat,
      "INSERT INTO \"t\" (\"bal\", \"id\", \"name\") VALUES (40.0, 4, 'd')")
    assert(state(root).contains((4L, "d", 40.0)))
    DuckDml.exec(spark, cat, "UPDATE \"t\" SET \"bal\" = 99.0 WHERE id = 4")
    assert(state(root).contains((4L, "d", 99.0)))
    DuckDml.exec(spark, cat, "DELETE FROM \"t\" WHERE id = 4")
    assert(!state(root).exists(_._1 == 4L))
  }

  test("truncated statements refuse loudly, never IndexOutOfBounds") {
    val (_, cat) = freshTable()
    for (bad <- Seq("INSERT INTO", "DELETE FROM", "UPDATE", "CREATE TABLE",
        "DELETE FROM t WHERE", "INSERT INTO t", "CREATE TABLE t AS"))
      withClue(bad)(intercept[GraftSqlException](DuckDml.exec(spark, cat, bad)))
  }

  test("CREATE TABLE AS over an existing table refuses (no silent clobber)") {
    val (root, cat) = freshTable()
    val e = intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "CREATE TABLE t AS SELECT 1 AS id, 'x' AS name, 0.0 AS bal"))
    assert(e.getMessage.contains("already exists"))
    assert(state(root).size === 3, "existing data untouched after the refusal")
  }

  test("UPDATE SET splits around list/struct literals, refuses duplicates and FROM") {
    val (root, cat) = freshTable()
    // a bracket literal's inner comma must not split the assignment list
    DuckDml.exec(spark, cat,
      "UPDATE t SET name = array_join(['x', 'y'], '-'), bal = 1.0 WHERE id = 1")
    assert(state(root).contains((1L, "x-y", 1.0)))
    val dup = intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "UPDATE t SET bal = 1, bal = 2 WHERE id = 1"))
    assert(dup.getMessage.contains("multiple assignments"))
    val multi = intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "UPDATE t SET bal = 1 FROM s WHERE t.id = s.id"))
    assert(multi.getMessage.contains("multi-table"))
  }

  test("INSERT with a partial column list NULL-fills the unlisted columns") {
    val (root, cat) = freshTable()
    DuckDml.exec(spark, cat, "INSERT INTO t (id, name) VALUES (9, 'z')")
    val row = GraftTable.read(spark, root).filter($"id" === 9).collect().head
    assert(row.getString(1) === "z")
    assert(row.isNullAt(2))
  }

  test("INSERT column list is case-insensitive and typos are refused") {
    val (root, cat) = freshTable()
    DuckDml.exec(spark, cat, "INSERT INTO t (ID, NAME) VALUES (8, 'y')")
    val row = GraftTable.read(spark, root).filter($"id" === 8).collect().head
    assert(row.getString(1) === "y" && row.isNullAt(2))
    val e = intercept[GraftSqlException](
      DuckDml.exec(spark, cat, "INSERT INTO t (id, nmae) VALUES (9, 'z')"))
    assert(e.getMessage.contains("unknown column 'nmae'"))
  }

  test("DELETE FROM ... WHERE, with dialect spellings in the predicate") {
    val (root, cat) = freshTable()
    // len() is a DuckDB spelling; // is DuckDB integer division
    DuckDml.exec(spark, cat, "DELETE FROM t WHERE len(name) = 1 AND id // 2 = 1")
    assert(state(root).map(_._1) === Set(1L)) // ids 2 and 3 have id//2 = 1
  }

  test("UPDATE ... SET sees pre-update values; multiple assignments") {
    val (root, cat) = freshTable()
    DuckDml.exec(spark, cat,
      "UPDATE t SET bal = bal + 1, name = upper(name) WHERE id >= 2")
    assert(state(root) === Set((1L, "a", 10.0), (2L, "B", 21.0), (3L, "C", 31.0)))
  }

  test("CREATE TABLE AS materializes version 1 at the registered root") {
    val root = java.nio.file.Files.createTempDirectory("graft_ddml_ctas_").toString
    val cat = Map("t2" -> root)
    DuckDml.exec(spark, cat, "CREATE TABLE t2 AS SELECT 1 AS id, 'x' AS name")
    assert(GraftTable.currentVersion(root) === 1)
    assert(GraftTable.read(spark, root).collect().length === 1)
    DuckDml.exec(spark, cat, "INSERT INTO t2 VALUES (2, 'y')")
    assert(GraftTable.read(spark, root).count() === 2)
  }

  test("refusals: unknown table, bare DELETE, unsupported statements") {
    val (_, cat) = freshTable()
    intercept[GraftSqlException](DuckDml.exec(spark, cat, "DELETE FROM nope WHERE true"))
    intercept[GraftSqlException](DuckDml.exec(spark, cat, "DELETE FROM t"))
    intercept[GraftSqlException](DuckDml.exec(spark, cat, "TRUNCATE t"))
    intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "MERGE INTO t USING s ON t.id = s.id"))
    // DuckDB upsert spellings name the MERGE alternative
    assert(intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "INSERT OR REPLACE INTO t VALUES (1, 'x')"))
      .getMessage.contains("MERGE"))
    // ON CONFLICT translates since round 12 — but only with an explicit
    // key target (no unique index to infer from)
    assert(intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "INSERT INTO t VALUES (1, 'x', 0.0) ON CONFLICT DO NOTHING"))
      .getMessage.contains("unique index"))
  }

  test("INSERT … ON CONFLICT: DO NOTHING skips existing keys, DO UPDATE upserts") {
    val (root, cat) = freshTable()
    // DO NOTHING: id=1 exists (kept as-is), id=9 is new (inserted)
    DuckDml.exec(spark, cat,
      "INSERT INTO t VALUES (1, 'zzz', 99.0), (9, 'i', 90.0) ON CONFLICT (id) DO NOTHING")
    assert(state(root) == Set((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "c", 30.0), (9L, "i", 90.0)))
    // DO UPDATE full-row upsert: id=2 replaced, id=8 inserted
    DuckDml.exec(spark, cat,
      "INSERT INTO t VALUES (2, 'B2', 22.0), (8, 'h', 80.0) " +
        "ON CONFLICT (id) DO UPDATE SET name = excluded.name, bal = excluded.bal")
    assert(state(root) == Set((1L, "a", 10.0), (2L, "B2", 22.0),
      (3L, "c", 30.0), (8L, "h", 80.0), (9L, "i", 90.0)))
    // partial DO UPDATE refuses with the recipe
    assert(intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "INSERT INTO t VALUES (2, 'x', 0.0) ON CONFLICT (id) DO UPDATE SET name = excluded.name"))
      .getMessage.contains("every non-key column"))
    // computed assignment refuses
    assert(intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "INSERT INTO t VALUES (2, 'x', 0.0) ON CONFLICT (id) DO UPDATE SET " +
        "name = excluded.name, bal = bal + excluded.bal"))
      .getMessage.contains("full-row upsert"))
    // duplicate conflict keys in the source refuse (cardinality contract)
    assert(intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "INSERT INTO t VALUES (7, 'x', 1.0), (7, 'y', 2.0) ON CONFLICT (id) DO NOTHING"))
      .getMessage.contains("duplicate"))
    // unknown conflict-target column refuses
    assert(intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "INSERT INTO t VALUES (7, 'x', 1.0) ON CONFLICT (nope) DO NOTHING"))
      .getMessage.contains("unknown column"))
  }

  test("CHECKPOINT merges small files; VACUUM reclaims; rows survive both") {
    val root = java.nio.file.Files.createTempDirectory("graft_ddml_").toString
    GraftTable.create(spark, root,
      graft.Tables.t(spark, sf(), "customer")
        .select($"c_custkey".as("id"), $"c_name".as("name"), $"c_acctbal".as("bal"))
        .repartition(8))
    val cat = Map("t" -> root)
    val before = GraftTable.read(spark, root).count()
    val msg = DuckDml.exec(spark, cat, "CHECKPOINT t 64")
    assert(msg.contains("version 2"))
    assert(GraftTable.read(spark, root).count() === before)
    val vmsg = DuckDml.exec(spark, cat, "VACUUM t KEEP 1")
    assert(vmsg.contains("removed 8"))
    assert(GraftTable.read(spark, root).count() === before)
    // grammar refusals
    intercept[GraftSqlException](DuckDml.exec(spark, cat, "VACUUM t EXTRA"))
    intercept[GraftSqlException](DuckDml.exec(spark, cat, "CHECKPOINT t soon"))
    // counts are integers: a fractional or exponent literal is refused
    intercept[GraftSqlException](DuckDml.exec(spark, cat, "CHECKPOINT t 1e3"))
    intercept[GraftSqlException](DuckDml.exec(spark, cat, "VACUUM t KEEP 2.5"))
    intercept[GraftSqlException](DuckDml.exec(spark, cat, "VACUUM nope"))
  }

  test("RETURNING: INSERT inserted rows, UPDATE new values, DELETE deleted rows") {
    val (root, cat) = freshTable()
    // INSERT … RETURNING * — the inserted rows, full schema
    val ins = DuckDml.execReturning(spark, cat,
      "INSERT INTO t VALUES (4, 'd', 40.0), (5, 'e', 50.0) RETURNING *")
    assert(ins.columns.toSeq == Seq("id", "name", "bal"))
    assert(ins.as[(Long, String, Double)].collect().toSet ==
      Set((4L, "d", 40.0), (5L, "e", 50.0)))
    // UPDATE … RETURNING with dialect expressions — the NEW values
    val upd = DuckDml.execReturning(spark, cat,
      "UPDATE t SET bal = bal * 2 WHERE id <= 2 RETURNING id, bal, len(name) AS ln")
    assert(upd.as[(Long, Double, Int)].collect().toSet ==
      Set((1L, 20.0, 1), (2L, 40.0, 1)))
    // DELETE … RETURNING — the deleted rows (pre-image)
    val del = DuckDml.execReturning(spark, cat,
      "DELETE FROM t WHERE id >= 4 RETURNING id, bal")
    assert(del.as[(Long, Double)].collect().toSet ==
      Set((4L, 40.0), (5L, 50.0)))
    // the table state reflects all three mutations
    assert(state(root) == Set((1L, "a", 20.0), (2L, "b", 40.0), (3L, "c", 30.0)))
    // routing refusals: exec refuses RETURNING (points at execReturning),
    // execReturning refuses plain DML and non-DML heads
    assert(intercept[GraftSqlException](DuckDml.exec(spark, cat,
      "DELETE FROM t WHERE id = 1 RETURNING *"))
      .getMessage.contains("execReturning"))
    assert(intercept[GraftSqlException](DuckDml.execReturning(spark, cat,
      "DELETE FROM t WHERE id = 1")).getMessage.contains("RETURNING"))
    assert(intercept[GraftSqlException](DuckDml.execReturning(spark, cat,
      "VACUUM t RETURNING *")).getMessage.contains("INSERT/UPDATE/DELETE"))
  }

  test("ATTACH/DETACH lifecycle: qualified refs resolve, detach unresolves") {
    // on a session of its own: the alias and its views stay there
    val s = spark.newSession()
    DuckDml.exec(s, Map.empty, s"ATTACH '${sf()}' AS aux2")
    val df = DuckDialect.run(s, sf(),
      "SELECT count(*) AS n FROM nation n JOIN aux2.region r ON n.n_regionkey = r.r_regionkey")
    assert(df.head().getLong(0) === 25)
    assert(intercept[GraftSqlException](
      DuckDml.exec(s, Map.empty, s"ATTACH '${sf()}' AS aux2"))
      .getMessage.contains("already attached"))
    DuckDml.exec(s, Map.empty, "DETACH aux2")
    // after detach the qualifier no longer rewrites: translation leaves
    // aux2.region alone and Spark has no such relation
    intercept[Exception] {
      DuckDialect.run(s, sf(), "SELECT count(*) AS n FROM aux2.region").collect()
    }
    assert(intercept[GraftSqlException](
      DuckDml.exec(s, Map.empty, "DETACH aux2"))
      .getMessage.contains("no attached catalog"))
    assert(intercept[GraftSqlException](
      DuckDml.exec(s, Map.empty, "ATTACH '/nonexistent/nowhere' AS ghost"))
      .getMessage.contains("no fixture tables"))
  }

  test("EXPORT DATABASE writes parquet + load.sql and the rows round-trip") {
    val out = java.nio.file.Files.createTempDirectory("graft_exp_spec_").toString
    DuckDml.exec(spark, Map("__dir" -> sf()), s"EXPORT DATABASE '$out'")
    val loadSql = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/load.sql"))
    assert(loadSql.contains("CREATE VIEW nation AS"))
    // DuckDB cannot open a bare Spark parquet DIRECTORY — the script must
    // glob the part files (ADVICE r15).
    assert(loadSql.contains(s"'$out/nation.parquet/*.parquet'"))
    val back = spark.read.parquet(s"$out/nation.parquet")
    assert(back.count() === graft.Tables.t(spark, sf(), "nation").count())
    assert(back.columns.sorted ===
      graft.Tables.t(spark, sf(), "nation").columns.sorted)
  }
}
