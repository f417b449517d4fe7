package graft

import org.apache.spark.sql.functions._
import graft.sources.GraftTable

/** GraftTable copy-on-write invariants the DuckDB oracle cannot see:
  * file-granularity rewrites (unaffected files survive by identity, not by
  * re-copy), append-only inserts, empty-table behavior, and version
  * immutability under successive DML. */
class DmlSpec extends SparkSpec {

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_dml_spec_").toString

  private def manifestFiles(root: String, v: Int): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/_manifests/v$v.manifest"))
      .asScala.filter(_.nonEmpty).toSet
  }

  test("insert appends files without rewriting any existing file") {
    val root = freshRoot()
    GraftTable.create(spark, root,
      Tables.t(spark, sf(), "nation").repartition(4))
    val v1 = manifestFiles(root, 1)
    GraftTable.insert(spark, root,
      Tables.t(spark, sf(), "nation").limit(3))
    val v2 = manifestFiles(root, 2)
    assert(v1.subsetOf(v2), "insert must keep every existing file")
    assert(v2.size > v1.size, "insert must add files")
    assert(GraftTable.read(spark, root).count() ===
      Tables.t(spark, sf(), "nation").count() + 3)
  }

  test("delete rewrites only files containing matching rows") {
    val root = freshRoot()
    // range-partition on the key so the narrow predicate hits ONE file
    GraftTable.create(spark, root,
      Tables.t(spark, sf(), "customer")
        .select("c_custkey", "c_acctbal")
        .repartitionByRange(4, col("c_custkey")))
    val v1 = manifestFiles(root, 1)
    val victim = Tables.t(spark, sf(), "customer")
      .agg(min("c_custkey")).collect()(0).getLong(0)
    GraftTable.delete(spark, root, col("c_custkey") === victim)
    val v2 = manifestFiles(root, 2)
    assert((v1 intersect v2).size === v1.size - 1,
      s"exactly one file should be rewritten, got ${v1.size - (v1 intersect v2).size}")
    assert(GraftTable.read(spark, root)
      .filter(col("c_custkey") === victim).count() === 0)
  }

  test("update evaluates assignments against pre-update values") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(10).toDF("id")
      .select(col("id"), (col("id") * 2).as("v")))
    // swap-style: v = v + id must read the OLD v for every row
    GraftTable.update(spark, root, col("id") >= 5,
      Map("v" -> (col("v") + col("id"))))
    val got = GraftTable.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === (0L until 10L).map(i => (i, if (i >= 5) i * 3 else i * 2)))
  }

  test("merge updates matched keys, inserts new ones, pure-insert merge rewrites nothing") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(5).toDF("k")
      .select(col("k"), concat(lit("old"), col("k")).as("s")))
    val vBefore = GraftTable.currentVersion(root)
    val mf1 = manifestFiles(root, vBefore)
    // pure insert: keys 100+ match nothing → zero rewrites
    GraftTable.merge(spark, root, spark.range(2).toDF("k")
      .select((col("k") + 100).as("k"), lit("new").as("s")), Seq("k"))
    val mf2 = manifestFiles(root, vBefore + 1)
    assert(mf1.subsetOf(mf2), "pure-insert merge must rewrite nothing")
    // mixed: key 1 updates, key 200 inserts
    GraftTable.merge(spark, root,
      spark.createDataFrame(Seq((1L, "upd"), (200L, "ins"))).toDF("k", "s"),
      Seq("k"))
    val rows = GraftTable.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.contains((1L, "upd")) && rows.contains((200L, "ins")))
    assert(rows.count(_._1 == 1L) === 1, "matched key must not duplicate")
    assert(rows.size === 8)
  }

  test("merge on a key that is not a schema prefix writes inserted rows in schema order") {
    val root = freshRoot()
    // lineitem-shaped: the key (l_orderkey, l_linenumber) is not the
    // leading column pair, so the insert anti-join reorders columns
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_returnflag")
    GraftTable.create(spark, root, spark.createDataFrame(Seq(
      (1L, 10L, 100L, 1, 5.0, "N"), (1L, 11L, 101L, 2, 6.0, "N"),
      (2L, 12L, 102L, 1, 7.0, "R"))).toDF(cols: _*))
    // one MERGE both updates line 2 and inserts line 3 of order 1
    GraftTable.merge(spark, root, spark.createDataFrame(Seq(
      (1L, 11L, 101L, 2, 9.0, "A"), (1L, 13L, 103L, 3, 4.0, "F"))).toDF(cols: _*),
      Seq("l_orderkey", "l_linenumber"))
    val order1 = GraftTable.read(spark, root).filter(col("l_orderkey") === 1L)
      .orderBy("l_linenumber").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4), r.getString(5)))
      .toSeq
    assert(order1 === Seq((1L, 10L, 100L, 1, 5.0, "N"), (1L, 11L, 101L, 2, 9.0, "A"),
      (1L, 13L, 103L, 3, 4.0, "F")))
    assert(GraftTable.read(spark, root).count() === 4)
  }

  test("time travel: every version stays readable after later DML") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(100).toDF("id"))
    GraftTable.delete(spark, root, col("id") < 50)
    GraftTable.insert(spark, root, spark.range(200, 203).toDF("id"))
    assert(GraftTable.read(spark, root, Some(1)).count() === 100)
    assert(GraftTable.read(spark, root, Some(2)).count() === 50)
    assert(GraftTable.read(spark, root, Some(3)).count() === 53)
    assert(GraftTable.currentVersion(root) === 3)
  }

  test("delete to empty table keeps schema; insert refills it") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(5).toDF("id"))
    GraftTable.delete(spark, root, lit(true))
    val empty = GraftTable.read(spark, root)
    assert(empty.count() === 0)
    assert(empty.schema.fieldNames.toSeq === Seq("id"))
    GraftTable.insert(spark, root, spark.range(7).toDF("id"))
    assert(GraftTable.read(spark, root).count() === 7)
  }

  test("delete with NULL predicate keeps the row (SQL semantics)") {
    val root = freshRoot()
    GraftTable.create(spark, root,
      spark.createDataFrame(Seq((1, Some(5)), (2, None: Option[Int]), (3, Some(-1))))
        .toDF("k", "v"))
    GraftTable.delete(spark, root, col("v") < 0) // NULL < 0 is NULL → keep
    assert(GraftTable.read(spark, root).select("k")
      .collect().map(_.getInt(0)).toSet === Set(1, 2))
  }

  test("merge refuses duplicate source keys loudly (cardinality contract)") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(5).toDF("id"))
    val dup = spark.createDataFrame(Seq((1L, 1), (1L, 2))).toDF("id", "v")
      .select(col("id"))
    val e = intercept[IllegalArgumentException](
      GraftTable.merge(spark, root, dup, Seq("id")))
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("merge works when a key column is literally named 'count'") {
    val root = freshRoot()
    GraftTable.create(spark, root,
      spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("count", "v"))
    GraftTable.merge(spark, root,
      spark.createDataFrame(Seq((2L, "B"), (3L, "c"))).toDF("count", "v"),
      Seq("count"))
    assert(GraftTable.read(spark, root).collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet === Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("changes() reports the net row delta between versions") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(10).toDF("id")) // v1
    GraftTable.insert(spark, root, spark.range(100, 103).toDF("id")) // v2
    GraftTable.delete(spark, root, col("id") < 2) // v3
    def delta(a: Int, b: Int): Set[(Long, String)] =
      GraftTable.changes(spark, root, a, b)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(delta(1, 2) === (100L to 102L).map((_, "insert")).toSet)
    assert(delta(2, 3) === Set((0L, "delete"), (1L, "delete")))
    // across both versions, and the identity delta
    assert(delta(1, 3) ===
      ((100L to 102L).map((_, "insert")) ++ Seq((0L, "delete"), (1L, "delete"))).toSet)
    assert(delta(3, 3) === Set.empty)
    // reversed range: inserts and deletes swap roles
    assert(delta(2, 1) === (100L to 102L).map((_, "delete")).toSet)
  }

  test("compact merges small files, keeps rows and large files, re-derives stats") {
    val root = freshRoot()
    GraftTable.create(spark, root,
      Tables.t(spark, sf(), "customer")
        .select("c_custkey", "c_acctbal").repartition(16))
    val before = GraftTable.read(spark, root).collect().toSeq
      .map(_.toSeq).sortBy(_.toString)
    val v1 = manifestFiles(root, 1)
    assert(v1.size == 16)
    val v2 = GraftTable.compact(spark, root, 64L * 1024 * 1024)
    assert(v2 == 2)
    val m2 = manifestFiles(root, 2)
    assert(m2.size < v1.size, "compaction must reduce the file count")
    // rewritten files are NEW files with fresh stats fields; none of the
    // small originals survive into v2
    assert(m2.intersect(v1).isEmpty)
    assert(m2.forall(_.contains("c_custkey=")),
      "compacted files must carry re-derived min/max stats")
    // row identity
    val after = GraftTable.read(spark, root).collect().toSeq
      .map(_.toSeq).sortBy(_.toString)
    assert(after == before)
    // v1 stays readable (old files untouched until vacuum)
    assert(GraftTable.read(spark, root, Some(1)).count() == before.size)
    // above-target files carry over by identity: compact again with a
    // tiny target — nothing is below it, version unchanged
    assert(GraftTable.compact(spark, root, 1L) == 2)
  }

  test("vacuum deletes unreferenced files and old manifests, keeps current") {
    val root = freshRoot()
    GraftTable.create(spark, root,
      Tables.t(spark, sf(), "customer")
        .select("c_custkey", "c_acctbal").repartition(8))
    GraftTable.compact(spark, root, 64L * 1024 * 1024) // v2 rewrites all 8
    val rows = GraftTable.read(spark, root).count()
    val removed = GraftTable.vacuum(root, keepVersions = 1)
    assert(removed == 8, s"expected the 8 small originals deleted, got $removed")
    // current version unaffected; old manifest gone
    assert(GraftTable.read(spark, root).count() == rows)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/_manifests/v1.manifest")))
    // idempotent: nothing left to delete
    assert(GraftTable.vacuum(root, keepVersions = 1) == 0)
    // lastTxn on a vacuumed table: the downward manifest scan must stop
    // at the retention horizon and return None for an unseen query name —
    // not throw NoSuchFileException walking into deleted manifests
    // (this is the first-batch path of a NEW streaming query name)
    assert(GraftTable.lastTxn(root, "never-seen-query").isEmpty)
  }

  test("restore is metadata-only and history stays time-travel readable") {
    val root = freshRoot()
    GraftTable.create(spark, root, Tables.t(spark, sf(), "nation"))
    val n0 = GraftTable.read(spark, root).count()
    GraftTable.delete(spark, root, col("n_nationkey") < 10) // v2
    val n2 = GraftTable.read(spark, root).count()
    val v3 = GraftTable.restore(root, 1)
    assert(v3 === 3, "restore commits a NEW version")
    assert(manifestFiles(root, 3) === manifestFiles(root, 1),
      "restored manifest is the target's verbatim (no data movement)")
    assert(GraftTable.read(spark, root).count() === n0)
    // the discarded version remains readable between restore and vacuum
    assert(GraftTable.read(spark, root, Some(2)).count() === n2)
    intercept[IllegalArgumentException] { GraftTable.restore(root, 99) }
  }

  test("rollback restores every touched table; commit keeps eager writes") {
    import graft.sql.DuckDml
    val (rootA, rootB) = (freshRoot(), freshRoot())
    GraftTable.create(spark, rootA, Tables.t(spark, sf(), "nation"))
    GraftTable.create(spark, rootB, Tables.t(spark, sf(), "region"))
    val cat = Map("na" -> rootA, "re" -> rootB)
    val (a0, b0) = (GraftTable.read(spark, rootA).count(),
      GraftTable.read(spark, rootB).count())
    DuckDml.withTxnScope {
      DuckDml.exec(spark, cat, "BEGIN")
      DuckDml.exec(spark, cat, "DELETE FROM na WHERE n_nationkey >= 0")
      DuckDml.exec(spark, cat, "DELETE FROM re WHERE r_regionkey >= 3")
      // eager apply: the transaction sees its own writes
      assert(GraftTable.read(spark, rootA).count() === 0)
      DuckDml.exec(spark, cat, "ROLLBACK")
    }
    assert(GraftTable.read(spark, rootA).count() === a0, "table A restored")
    assert(GraftTable.read(spark, rootB).count() === b0, "table B restored")
    DuckDml.withTxnScope {
      DuckDml.exec(spark, cat, "BEGIN TRANSACTION")
      DuckDml.exec(spark, cat, "DELETE FROM re WHERE r_regionkey = 0")
      DuckDml.exec(spark, cat, "COMMIT")
    }
    assert(GraftTable.read(spark, rootB).count() === b0 - 1, "commit persists")
  }

  test("transaction statement errors are loud and typed") {
    import graft.sql.DuckDml
    import graft.sql.DuckDialect.GraftSqlException
    val root = freshRoot()
    GraftTable.create(spark, root, Tables.t(spark, sf(), "region"))
    val cat = Map("re" -> root)
    DuckDml.withTxnScope {
      assert(intercept[GraftSqlException] {
        DuckDml.exec(spark, cat, "COMMIT")
      }.getMessage.contains("no transaction is active"))
      assert(intercept[GraftSqlException] {
        DuckDml.exec(spark, cat, "ROLLBACK")
      }.getMessage.contains("no transaction is active"))
      DuckDml.exec(spark, cat, "BEGIN")
      assert(intercept[GraftSqlException] {
        DuckDml.exec(spark, cat, "BEGIN")
      }.getMessage.contains("already active"))
      assert(intercept[GraftSqlException] {
        DuckDml.exec(spark, cat, "VACUUM re")
      }.getMessage.contains("inside a transaction"))
      assert(intercept[GraftSqlException] {
        DuckDml.exec(spark, cat, "CHECKPOINT re")
      }.getMessage.contains("inside a transaction"))
    }
    // withTxnScope aborted the dangling transaction — a fresh one opens
    DuckDml.withTxnScope {
      assert(DuckDml.exec(spark, cat, "BEGIN") === "BEGIN")
      DuckDml.exec(spark, cat, "COMMIT")
    }
  }

  test("an exception between BEGIN and COMMIT rolls back on scope exit (ADVICE r15)") {
    // The eagerly-applied uncommitted write must NOT survive the abort —
    // withTxnScope's exit IS a ROLLBACK, not an implicit COMMIT.
    import graft.sql.DuckDml
    val root = freshRoot()
    GraftTable.create(spark, root, Tables.t(spark, sf(), "region"))
    val cat = Map("re" -> root)
    val n0 = GraftTable.read(spark, root).count()
    intercept[RuntimeException] {
      DuckDml.withTxnScope {
        DuckDml.exec(spark, cat, "BEGIN")
        DuckDml.exec(spark, cat, "DELETE FROM re WHERE r_regionkey >= 0")
        assert(GraftTable.read(spark, root).count() === 0) // eager apply
        throw new RuntimeException("boom mid-transaction")
      }
    }
    assert(GraftTable.read(spark, root).count() === n0,
      "uncommitted DELETE rolled back by scope exit")
    // and the registry is clean: a new transaction opens normally
    DuckDml.withTxnScope {
      assert(DuckDml.exec(spark, cat, "BEGIN") === "BEGIN")
      DuckDml.exec(spark, cat, "COMMIT")
    }
  }

  test("transaction isolation contract is pinned: read-your-own-writes, restore on abort") {
    // Verdict r15 item 8: statements apply eagerly, so inside BEGIN a read
    // of a mutated table sees the transaction's own writes (read-your-own-
    // writes); with a single driver there is no concurrent external reader,
    // so the externally-observable result equals DuckDB's snapshot
    // semantics — COMMIT keeps the eager state, ROLLBACK restores the
    // pre-transaction version bit-for-bit (same rows, same order-free set).
    import graft.sql.DuckDml
    val root = freshRoot()
    GraftTable.create(spark, root, Tables.t(spark, sf(), "nation"))
    val cat = Map("na" -> root)
    val before = GraftTable.read(spark, root).collect().map(_.toString).sorted
    DuckDml.withTxnScope {
      DuckDml.exec(spark, cat, "BEGIN")
      DuckDml.exec(spark, cat,
        "UPDATE na SET n_name = 'REDACTED' WHERE n_regionkey = 0")
      val seen = GraftTable.read(spark, root)
        .filter("n_name = 'REDACTED'").count()
      assert(seen > 0, "read-your-own-writes: the txn sees its own UPDATE")
      DuckDml.exec(spark, cat, "ROLLBACK")
    }
    val after = GraftTable.read(spark, root).collect().map(_.toString).sorted
    assert(after === before, "ROLLBACK restores the exact pre-txn snapshot")
  }
}
