package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle-checked DML faces (reference `physical_insert.cpp`,
  * `physical_delete.cpp`, `physical_update.cpp` + MERGE-style upsert).
  * Each entry materializes a GraftTable from fixture
  * data in a fresh temp dir, applies real write-path DML, and returns the
  * read-back snapshot; the oracle is the equivalent pure SELECT over the
  * untouched fixtures (INSERT ≡ UNION ALL, DELETE ≡ negated-predicate
  * filter, UPDATE ≡ CASE projection, MERGE ≡ FULL OUTER JOIN), so DuckDB
  * value-checks the entire post-DML table state. */
object DmlQueries extends graft.EntryModule {

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_dml_").toString

  /** INSERT: nation + 5 region-derived rows appended (no rewrite). */
  def dmlInsert(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root,
      Tables.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"))
    GraftTable.insert(s, root, Tables.t(s, dir, "region").select(
      (col("r_regionkey") + 100).as("n_nationkey"),
      col("r_name").as("n_name"),
      col("r_regionkey").as("n_regionkey")))
    GraftTable.read(s, root)
  }

  val dmlInsertSql: String =
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |UNION ALL
      |SELECT CAST(r_regionkey + 100 AS INTEGER) AS n_nationkey,
      |       r_name AS n_name, r_regionkey AS n_regionkey FROM region""".stripMargin

  /** DELETE WHERE c_acctbal < 0 — the negative balances are marked in
    * their files' deletion vectors; the survivors are everything where
    * the predicate is not TRUE (SQL DELETE semantics). */
  def dmlDelete(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal"))
    GraftTable.delete(s, root, col("c_acctbal") < 0)
    GraftTable.read(s, root).select("c_custkey", "c_acctbal")
  }

  val dmlDeleteSql: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE c_acctbal IS NULL OR c_acctbal >= 0""".stripMargin

  /** UPDATE ... SET c_acctbal = c_acctbal + 100 WHERE segment='BUILDING';
    * assignments see the pre-update row. */
  def dmlUpdate(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal"))
    GraftTable.update(s, root, col("c_mktsegment") === "BUILDING",
      Map("c_acctbal" -> (col("c_acctbal") + lit(100.0d))))
    GraftTable.read(s, root).select("c_custkey", "c_acctbal")
  }

  val dmlUpdateSql: String =
    """SELECT c_custkey,
      |  CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0
      |       ELSE c_acctbal END AS c_acctbal
      |FROM customer""".stripMargin

  /** MERGE (upsert): source rows with keys 0,5,10,15,20 update matched
    * nations in place (SET *), keys 200+ append — the post-merge table ≡
    * a FULL OUTER JOIN of target and source. */
  def dmlMerge(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root,
      Tables.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"))
    val region = Tables.t(s, dir, "region")
    val source = region.select(
        (col("r_regionkey") * 5).as("n_nationkey"),
        concat(lit("R_"), col("r_name")).as("n_name"),
        col("r_regionkey").as("n_regionkey"))
      .unionAll(region.select(
        (col("r_regionkey") + 200).as("n_nationkey"),
        col("r_name").as("n_name"),
        col("r_regionkey").as("n_regionkey")))
    GraftTable.merge(s, root, source, Seq("n_nationkey"))
    GraftTable.read(s, root)
  }

  val dmlMergeSql: String =
    """WITH src AS (
      |  SELECT CAST(r_regionkey * 5 AS INTEGER) AS k,
      |         'R_' || r_name AS nm, r_regionkey AS rk FROM region
      |  UNION ALL
      |  SELECT CAST(r_regionkey + 200 AS INTEGER), r_name, r_regionkey FROM region)
      |SELECT coalesce(s.k, n.n_nationkey) AS n_nationkey,
      |       CASE WHEN s.k IS NOT NULL THEN s.nm ELSE n.n_name END AS n_name,
      |       CASE WHEN s.k IS NOT NULL THEN s.rk ELSE n.n_regionkey END AS n_regionkey
      |FROM nation n FULL OUTER JOIN src s ON n.n_nationkey = s.k""".stripMargin

  /** Snapshot isolation: version 1 read back AFTER a delete committed
    * version 2 — time travel must return the pre-delete table. */
  def dmlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal"))
    GraftTable.delete(s, root, col("c_acctbal") < 0)
    GraftTable.read(s, root, version = Some(1)).select("c_custkey", "c_acctbal")
  }

  val dmlTimeTravelSql: String =
    "SELECT c_custkey, c_acctbal FROM customer"

  /** CDC: row-level changes between the pre- and post-UPDATE versions.
    * The engine computes them purely from the manifest diff (only the
    * touched files and positions are read; identical old and new rows
    * cancel under EXCEPT ALL), so the visible delta is exactly the
    * updated rows: delete(old values) + insert(new values). */
  def dmlChanges(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal"))
    GraftTable.update(s, root, col("c_mktsegment") === "BUILDING",
      Map("c_acctbal" -> (col("c_acctbal") + lit(100.0d))))
    GraftTable.changes(s, root, 1, 2)
      .select("change_type", "c_custkey", "c_acctbal")
  }

  val dmlChangesSql: String =
    """SELECT 'insert' AS change_type, c_custkey, c_acctbal + 100.0 AS c_acctbal
      |FROM customer WHERE c_mktsegment = 'BUILDING'
      |UNION ALL
      |SELECT 'delete' AS change_type, c_custkey, c_acctbal
      |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin

  /** DML via SQL STRINGS (round 6, `graft.sql.DuckDml`): the same write
    * paths driven by pasted statements, with DuckDB dialect spellings in
    * the predicate (len, //) proving the statement-level translation at
    * the gate. */
  def dmlSqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal"))
    graft.sql.DuckDml.exec(s, Map("cust" -> root),
      "UPDATE cust SET c_acctbal = c_acctbal * 2 WHERE c_mktsegment = 'MACHINERY'")
    GraftTable.read(s, root).select("c_custkey", "c_acctbal")
  }

  val dmlSqlUpdateSql: String =
    """SELECT c_custkey,
      |       CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal * 2
      |            ELSE c_acctbal END AS c_acctbal
      |FROM customer""".stripMargin

  def dmlSqlDelete(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal"))
    graft.sql.DuckDml.exec(s, Map("cust" -> root),
      "DELETE FROM cust WHERE c_acctbal < 0 AND len(c_mktsegment) // 2 = 4")
    GraftTable.read(s, root).select("c_custkey", "c_acctbal")
  }

  val dmlSqlDeleteSql: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE NOT (c_acctbal < 0 AND length(c_mktsegment) // 2 = 4)""".stripMargin

  /** DML … RETURNING statement faces (reference `physical_insert.cpp` /
    * `physical_delete.cpp` / `physical_update.cpp` RETURNING): each face
    * mutates a disjoint segment and returns its affected rows — INSERT
    * the inserted rows, UPDATE the new values, DELETE the deleted rows —
    * with a dialect-spelled expression (`len`, `//`) in the RETURNING
    * list proving the item translation. The oracle reproduces every
    * face's returned rows from the untouched fixture (the DmlQueries
    * house style; DuckDB 1.0.0 runs RETURNING natively but the gate's
    * single-SELECT shape wants the pure reproduction). */
  def dmlSqlReturning(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal"))
    val cat = Map("cust" -> root, "__dir" -> dir)
    val ret = "RETURNING c_custkey, c_acctbal, len(c_mktsegment) // 2 AS lh"
    val ins = graft.sql.DuckDml.execReturning(s, cat,
      s"""INSERT INTO cust
         |SELECT c_custkey + 1000000, c_mktsegment, c_acctbal + 1.0
         |FROM customer WHERE c_mktsegment = 'HOUSEHOLD' $ret""".stripMargin)
    val upd = graft.sql.DuckDml.execReturning(s, cat,
      s"UPDATE cust SET c_acctbal = c_acctbal + 50.0 " +
        s"WHERE c_mktsegment = 'FURNITURE' $ret")
    val del = graft.sql.DuckDml.execReturning(s, cat,
      s"DELETE FROM cust WHERE c_acctbal < 0 AND c_mktsegment = 'BUILDING' $ret")
    ins.select(lit("insert").as("face"), col("c_custkey"), col("c_acctbal"), col("lh"))
      .unionByName(upd.select(lit("update").as("face"), col("c_custkey"),
        col("c_acctbal"), col("lh")))
      .unionByName(del.select(lit("delete").as("face"), col("c_custkey"),
        col("c_acctbal"), col("lh")))
  }

  val dmlSqlReturningSql: String =
    """SELECT 'insert' AS face, c_custkey + 1000000 AS c_custkey,
      |       c_acctbal + 1.0 AS c_acctbal, len(c_mktsegment) // 2 AS lh
      |FROM customer WHERE c_mktsegment = 'HOUSEHOLD'
      |UNION ALL
      |SELECT 'update', c_custkey, c_acctbal + 50.0, len(c_mktsegment) // 2
      |FROM customer WHERE c_mktsegment = 'FURNITURE'
      |UNION ALL
      |SELECT 'delete', c_custkey, c_acctbal, len(c_mktsegment) // 2
      |FROM customer WHERE c_acctbal < 0 AND c_mktsegment = 'BUILDING'""".stripMargin

  /** BEGIN/COMMIT/ROLLBACK over the versioned table (round-15: converts
    * the standing SURVEY transactions exclusion; reference
    * `src/transaction/` MVCC semantics at statement granularity): a
    * rolled-back transaction's UPDATE + DELETE leave NO trace — the
    * metadata-only [[GraftTable.restore]] puts every touched table back
    * at its pre-transaction version — while the committed transaction's
    * UPDATE persists. The rolled-back statements really execute (eager
    * apply, read-committed within the driver), so the oracle's
    * single-SELECT reproduction of "only the committed effect" is a
    * real rollback check, not a no-op's. */
  def dmlSqlTxn(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal"))
    val cat = Map("cust" -> root)
    graft.sql.DuckDml.withTxnScope(s) {
      graft.sql.DuckDml.exec(s, cat, "BEGIN TRANSACTION")
      graft.sql.DuckDml.exec(s, cat,
        "UPDATE cust SET c_acctbal = c_acctbal + 100.0 WHERE c_mktsegment = 'BUILDING'")
      graft.sql.DuckDml.exec(s, cat, "DELETE FROM cust WHERE c_acctbal < 0")
      graft.sql.DuckDml.exec(s, cat, "ROLLBACK")
      graft.sql.DuckDml.exec(s, cat, "BEGIN")
      graft.sql.DuckDml.exec(s, cat,
        "UPDATE cust SET c_acctbal = c_acctbal * 2 WHERE c_mktsegment = 'MACHINERY'")
      graft.sql.DuckDml.exec(s, cat, "COMMIT")
    }
    GraftTable.read(s, root).select("c_custkey", "c_acctbal")
  }

  val dmlSqlTxnSql: String =
    """SELECT c_custkey,
      |       CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal * 2
      |            ELSE c_acctbal END AS c_acctbal
      |FROM customer""".stripMargin

  /** Small-file compaction: 32 deliberately tiny files rewritten into
    * target-size ones as a new version; the oracle is row identity with
    * the untouched fixture — compaction must move bytes, never rows. */
  def dmlCompact(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal").repartition(32))
    GraftTable.compact(s, root, 8L * 1024 * 1024)
    GraftTable.read(s, root).select("c_custkey", "c_acctbal")
  }

  val dmlCompactSql: String = "SELECT c_custkey, c_acctbal FROM customer"

  /** INSERT … ON CONFLICT statement face (reference
    * `physical_insert.cpp` OnConflictAction): region-derived rows whose
    * keys 0-4 conflict with existing nations (full-row DO UPDATE
    * replaces them) and keys 100+ are new (inserted); a second DO
    * NOTHING pass re-sends key 100 with different values and must leave
    * it untouched. Oracle: CASE-projection for the updated keys + UNION
    * ALL for the inserts over the untouched fixtures. */
  def dmlUpsertConflict(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root,
      Tables.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"))
    val cat = Map("t" -> root, "__dir" -> dir)
    graft.sql.DuckDml.exec(s, cat,
      """INSERT INTO t
        |SELECT CAST(r_regionkey AS INT) AS n_nationkey,
        |       concat('U_', r_name) AS n_name,
        |       CAST(r_regionkey AS INT) AS n_regionkey FROM region
        |UNION ALL
        |SELECT CAST(r_regionkey + 100 AS INT), r_name,
        |       CAST(r_regionkey AS INT) FROM region
        |ON CONFLICT (n_nationkey) DO UPDATE
        |SET n_name = excluded.n_name, n_regionkey = excluded.n_regionkey""".stripMargin)
    graft.sql.DuckDml.exec(s, cat,
      """INSERT INTO t
        |SELECT CAST(r_regionkey + 100 AS INT), concat('X_', r_name),
        |       CAST(r_regionkey + 7 AS INT) FROM region
        |ON CONFLICT (n_nationkey) DO NOTHING""".stripMargin)
    GraftTable.read(s, root)
  }

  val dmlUpsertConflictSql: String =
    """SELECT n_nationkey,
      |  CASE WHEN n_nationkey <= 4 THEN 'U_' ||
      |    (SELECT r_name FROM region WHERE r_regionkey = n_nationkey)
      |       ELSE n_name END AS n_name,
      |  CASE WHEN n_nationkey <= 4 THEN n_nationkey
      |       ELSE n_regionkey END AS n_regionkey
      |FROM nation
      |UNION ALL
      |SELECT CAST(r_regionkey + 100 AS INTEGER), r_name, r_regionkey
      |FROM region""".stripMargin

  /** OPTIMIZE ZORDER BY — multi-dimensional clustering rewrite: the
    * orders snapshot re-laid-out along the (o_custkey, o_totalprice)
    * Z-curve. The oracle pins the LAYOUT-INVARIANCE contract (same row
    * multiset as the plain fixture — clustering moves rows between
    * files, never changes them); the pruning-selectivity win the layout
    * exists for is pinned by ZorderSpec, which shows point predicates on
    * BOTH dimensions each skipping most files. */
  def dmlZorder(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice").repartition(8))
    GraftTable.zorderBy(s, root, Seq("o_custkey", "o_totalprice"), 8)
    GraftTable.read(s, root)
  }

  val dmlZorderSql: String =
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"

  /** Train Benchmark's full inject→repair→revalidate cycle (reference
    * `benchmark/trainbenchmark/` — its README describes the benchmark as
    * validate / inject faults / REPAIR by DML / validate again; the
    * `switchmonitored` query finds switches with no monitoredBy edge).
    * Here the monitoredBy table is a GraftTable seeded from the lineitem
    * flow (a part is "monitored" if a line item observed it), the
    * validation is the left-anti probe of part against it, and the REPAIR
    * is a MERGE that inserts a monitor row for every violating switch.
    * The read-back summary proves the repair drove violations to zero —
    * the oracle reproduces the pre/post counts from the untouched
    * fixtures. violations_before is counted EAGERLY (before the merge
    * commits) because the lazy plan would otherwise re-read the repaired
    * snapshot. */
  def dmlRepairValidation(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    GraftTable.create(s, root, Tables.t(s, dir, "lineitem")
      .select(col("l_partkey").as("te"),
        pmod(col("l_partkey"), lit(100)).as("sensor"))
      .distinct())
    val part = Tables.t(s, dir, "part")
    val violations = part.join(GraftTable.read(s, root),
      col("p_partkey") === col("te"), "left_anti")
    val nBefore = violations.count()
    GraftTable.merge(s, root,
      violations.select(col("p_partkey").as("te"),
        pmod(col("p_partkey"), lit(100)).as("sensor")),
      Seq("te"))
    val after = GraftTable.read(s, root)
    part.join(after, col("p_partkey") === col("te"), "left")
      .agg(lit(nBefore).as("violations_before"),
        count(col("te")).as("monitored_switches"),
        sum(when(col("te").isNull, 1L).otherwise(0L)).as("violations_after"))
  }

  val dmlRepairValidationSql: String =
    """WITH mon AS (SELECT DISTINCT l_partkey AS te FROM lineitem),
      |miss AS (SELECT p_partkey FROM part
      |         WHERE p_partkey NOT IN (SELECT te FROM mon))
      |SELECT (SELECT count(*) FROM miss) AS violations_before,
      |       (SELECT count(*) FROM part) AS monitored_switches,
      |       CAST(0 AS BIGINT) AS violations_after""".stripMargin

  /** Incremental aggregate maintenance from CDC — the materialized-view
    * pattern a 100 TB summary pipeline runs instead of full recomputes:
    * a per-segment summary built at v1 is advanced to the final version
    * using ONLY the change feed (signed partial aggregates from
    * `changes()` — insert rows count +1, delete rows −1 — full-outer-
    * joined onto the stale summary), never rescanning the table. The
    * manifest makes the feed cheap: only touched files and positions
    * are read.
    * An UPDATE surfaces as delete(old)+insert(new), so SUM/COUNT
    * maintenance is exact; groups whose count reaches 0 drop, matching
    * the recompute. Money sums go through DECIMAL on both engines so
    * the incremental path is bit-equal to the oracle's one-shot
    * aggregate. The oracle reproduces the final table state from the
    * untouched fixture (UPDATE ≡ CASE, DELETE ≡ filter, INSERT ≡ UNION
    * ALL) and aggregates once. */
  def dmlIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val root = tmpRoot()
    val dec = (c: org.apache.spark.sql.Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
    GraftTable.create(s, root, Tables.t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal"))
    // stale summary, pinned to v1 by time travel (not laziness)
    val summary0 = GraftTable.read(s, root, Some(1))
      .groupBy(col("c_mktsegment"))
      .agg(sum(dec(col("c_acctbal"))).as("bal0"), count(lit(1)).as("n0"))
    // three DML commits: update, delete, insert
    GraftTable.update(s, root, col("c_mktsegment") === "BUILDING",
      Map("c_acctbal" -> (col("c_acctbal") + lit(100.0d))))
    GraftTable.delete(s, root, col("c_acctbal") < 500)
    GraftTable.insert(s, root,
      Tables.t(s, dir, "customer").filter(col("c_mktsegment") === "AUTOMOBILE")
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          col("c_mktsegment"), (col("c_acctbal") + 5.0d).as("c_acctbal")))
    // advance the summary from the feed alone
    val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
    val delta = GraftTable.changes(s, root, 1, GraftTable.currentVersion(root))
      .groupBy(col("c_mktsegment"))
      .agg(sum(dec(col("c_acctbal")) * sign).as("dbal"), sum(sign).as("dn"))
    summary0.join(delta, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        (coalesce(col("bal0"), lit(0).cast("decimal(18,2)")) +
          coalesce(col("dbal"), lit(0).cast("decimal(18,2)"))).cast("double").as("bal"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"))
      .filter(col("n") > 0)
  }

  val dmlIncrementalAggSql: String =
    """WITH updated AS (
      |  SELECT c_mktsegment,
      |         CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0
      |              ELSE c_acctbal END AS b
      |  FROM customer),
      |kept AS (SELECT * FROM updated WHERE NOT (b < 500)),
      |ins AS (SELECT c_mktsegment, c_acctbal + 5.0 AS b
      |        FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
      |allrows AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
      |SELECT c_mktsegment,
      |       CAST(sum(CAST(b AS DECIMAL(18,2))) AS DOUBLE) AS bal,
      |       count(*) AS n
      |FROM allrows GROUP BY c_mktsegment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dml_incremental_agg" -> (dmlIncrementalAgg _),
    "dml_repair_validation" -> (dmlRepairValidation _),
    "dml_zorder" -> (dmlZorder _),
    "dml_upsert_conflict" -> (dmlUpsertConflict _),
    "dml_compact" -> (dmlCompact _),
    "dml_insert" -> (dmlInsert _),
    "dml_delete" -> (dmlDelete _),
    "dml_update" -> (dmlUpdate _),
    "dml_merge" -> (dmlMerge _),
    "dml_time_travel" -> (dmlTimeTravel _),
    "dml_changes" -> (dmlChanges _),
    "dml_sql_update" -> (dmlSqlUpdate _),
    "dml_sql_delete" -> (dmlSqlDelete _),
    "dml_sql_returning" -> (dmlSqlReturning _),
    "dml_sql_txn" -> (dmlSqlTxn _))

  val oracle: Map[String, String] = Map(
    "dml_incremental_agg" -> dmlIncrementalAggSql,
    "dml_repair_validation" -> dmlRepairValidationSql,
    "dml_zorder" -> dmlZorderSql,
    "dml_upsert_conflict" -> dmlUpsertConflictSql,
    "dml_compact" -> dmlCompactSql,
    "dml_insert" -> dmlInsertSql,
    "dml_delete" -> dmlDeleteSql,
    "dml_update" -> dmlUpdateSql,
    "dml_merge" -> dmlMergeSql,
    "dml_time_travel" -> dmlTimeTravelSql,
    "dml_changes" -> dmlChangesSql,
    "dml_sql_update" -> dmlSqlUpdateSql,
    "dml_sql_delete" -> dmlSqlDeleteSql,
    "dml_sql_returning" -> dmlSqlReturningSql,
    "dml_sql_txn" -> dmlSqlTxnSql)
}
