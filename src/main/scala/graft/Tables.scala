package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Data layer: the driver-provided TPC-H-ish star schema plus the
  * LLM-pipeline tables (`documents`, `embeddings`) — see FIXTURES.md.
  *
  * Mirrors the reference's catalog/table-scan surface
  * (reference `src/execution/operator/scan/physical_table_scan.cpp`,
  * `src/function/table/table_scan.cpp`): projection + filter pushdown is
  * delegated to Spark's parquet DataSource (visible as `PushedFilters` /
  * `ReadSchema` in `explain("formatted")`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables small enough to broadcast in any realistic deployment: at 100 TB
    * total, region/nation stay tiny (dimension-like) — always broadcast. */
  val broadcastable: Set[String] = Set("region", "nation")

  /** Catalog analog: table schemas resolved once per path, then supplied
    * to every subsequent read. Without this, each query pays a footer
    * schema-inference Spark job PER TABLE PER EXECUTION (~30 ms each —
    * measured per stage: 6 such stages dominated q5's wall time).
    * The reference keeps table metadata in its catalog for the same
    * reason (reference `src/function/table/table_scan.cpp` binds against
    * catalog types, not per-query file sniffing).
    *
    * INVARIANT: entries are keyed by path and never invalidated, so a
    * path must not be rewritten in-JVM with a different schema — parquet
    * reads with an explicit stale schema return NULLs for absent columns
    * instead of failing. Fixtures are immutable and staged dirs are fresh
    * temp dirs, which preserves this; a test that regenerates a fixture
    * in place must use a new path (or call `schemaCache.clear()`). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Resolved-DataFrame cache, one level up from [[schemaCache]] and under
    * the SAME immutability invariant: `spark.read…parquet(path)` re-resolves
    * the DataSource (FileIndex construction + directory listing) on every
    * call — measured r17 at ~14 ms/table, which the verbatim gate entries
    * paid 21-24× PER QUERY re-registering their temp views (~300 ms of the
    * ~850 ms per-entry wall; ×212 entries ≈ 65 s of the gate). A DataFrame
    * is an immutable plan handle, so re-registering the SAME handle is a
    * pure catalog-map update. Keyed by (session, path): plans resolve
    * against a session's conf and must not leak across sessions. Sessions
    * per JVM are few and plans are small, so a plain map is fine. */
  private val dfCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The fixture's `events.ts` encoding has varied across driver versions;
    // normalize every historical shape to a session-zone TIMESTAMP here, in
    // ONE place, so downstream operators (`unix_micros`, sub-month
    // `time_bucket`, window ranges) see a single type:
    //  - TIMESTAMP(NANOS): Spark's reader rejects it; read nanos as long
    //    and truncate to µs (values are µs-aligned — verified — and DuckDB
    //    reads the same file as µs TIMESTAMP, so this is exact parity).
    //  - TIMESTAMP_MICROS with isAdjustedToUTC=0: Spark reads TIMESTAMP_NTZ;
    //    the session zone is UTC (EngineSession), so casting to TIMESTAMP
    //    maps each wall-clock value to the identical instant DuckDB reads.
    //  - plain TIMESTAMP: pass through.
    val path = s"$dir/$name.parquet"
    dfCache.computeIfAbsent((spark, path), { _ =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = schemaCache.computeIfAbsent(path,
        p => spark.read.parquet(p).schema)
      val df = spark.read.schema(schema).parquet(path)
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema.fields.find(_.name == "ts").map(_.dataType) match {
        case Some(LongType) =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
        case Some(TimestampNTZType) =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast(TimestampType))
        case _ => df
      }
    })
  }

  /** Test hook: drop cached plans (and schemas) — for suites that rewrite
    * a fixture path in place (see the [[schemaCache]] invariant). */
  def clearCaches(): Unit = { dfCache.clear(); schemaCache.clear(); viewCache.clear() }

  /** What [[registerView]] last registered per (session, view name): the
    * DataFrame handle it registered and the catalog plan object that
    * registration produced. */
  private val viewCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String),
    (DataFrame, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]()

  /** `createOrReplaceTempView` that SKIPS the no-op case: re-pointing a
    * name at the identical DataFrame it already holds. The gate re-registers
    * each suite's views before every entry (646 entries × 10-24 views); the
    * replace command costs ~4 ms each (measured r17), ~90 ms/entry of pure
    * catalog churn. Skipping is decided against the CATALOG'S CURRENT state
    * (identity of the stored plan), not a module-local flag, so an
    * interleaved entry re-pointing the same name (tpch vs tpcds vs testdata
    * `customer`, say) is always detected and re-registered. */
  def registerView(spark: SparkSession, name: String, df: DataFrame): Unit = {
    val key = (spark, name)
    val cached = viewCache.get(key)
    // getRawTempView returns the STORED plan object (getTempView wraps it
    // in a fresh View node per call, which would defeat the identity check)
    if (cached != null && (cached._1 eq df) &&
        spark.sessionState.catalog.getRawTempView(name).exists(_ eq cached._2))
      return
    df.createOrReplaceTempView(name)
    spark.sessionState.catalog.getRawTempView(name)
      .foreach(p => viewCache.put(key, (df, p)))
  }

  /** Register every fixture table as a temp view (idempotent, cheap —
    * catalog-only) so `spark.sql` queries can reference them by name. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => registerView(spark, n, t(spark, dir, n)))

  /** Run a SQL query with all fixture views registered. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerAll(spark, dir)
    spark.sql(query)
  }
}
