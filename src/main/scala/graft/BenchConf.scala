package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, lit, translate}

/** Every session conf and data layout the timing mains use, in one place:
  * the staged layout Bench, BenchExplain, StfProbe and the probes time
  * against, the tuned and production conf sets Bench's blocks alternate
  * between, and the verbatim-suite conf. No main keeps its own copy.
  *
  * The input fixtures are single-row-group snappy parquet files, which
  * caps scan parallelism at 1 task/table — a layout no real deployment
  * has (a 100 TB table is millions of row groups, loaded sorted on its
  * natural time key). To measure the engine rather than the fixture
  * layout, tables are re-staged ONCE (untimed) into the engine-native
  * layout — multi-file, uncompressed, range-sorted on the dominant filter
  * key so parquet zone maps prune — mirroring the reference's benchmark
  * practice of loading into its own block layout before timing (reference
  * `benchmark/tpch/sf1/tpch_sf1.benchmark.in` loads via dbgen first).
  */
object BenchConf {

  /** A benchmark session. 13–99 queries × ~10 whole-stage-codegen classes
    * each overflow the default 100-entry generated-class cache; with
    * interleaved sampling that means a janino recompile per sample —
    * raise it so compiled classes stay hot across the round-robin
    * (static conf: must be set before the session executes anything). */
  def session(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = EngineSession.builder(s"local[$cpus]", shufflePartitions)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One scan task per staged file: a file's cost is max(size, openCost),
    * so openCost = maxPartitionBytes pins one file per split. */
  def staged(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    spark.conf.set("spark.sql.files.openCostInBytes", "8m")
  }

  /** The tuned bench conf (every knob decided by the BenchTune sweep, not
    * guessed): broadcast 64 MB, 8 shuffle partitions, AQE off. */
  def tuned(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 << 20).toString)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  /** EngineSession's production posture: AQE + coalescing on, one shuffle
    * partition per core (at least 8), default 10 MB broadcast threshold. */
  def production(spark: SparkSession, cpus: Int): Unit = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10 << 20).toString)
    spark.conf.set("spark.sql.shuffle.partitions", math.max(cpus, 8).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
  }

  /** The verbatim suites' conf: 10 MB broadcast, 32-way shuffles, AQE on,
    * 8 MB splits so the single-file dbgen/dsdgen parquet scans wide.
    * Measured A/B on the 5 hottest TPC-H queries at sf1 (warm JVM, 3-run
    * min): {10 MB broadcast, 32 shuffle partitions, AQE} 4.47 s vs
    * {64 MB, 32, AQE} 6.90 s — the 64 MB threshold broadcasts
    * orders/customer at sf1 and the driver-side single-threaded hash
    * build dominates (q5 2.29 s → 0.76 s once those become 32-way shuffle
    * joins). Dimensions still broadcast under 10 MB. */
  def verbatim(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10 << 20).toString)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    staged(spark)
  }

  /** Sort keys giving zone-map pruning for the date/time-filtered scans. */
  private val sortKey = Map(
    "lineitem" -> "l_shipdate", "orders" -> "o_orderdate", "events" -> "ts")

  /** Money columns staged as DECIMAL(18,2) — the layout the reference's
    * own loader uses (TPC-H money is DECIMAL(15,2) in DuckDB's dbgen) —
    * so the exact-money queries read compact decimals directly instead of
    * converting double→decimal per row. Values are identical: the fixture
    * doubles are 2-dp money, and the queries' DECIMAL(18,2) casts become
    * identity on read. */
  private val moneyCols = Map(
    "lineitem" -> Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "orders" -> Seq("o_totalprice"),
    "part" -> Seq("p_retailprice"))

  /** Per-table key columns shifted per inflation copy, so every copy is a
    * disjoint but identically-shaped corpus: join selectivities and
    * per-key group sizes match the base data instead of multiplying
    * (un-shifted keys would make lineitem⋈orders emit copies² rows).
    * Dimensions (nation, region) stay single-copy — inflated fact keys
    * (c_nationkey etc.) are NOT shifted so they still join. */
  private val inflateKeys = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Key shift between copies: far above any fixture key at bench scales. */
  private val copyShift = 1000000000L

  /** Re-stage fixtures into engine-native layout (untimed): ~8 MB
    * uncompressed files (one scan task each), range-sorted where a
    * natural key exists; tiny dimensions stay single-file. With
    * copies>1 the corpus is inflated copies× by key-shifted union;
    * document text gets a per-copy Caesar cipher so copies are NOT
    * mutual near-duplicates — the MinHash/shingle workload grows as a
    * genuine 10× corpus (10 independent sub-corpora), not a pathological
    * one where every doc has copies-1 twins. */
  def stageFixtures(spark: SparkSession, sfDir: String, cpus: Int,
      copies: Int = 1, moneyDecimals: Boolean = true,
      outDir: Option[String] = None): String = {
    // Prefer tmpfs for the staged copy: the warm-best-of methodology
    // assumes cached reads on both engines, and a RAM-backed stage keeps
    // host-disk writeback contention out of the timed region entirely.
    val base = Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
      .map(java.nio.file.Paths.get(_))
      .find(p => java.nio.file.Files.isDirectory(p) && java.nio.file.Files.isWritable(p))
      .get
    val benchDir = outDir.getOrElse(
      java.nio.file.Files.createTempDirectory(base, "graft_bench_").toString)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    spark.conf.set("spark.sql.parquet.compression.codec", "uncompressed")
    Tables.names.foreach { n =>
      val src = new java.io.File(s"$sfDir/$n.parquet")
      val srcBytes0 = if (src.isFile) src.length
        else Option(src.listFiles()).map(_.map(_.length).sum).getOrElse(0L)
      val tableCopies = if (inflateKeys.contains(n)) copies else 1
      val srcBytes = srcBytes0 * tableCopies
      // ≈3× decompression growth, ~8 MB per file, bounded [minParts, 4·cpus]:
      // size alone undershoots task fan-out for the fact tables (lineitem at
      // sf0.1 is 10.8 MB snappy → 4 files → 4 scan tasks on a 32-core box),
      // so the floor tracks available cores. cpus/4 measured best of
      // {size-only, cpus/4, cpus/2} fresh-JVM at sf0.1: more files help the
      // scan-bound queries but inflate the per-job floor (every table scan
      // schedules that many tasks).
      val minParts = math.max(4, cpus / 4)
      // Fragment floor (round 12): the cores-based fan-out floor used to
      // apply to EVERY non-broadcastable table, staging supplier at sf0.1
      // as 8 files of 125 rows — sub-threshold scan fragments, the exact
      // proliferation pathology the engine's compaction targets
      // (reference `physical_operator.cpp:266`), and the bulk of the
      // stuck small_task_fraction_deep_join=0.6. Cap the floor so no
      // staged file drops below ~256 KB decompressed: tiny dimensions
      // collapse to 1-3 right-sized files (their scans are broadcast
      // builds — fan-out buys nothing) while every fact table keeps the
      // full floor (lineitem/orders/events/documents are unchanged at
      // sf0.1 and above).
      val parts = if (Tables.broadcastable(n)) 1
        else {
          val bySize = math.max(minParts,
            math.min(4 * cpus, (3 * srcBytes / (8 << 20)).toInt))
          val maxByFragment = math.max(1, (3 * srcBytes / (256 << 10)).toInt)
          math.min(bySize, maxByFragment)
        }
      // moneyDecimals=false keeps the raw fixture types — required when
      // the staged dir feeds the ORACLE GATE (Verify + DuckDB), whose
      // oracle SQL is written against the fixtures' double money columns.
      val loaded =
        if (!moneyDecimals) Tables.t(spark, sfDir, n)
        else moneyCols.getOrElse(n, Nil).foldLeft(Tables.t(spark, sfDir, n)) {
          (d, c) => d.withColumn(c, col(c).cast("decimal(18,2)"))
        }
      val df = if (tableCopies == 1) loaded else
        (0 until tableCopies).map { c =>
          val shifted = inflateKeys(n).foldLeft(loaded) { (d, k) =>
            d.withColumn(k, col(k) + lit(c * copyShift))
          }
          if (n == "documents" && c > 0)
            shifted.withColumn("text",
              translate(col("text"), alpha, alpha.drop(c % 25 + 1) + alpha.take(c % 25 + 1)))
          else if (n == "embeddings" && c > 0) {
            // rotate each copy's vector by a per-copy offset: copies stop
            // being bitwise-identical (10 identical copies made every ANN
            // top-k cut a 10-way cos tie — engines break ties differently,
            // round-9 sf1 sweep), while norms and the pairwise-distance
            // DISTRIBUTION within a copy are preserved
            shifted.withColumn("embedding", expr(
              // per-copy distinct rotation, wrapped to the vector length
              s"concat(slice(embedding, 1 + (1 + ($c - 1) % (size(embedding) - 1)), " +
                s"size(embedding) - (1 + ($c - 1) % (size(embedding) - 1))), " +
                s"slice(embedding, 1, 1 + ($c - 1) % (size(embedding) - 1)))"))
          } else shifted
        }.reduce(_ unionByName _)
      val out = sortKey.get(n) match {
        case Some(c) => df.repartitionByRange(parts, col(c))
        case None => df.repartition(parts)
      }
      out.write.mode("overwrite").parquet(s"$benchDir/$n.parquet")
    }
    benchDir
  }
}
