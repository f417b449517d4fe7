package graft

import org.apache.spark.sql.functions.col
import scala.collection.immutable.ListMap

/** 100×-scale probe (round-14 verdict item 7; round-15: invariance on
  * every entry by default): push the scale evidence
  * one decade past the routine 10× sweep — stage 100 × sf0.1 ≈ sf10 on
  * tmpfs and run the HEAVIEST entries once each under the production
  * config, timing every entry and VALUE-CHECKING a sampled subset by
  * partitioning invariance (the same query under a different
  * spark.sql.shuffle.partitions must produce the identical row multiset
  * — the determinism contract all oracled entries claim, tested here at
  * a scale DuckDB-side comparison cannot reach in this sandbox).
  *
  * Output: one JSON line on stdout and (by default)
  * `bench_evidence/r15_sf10_probe.json` — per-entry seconds + rows, the
  * invariance verdicts, and the staging time. Entries run ONCE (this is
  * a does-the-plan-survive probe, not a benchmark; the 10× block in
  * Bench.scala remains the dispersion-controlled scale trend).
  *
  * `SPARK_GRAFT_PROBE_COPIES` (default 100) and
  * `SPARK_GRAFT_PROBE_ENTRIES` (comma list) parameterize it.
  */
object Sf10Probe {

  private def md5RowsHash(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    // order-insensitive multiset hash: md5 each canonical row rendering,
    // then SUM the 60-bit prefixes in DECIMAL(38,0) — a commutative fold,
    // so the verdict is collectable without collecting the rows
    val hashed = df.select(
      org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.concat_ws("",
          df.columns.sorted.toIndexedSeq.map(c => col(c).cast("string")): _*))
        .as("h"))
      .select(org.apache.spark.sql.functions
        .conv(org.apache.spark.sql.functions.substring(col("h"), 1, 15), 16, 10)
        .cast("long").as("hv"))
    // DECIMAL(38,0) sum: hv < 2^60, so a LONG sum would overflow (ANSI
    // throws) past ~2^3 rows of adversarial hashes; decimal holds 10^38
    val agg = hashed.agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
      org.apache.spark.sql.functions.sum(col("hv").cast("decimal(38,0)")).as("s")).head()
    (agg.getLong(0), Option(agg.getDecimal(1)).map(_.toBigInteger.toString(16)).getOrElse("empty"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_PROBE_COPIES", "100").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Default roster (round-15 verdict item 7): the round-15 ten plus the
    // next-heaviest ten — 20 entries spanning dedup, OLAP-suite heavies,
    // graph, embeddings, search, streams-twins, packing, and the new
    // incremental-dedup path.
    val entries = sys.env.getOrElse("SPARK_GRAFT_PROBE_ENTRIES",
      "dedup_minhash,dedup_substring,pipeline_curate,h2o_median_sd," +
        "events_scd2,classify_nb,lm_perplexity,mix_dsir," +
        "dedup_components_star,tokenize_bpe," +
        "h2o_groupby_six,ds_three_channel,graph_triangles,emb_abtt," +
        "dedup_embedding_lsh_wide,search_bm25_multi,ts_ewma," +
        "pipeline_shard,compress_pack_agg,dedup_incremental")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // round-15: invariance is the DEFAULT for every probed entry (one
    // re-run each) — opt out by naming a subset, not in
    val invariance = sys.env.get("SPARK_GRAFT_PROBE_INVARIANCE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(entries.toSet)
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT",
      "bench_evidence/r16_sf10_probe.json")

    val spark = EngineSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    def secs(since: Long): Double = (System.nanoTime() - since) / 1e9
    val dir = BenchConf.stageFixtures(spark, sfDir, cpus,
      copies = copies, moneyDecimals = false)
    val stageSec = secs(t0)
    System.err.println(f"[probe] staged ${copies}x of $sfDir in $stageSec%.0fs -> $dir")
    // the production config the engine ships with — the probe must hold
    // there, not under a tuned benchmark config
    BenchConf.production(spark, cpus)
    compaction.Compact.enableAqeCompaction(spark)

    val results = entries.map { name =>
      val t = System.nanoTime()
      val (n, h) = md5RowsHash(SparkEntry.queries(name)(spark, dir))
      val sec = secs(t)
      System.err.println(f"[probe] $name: $sec%.1fs, $n rows, hash $h")
      val inv = if (!invariance(name)) "untested" else {
        val alt = math.max(7, cpus / 3)
        spark.conf.set("spark.sql.shuffle.partitions", alt.toString)
        val (n2, h2) = md5RowsHash(SparkEntry.queries(name)(spark, dir))
        spark.conf.set("spark.sql.shuffle.partitions", math.max(cpus, 8).toString)
        val ok = n2 == n && h2 == h
        System.err.println(s"[probe] $name invariance @$alt partitions: " +
          (if (ok) "IDENTICAL" else s"MISMATCH ($n/$h vs $n2/$h2)"))
        if (ok) "identical" else s"MISMATCH:$n2/$h2"
      }
      (name, sec, n, h, inv)
    }
    val rec = ListMap("copies" -> copies, "sf" -> sfDir,
      "stage_sec" -> math.rint(stageSec * 10) / 10, "cpus" -> cpus,
      "entries" -> ListMap.from(results.map { case (n, sec, rows, h, inv) =>
        n -> ListMap("sec" -> math.rint(sec * 100) / 100, "rows" -> rows, "hash" -> h,
          "invariance" -> inv)
      }))
    scala.util.Try(Json.writeFile(out, rec)).fold(
      e => System.err.println(s"[probe] write failed (${e.getMessage})"),
      _ => System.err.println(s"[probe] record -> $out"))
    println(Json.write(rec))
    scala.reflect.io.Path(dir).deleteRecursively()
    spark.stop()
  }
}
