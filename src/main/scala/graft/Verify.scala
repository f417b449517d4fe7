package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * CRASH-TOLERANT: oracle_sql.json is re-assembled (atomically, via temp
  * file + move) after EVERY query dump, covering exactly the queries
  * dumped so far — a timeout or kill partway through yields a valid
  * partial correctness record instead of nothing (round 5's gate recorded
  * `{}` because the JSON was only written at the very end).
  *
  * PARALLEL GATE: run serially, the 646-entry gate took 685 s at 8
  * cpus, the binding risk to its time budget. Spark's scheduler happily runs several jobs at
  * once; entries are independent, so SPARK_GRAFT_VERIFY_THREADS worker
  * threads (default 3 — enough to back-fill stage tails, not enough to
  * thrash) drain every entry from one queue, EACH WORKER ON ITS OWN
  * `spark.newSession()` — separate temp-view catalog, SQLConf and SQL
  * state (`graft.sql.SessionSql`: macros, ATTACH aliases, prepared
  * statements, the open transaction) over the shared SparkContext, so
  * the verbatim suites' same-named view registrations (customer,
  * date_dim, …) and the `ducksql_*` statements cannot race. The `dml_*`
  * entries write to per-call temp roots and `join_bucketed` to per-call
  * table names and temp dirs. `threads = 1` is the same pool with one
  * worker. Per-entry timings from the pool are contention-inflated
  * relative to a serial run, so the rotated timings file is tagged with
  * "threads" and Bench's cross-round diff only compares like-tagged
  * files.
  */
object Verify {
  type Entry = SparkEntry.Entry

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = EngineSession.local(EngineSession.cores)
    // SPARK_GRAFT_ONLY=name1,name2 restricts the dump to a subset (a
    // development aid; the gate leaves it unset and dumps the full map).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val entries =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    val threads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "3").toInt)
    // A corpus whose texts are absent has no entries to dump: list it
    // (unavailable.json, always written) so the gate reads it as
    // skipped, not as passed.
    SparkEntry.unavailable.toSeq.sorted.foreach { case (corpus, why) =>
      System.err.println(s"[verify] $corpus UNAVAILABLE: $why") }
    new java.io.File(outDir).mkdirs()
    Json.writeFile(s"$outDir/unavailable.json",
      ListMap.from(SparkEntry.unavailable.toSeq.sorted))
    val (timings, errors) = run(spark, sfDir, outDir, entries, threads)
    // Repo-side rotation for cross-round diffing — only for the full map
    // (a SPARK_GRAFT_ONLY subset would poison the baseline) AT THE
    // GATE SCALE sf0.01 (sweeps at sf0.1/10× must not rotate the
    // baseline out from under the cross-round diff): latest
    // becomes prev, this run becomes latest. Best-effort (read-only cwd
    // or missing bench_evidence dir is fine).
    if (only.isEmpty &&
        new java.io.File(sfDir).getName == "sf0.01") try {
      val dir = Paths.get("bench_evidence")
      if (Files.isDirectory(dir)) {
        val latest = dir.resolve("verify_timings_latest.json")
        if (Files.exists(latest))
          Files.move(latest, dir.resolve("verify_timings_prev.json"),
            StandardCopyOption.REPLACE_EXISTING)
        // loadavg annotation: a noisy baseline is otherwise only
        // identifiable by side-channel knowledge, so the box state goes
        // into the file and a contended run is machine-detectable
        val load = try {
          scala.io.Source.fromFile("/proc/loadavg").mkString.trim
            .split("\\s+").take(3).mkString(" ")
        } catch { case _: Throwable => "" }
        Files.writeString(latest, Json.write(ListMap("sf" -> sfDir, "loadavg" -> load,
          "threads" -> threads, "timings" -> ListMap.from(timings.toSeq.sortBy(_._1)))))
        System.err.println(s"[verify] timings -> $latest (loadavg $load, threads $threads)")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] timings rotation failed: ${e.getMessage}")
    }
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} FAILED: ${errors.keys.toSeq.sorted.mkString(", ")}")
    spark.stop()
  }

  /** Dump every entry's result under `outDir` with `threads` workers and
    * write the record files (oracle_sql.json, errors.json,
    * verify_timings.json) as entries finish. Returns the per-entry wall
    * times (ms) and the failed entries' messages. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      entries: Map[String, Entry], threads: Int): (Map[String, Long], Map[String, String]) = {
    new java.io.File(outDir).mkdirs()
    // Canonical row order on BOTH sides (sorted column names, NULLS FIRST):
    // makes the dump robust to order-sensitive comparison — group-by output
    // order is engine-specific otherwise.
    import org.apache.spark.sql.functions.col
    val columnsByQuery = scala.collection.mutable.Map.empty[String, Seq[String]]
    val selected = entries.toSeq.sortBy(_._1) // deterministic queue order
    // The record files are rewritten after every entry, each atomically
    // (tmp + move), so a crash mid-gate leaves the last complete record.
    def writeAtomic(name: String, v: Any): Unit = {
      val tmp = Paths.get(s"$outDir/$name.tmp")
      Files.writeString(tmp, Json.write(v))
      Files.move(tmp, Paths.get(s"$outDir/$name"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
    // Wrap each oracle in the same canonical ORDER BY (quoted, sorted
    // column names, NULLS FIRST — DuckDB's default is NULLS LAST).
    // Queries whose oracle embeds its OWN total ORDER BY (multi-statement
    // scripts — EXECUTE cannot sit inside a subquery, so the prepared
    // SELECT carries the canonical order itself). EXPLICIT opt-out set,
    // not a substring probe (round-10 advice): an incidental 'graft_ord'
    // in a future oracle's comment/alias/literal must still receive the
    // canonical wrapper. Self-ordered oracles must still CONTAIN the
    // graft_ord marker (asserted below) — the driver's comparator keys
    // order-sensitivity on it.
    val selfOrdered = Set("ducksql_prepare_stmt", "ducksql_attach")
    def wrapped(name: String, sql: String): String =
      columnsByQuery.get(name) match {
        case Some(_) if selfOrdered(name) =>
          require(sql.contains("graft_ord"),
            s"$name is registered self-ordered but its oracle lacks the " +
              "graft_ord marker the driver keys order-sensitive compare on")
          sql
        case Some(cols) =>
          val order = cols.sorted
            .map(c => "\"" + c + "\" ASC NULLS FIRST").mkString(", ")
          s"SELECT * FROM ($sql) graft_ord ORDER BY $order"
        case None => sql
      }
    // All record mutation + JSON re-assembly is serialized on this lock:
    // worker threads finish entries concurrently but the crash-tolerant
    // record files are only ever written by one thread at a time.
    val recordLock = new Object
    // Emit oracles only for queries dumped SO FAR this run: queries not
    // yet (or never) dumped have no columnsByQuery entry (no ORDER BY
    // wrapper) and possibly stale parquet in a reused outDir — emitting
    // them would invite spurious order-dependent mismatches. The oracles
    // read the corpus scale the entries read: both follow sfDir.
    def writeOracleJson(): Unit = writeAtomic("oracle_sql.json", ListMap.from(
      SparkEntry.oraclesFor(columnsByQuery.keySet.toSet, sfDir)
        .toSeq.sortBy(_._1).map { case (k, v) => k -> wrapped(k, v) }))
    // Gate integrity: a thrown query must surface as a FAILED row, never a
    // vanished one (round 7: four regressions silently dropped out of the
    // correctness record because failures were only logged to stderr).
    // errors.json maps query name → exception message and is re-written
    // atomically after every failure, same crash-tolerance as oracle_sql.
    val errors = scala.collection.mutable.Map.empty[String, String]
    def writeErrorsJson(): Unit = writeAtomic("errors.json", ListMap.from(errors.toSeq.sortBy(_._1)))
    recordLock.synchronized { writeErrorsJson() } // always present, even when empty: absence ≠ success
    // Per-entry wall-time record (round-15 verdict item 6): widens perf-
    // regression coverage from the 13 bench headliners to the whole gate.
    // Written atomically after every query (crash-tolerant, like the
    // oracle json); Bench diffs latest-vs-prev and flags >1.5× moves.
    val timings = scala.collection.mutable.Map.empty[String, Long]
    def writeTimingsJson(): Unit =
      writeAtomic("verify_timings.json", ListMap.from(timings.toSeq.sortBy(_._1)))
    val t0 = System.nanoTime()
    var done = 0
    def runOne(sess: SparkSession, name: String, fn: Entry): Unit = {
      val tq = System.nanoTime()
      try {
        val df = fn(sess, sfDir)
        val cols = df.columns.toSeq
        val sorted = df.orderBy(
          cols.sorted.toIndexedSeq.map(c => col(c).asc_nulls_first): _*)
        sorted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        recordLock.synchronized {
          columnsByQuery(name) = cols // only after a successful dump
          writeOracleJson()
          timings(name) = (System.nanoTime() - tq) / 1000000L
          writeTimingsJson()
          done += 1
          System.err.println(
            f"[verify] +${(System.nanoTime() - t0) / 1e9}%.0fs $done/${selected.size} $name")
        }
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        recordLock.synchronized {
          errors(name) = msg.take(500)
          writeErrorsJson()
        }
        System.err.println(s"[verify] $name FAILED: $msg")
      }
    }
    // Session pre-warm (r17 verdict item 8): the gate's FIRST entry used
    // to absorb the whole session's warm-up (codegen, parquet reader init,
    // shuffle machinery) — alphabetical-first `agg_approx_distinct`
    // recorded 7-10 s vs ~1 s isolated, poisoning the cross-round timing
    // diff's worst-offender list. One throwaway scan+aggregate per session
    // before its first timed entry.
    def warm(sess: SparkSession): Unit =
      try {
        // count() over parquet is metadata-only (aggregate pushdown), so
        // touching the three widely-used tables costs footers + codegen
        // init, not scans — exactly the startup the first entry absorbed.
        Seq("region", "lineitem", "documents").foreach(n =>
          Tables.t(sess, sfDir, n).groupBy().count().collect())
        sess.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
      } catch { case _: Throwable => }
    System.err.println(s"[verify] ${selected.size} entries on $threads worker sessions")
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[(String, Entry)]()
    selected.foreach(queue.add)
    val workers = (1 to threads).map { i =>
      val th = new Thread(() => {
        // The whole body is guarded: a failure OUTSIDE runOne's
        // per-entry try (session init, warm-up) must not
        // kill the worker silently — a dead pool would make hundreds
        // of entries VANISH from the record, violating the gate's
        // failed-rows-never-vanish invariant.
        try {
          val ws = spark.newSession()
          warm(ws)
          var e = queue.poll()
          while (e != null) { runOne(ws, e._1, e._2); e = queue.poll() }
        } catch { case t: Throwable =>
          System.err.println(
            s"[verify] worker-$i died: ${Option(t.getMessage).getOrElse(t.getClass.getName)}")
        }
      }, s"verify-worker-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    workers.foreach(_.join())
    // Backstop: anything still queued after every worker exited (all
    // workers died early) is drained on the MAIN session — slower, but
    // every entry still lands in the record as dumped or FAILED.
    var left = queue.poll()
    while (left != null) { runOne(spark, left._1, left._2); left = queue.poll() }
    (timings.toMap, errors.toMap)
  }
}
