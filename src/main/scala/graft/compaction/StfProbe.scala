package graft.compaction

import graft.{Bench, BenchConf, EngineSession, SparkEntry}

/** Per-stage small-task diagnostic for the compaction metrology: runs one
  * query (default `job_deep_join`) against the staged bench layout and
  * prints every stage's task count, record totals, and the per-stage
  * small-task share at the reference's dynamic-compaction trigger
  * (reference `src/execution/physical_operator.cpp:266` —
  * `chunk.size() < compact_threshold`). This is how the round-12 stf
  * breakdown (which stages still fragment after AQE coalescing) was
  * measured — a CLI twin of ChunkMetrics, not bench machinery.
  *
  * Usage: `runMain graft.compaction.StfProbe [queryName] [aqe|noaqe]`
  * (env `SPARK_GRAFT_SF_DIR`/`SPARK_GRAFT_CPUS` as in Bench).
  */
object StfProbe {
  def main(args: Array[String]): Unit = {
    val query = args.headOption.getOrElse("job_deep_join")
    val aqe = !args.lift(1).contains("noaqe")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = EngineSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val benchDir = BenchConf.stageFixtures(spark, sfDir, cpus)
    BenchConf.staged(spark)
    BenchConf.tuned(spark)
    if (aqe) Compact.enableAqeCompaction(spark)
    // warm once so listener sees the steady-state plan, then measure
    Bench.noop(SparkEntry.queries(query)(spark, benchDir))
    val (_, m) = ChunkMetrics.measure(spark)(Bench.noop(SparkEntry.queries(query)(spark, benchDir)))
    val cut = 1024L
    println(f"stage  tasks  input_rec  shuf_read  shuf_write  wall_ms  small")
    m.snapshot.toSeq.sortBy(_._1).foreach { case ((sid, _), s) =>
      println(f"$sid%5d  ${s.tasks}%5d  ${s.inputRecords}%9d  ${s.shuffleReadRecords}%9d  ${s.shuffleWriteRecords}%10d  ${s.wallMillis}%7d  ${m.smallTasks(s, cut)}%5d")
    }
    println(f"small_task_fraction(${cut}) = ${m.smallTaskFraction(cut)}%.3f (aqe=$aqe)")
    spark.stop()
  }
}
