package graft

/** Dev tool: explain + time individual headline queries against the SAME
  * staged layout and session configuration Bench measures, so plan-level
  * tuning is done on the plan that is actually benchmarked (PlanCheck
  * explains against the raw fixtures and the default session — a
  * different regime). Run:
  * `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.BenchExplain q5_region"`. */
object BenchExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = BenchConf.session(cpus, 8)
    val benchDir = BenchConf.stageFixtures(spark, sfDir, cpus)
    BenchConf.staged(spark)
    BenchConf.tuned(spark)
    args.foreach { n =>
      val df = SparkEntry.queries(n)(spark, benchDir)
      println(s"\n========== $n ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      def once(): Double = {
        val t0 = System.nanoTime()
        Bench.noop(SparkEntry.queries(n)(spark, benchDir))
        (System.nanoTime() - t0) / 1e9
      }
      val times = (1 to 6).map(_ => once())
      println(f"[time] $n warm samples: ${times.map(t => f"$t%.3f").mkString(" ")}")
      // per-stage breakdown of ONE more run: where the wall time goes
      val (_, metrics) = compaction.ChunkMetrics.measure(spark)(once())
      metrics.snapshot.toSeq.sortBy(_._1).foreach { case (sid, st) =>
        println(f"[stage] $n $sid%5d  ${st.wallMillis}%5d ms  ${st.tasks}%4d tasks  " +
          f"in=${st.inputRecords}%8d  shufR=${st.shuffleReadRecords}%8d")
      }
    }
    spark.stop()
  }
}
