package graft

/** Dev tool: EXPLAIN + EXPLAIN ANALYZE analog for the headline queries
  * (reference `src/execution/operator/helper/physical_explain_analyze.cpp`
  * reports per-operator runtime; Spark's runtime unit is the stage, so the
  * analyze section reports per-stage task counts, record flow, chunk
  * factor, and the task-size histogram collected by ChunkMetrics).
  *
  * Also flags static scale smells — missing parquet filter pushdown,
  * cartesian products where a broadcast was expected. Run:
  * `sbt "runMain graft.PlanCheck [sfDir] [query...]"`. */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // "all" sweeps the full query corpus (static smells only make sense
    // there — executing 100+ entries is Verify's job, not PlanCheck's).
    val names = if (args.length > 1 && args.tail.toSeq == Seq("all"))
        SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.tail.toSeq
      else Seq("q1_pricing", "q3_shipping", "q5_region", "q10_returned",
        "job_deep_join", "join_asof", "agg_rollup", "win_rank",
        "shape_unnest", "ann_topk", "text_stats", "compact_filter",
        "text_repetition", "mix_curation_funnel", "text_boilerplate")
    // static mode: explain + smell-check without executing (fast full sweep)
    val static = sys.env.get("SPARK_GRAFT_PLANCHECK_STATIC").contains("1")
    val spark = EngineSession.local(8)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(s"\n========== $n ==========")
      println(plan)
      val smells = Seq(
        "CartesianProduct" -> plan.contains("CartesianProduct"),
        "no-pushdown(scan w/o PushedFilters)" ->
          (plan.contains("PushedFilters: []") && plan.contains("Filter ")),
        "SortMergeJoin(on small input?)" -> plan.contains("SortMergeJoin"))
      smells.filter(_._2).foreach { case (s, _) => println(s"  [smell] $s") }

      // -- EXPLAIN ANALYZE analog: execute and report per-stage runtime --
      try if (!static) {
        val (_, metrics) = compaction.ChunkMetrics.measure(spark)(
          SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save())
        println("  [analyze] stage.attempt   ms  tasks  input      shufRead   shufWrite  chunkF  task-size-histogram(log2)")
        metrics.snapshot.toSeq.sortBy(_._1).foreach { case ((sid, att), st) =>
          val cf = st.chunkFactor.map(v => f"$v%7.2f").getOrElse("      -")
          val hist = st.histogram.zipWithIndex.filter(_._1 > 0)
            .map { case (c, b) => s"2^$b:$c" }.mkString(" ")
          println(f"  [analyze] $sid%5d.$att%-7d  ${st.wallMillis}%4d  ${st.tasks}%5d  ${st.inputRecords}%9d  " +
            f"${st.shuffleReadRecords}%9d  ${st.shuffleWriteRecords}%9d  $cf  $hist")
        }
        println(f"  [analyze] small-task fraction (<1024 rows): ${metrics.smallTaskFraction(1024)}%.3f")
      } catch { case e: Throwable => println(s"  [analyze] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
