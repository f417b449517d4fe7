package graft

import org.apache.spark.sql.functions.col

class ProfileSpec extends SparkSpec {

  test("a q1_pricing record: stages with tasks, histograms summing to tasks, the run's small-task fraction") {
    val df = operators.CoreQueries.q1Pricing(spark, sf())
    // a second ChunkMetrics over the same run: build ran outside, so it sees only the write
    val (rec, m) = compaction.ChunkMetrics.measure(spark)(Profile.record(spark, "q1_pricing")(df))
    assert(rec.label === "q1_pricing")
    assert(rec.stages.nonEmpty && rec.stages.forall(_.tasks > 0))
    rec.stages.foreach(s => assert(s.histogram.sum === s.tasks, s"stage ${s.stage}"))
    assert(rec.small_task_fraction === m.smallTaskFraction(1024))
    assert(rec.stages.map(_.small_tasks).sum.toDouble / rec.stages.map(_.tasks).sum ===
      rec.small_task_fraction)
    assert(rec.plan.contains("HashAggregate"))
  }

  test("phases are non-negative and the stages and planning fit inside the action") {
    val rec = Profile.record(spark, "q1_pricing")(operators.CoreQueries.q1Pricing(spark, sf()))
    Seq(rec.build_ms, rec.action_ms, rec.wall_ms, rec.parsing_ms, rec.analysis_ms,
      rec.optimization_ms, rec.planning_ms, rec.stage_busy_ms).foreach(v => assert(v >= 0))
    assert(rec.stage_busy_ms <= rec.action_ms)
    assert(rec.optimization_ms + rec.planning_ms <= rec.action_ms)
    assert(rec.wall_ms >= rec.build_ms + rec.action_ms)
  }

  test("busyMs is the length of the union of the spans") {
    assert(Profile.busyMs(Nil) === 0L)
    assert(Profile.busyMs(Seq((10L, 20L), (15L, 30L), (40L, 45L), (41L, 42L))) === 25L)
  }

  test("tpch_q01 profiles through the registry; an unknown entry gets an error record") {
    Profile.entry(spark, sf(), "tpch_q01") match {
      case r: Profile.Record =>
        assert(r.label === "tpch_q01" && r.stages.nonEmpty && r.plan.nonEmpty)
        assert(Json.read(Json.write(r)).get("stages").size === r.stages.size)
      case other => fail(s"tpch_q01 did not profile: $other")
    }
    val err = Json.read(Json.write(Profile.entry(spark, sf(), "no_such_entry")))
    assert(err.get("label").asText === "no_such_entry" && err.get("error").asText.nonEmpty)
  }

  test("a crossJoin frame is flagged CartesianProduct") {
    val rec = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Profile.record(spark, "cross")(
        spark.range(0, 20, 1, 2).crossJoin(spark.range(0, 30, 1, 3).toDF("other")))
    }
    assert(rec.smells.contains("CartesianProduct"))
    assert(!rec.smells.contains("SortMergeJoin"))
  }

  test("with AQE on, every AQE read's partition count after coalescing is at most its count before") {
    val rec = withConf("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.shuffle.partitions" -> "16") {
      Profile.record(spark, "agg")(
        Tables.t(spark, sf(), "lineitem").groupBy(col("l_returnflag")).count())
    }
    assert(rec.aqe_reads.nonEmpty)
    rec.aqe_reads.foreach(r => assert(r.after <= r.before, r))
    assert(rec.aqe_reads.exists(r => r.before === 16))
  }
}
