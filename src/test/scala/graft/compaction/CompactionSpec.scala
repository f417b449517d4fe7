package graft.compaction

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactTunerSpec extends SparkSpec {

  test("every arm is explored once before exploitation") {
    val t = new CompactTuner
    val seen = (1 to t.arms.length).map { _ =>
      val a = t.selectArm(); t.updateArm(a, 1.0); a
    }
    assert(seen.toSet == t.arms.indices.toSet)
  }

  test("converges to the cheapest arm under stationary costs") {
    val t = new CompactTuner
    // arm 2 is cheapest
    def cost(arm: Int): Double = if (arm == 2) 1.0 else 5.0
    (1 to 500).foreach { _ =>
      val a = t.selectArm(); t.updateArm(a, cost(a))
    }
    assert(t.bestArm == 2)
    assert(t.plays(2) > 300) // exploitation dominated
    assert(t.targetBytes == t.arms(2))
  }

  test("reset clears state (per-query reset like the reference)") {
    val t = new CompactTuner
    t.updateArm(0, 1.0)
    t.reset()
    assert(t.plays(0) == 0L)
  }
}

class ChunkMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("log2 bucketing") {
    val m = new ChunkMetrics
    assert(m.bucket(0) == 0 && m.bucket(1) == 0 && m.bucket(2) == 1)
    assert(m.bucket(2047) == 10 && m.bucket(2048) == 11)
  }

  test("listener observes task record counts for a real job") {
    val m = new ChunkMetrics().install(spark)
    m.reset()
    graft.Tables.t(spark, sf(), "lineitem").groupBy($"l_returnflag").count().collect()
    // listener events are async; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (m.snapshot.values.map(_.inputRecords).sum == 0 &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    val snap = m.snapshot
    assert(snap.nonEmpty)
    assert(snap.values.map(_.inputRecords).sum > 0)
  }

  test("smallTaskFraction counts tasks below the threshold exactly, not by log2 bucket") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stf_spec_").toString
    // two files of 1500 rows: two scan tasks, each above 1024 records but
    // inside the same log2 bucket [1024, 2048) as the threshold
    spark.range(0, 3000, 1, 2).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir) // schema inference outside the measure
    val (_, m) = ChunkMetrics.measure(spark)(
      scan.write.format("noop").mode("overwrite").save())
    assert(m.snapshot.values.flatMap(_.taskRecords).toSeq.sorted === Seq(1500L, 1500L))
    assert(m.smallTaskFraction(1024) === 0.0)
    assert(m.smallTaskFraction(1500) === 0.0)
    assert(m.smallTaskFraction(1501) === 1.0)
  }
}

class CompactSpec extends SparkSpec {
  import spark.implicits._

  test("bySize reduces fragment count and preserves rows") {
    val frag = spark.range(0, 10000, 1, 64).toDF("id") // 64 tiny fragments
    val compacted = Compact.bySize(frag, targetBytes = 1L << 20)
    assert(compacted.rdd.getNumPartitions < 64)
    assert(compacted.count() == 10000)
  }

  test("smallFragments only fires below the threshold fraction") {
    val df = spark.range(0, 1000, 1, 10).toDF("id")
    // avg 100 rows/partition << 1/16 of 1M target → compacts
    val c = Compact.smallFragments(df, rowCount = 1000, targetRows = 1 << 20)
    assert(c.rdd.getNumPartitions == 1)
    // already-large fragments untouched
    val big = Compact.smallFragments(df, rowCount = 10L << 20, targetRows = 1 << 20)
    assert(big.rdd.getNumPartitions == 10)
  }

  test("compacted query result equals uncompacted result") {
    val a = CompactionQueries.compactFilter(spark, sf())
      .orderBy($"l_returnflag").collect().toSeq
    val b = graft.Tables.t(spark, sf(), "lineitem")
      .filter($"l_quantity" > 49 && $"l_discount" > 0.08)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"l_returnflag").collect().toSeq
    assert(a == b)
  }
}

class DeepJoinCompactionSpec extends SparkSpec {

  /** The paper's motivating shape end to end: the selective JOB-style
    * deep join fragments its shuffle stages into near-empty tasks; AQE
    * partition coalescing (the always-on dynamic-compaction analog,
    * SURVEY §4.2) must consolidate them — fewer tasks, never a larger
    * small-task fraction, identical result. */
  test("AQE compaction consolidates the JOB-style deep join's fragments") {
    val m = new ChunkMetrics().install(spark)
    def measure(): (Long, Double) = {
      m.reset()
      graft.operators.CoreQueries.jobDeepJoin(spark, sf("sf0.01"))
        .write.format("noop").mode("overwrite").save()
      val deadline = System.currentTimeMillis() + 10000
      while (m.snapshot.values.map(_.tasks).sum == 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      Thread.sleep(500) // drain async listener events
      (m.snapshot.values.map(_.tasks).sum, m.smallTaskFraction(1024))
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "false")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (tasksFragmented, fracFragmented) = measure()
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      val (tasksCompacted, fracCompacted) = measure()
      assert(tasksCompacted < tasksFragmented,
        s"coalescing did not reduce tasks: $tasksCompacted vs $tasksFragmented")
      assert(fracCompacted <= fracFragmented)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("deep join result is identical under compaction") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "false")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plain = graft.operators.CoreQueries.jobDeepJoin(spark, sf("sf0.01")).collect().toSeq
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val compacted = graft.operators.CoreQueries.jobDeepJoin(spark, sf("sf0.01")).collect().toSeq
      assert(plain == compacted && plain.nonEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}

class PipelineCompactionSpec extends SparkSpec {

  /** The paper's fragment-proliferation story on the curation funnel —
    * the new flagship pipeline shape: its fingerprint-dedup exchange and
    * domain-level aggregates run over a heavily-filtered corpus, so at a
    * misconfigured shuffle width most tasks carry near-empty chunks. AQE
    * coalescing (the dynamic-compaction analog) must consolidate them
    * with an identical result. */
  test("AQE compaction consolidates the funnel's fragmented exchanges") {
    val m = new ChunkMetrics().install(spark)
    def measure(): (Long, Double) = {
      m.reset()
      graft.pipeline.Mixture.mixCurationFunnel(spark, sf("sf0.01"))
        .write.format("noop").mode("overwrite").save()
      val deadline = System.currentTimeMillis() + 10000
      while (m.snapshot.values.map(_.tasks).sum == 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      Thread.sleep(500)
      (m.snapshot.values.map(_.tasks).sum, m.smallTaskFraction(1024))
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "false")
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // a 64-way shuffle over a 500-document corpus: the fragmented regime
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (tasksFragmented, fracFragmented) = measure()
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      val (tasksCompacted, fracCompacted) = measure()
      assert(tasksCompacted < tasksFragmented,
        s"coalescing did not reduce tasks: $tasksCompacted vs $tasksFragmented")
      assert(fracCompacted <= fracFragmented)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", width)
    }
  }

  test("funnel result is identical under compaction") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "false")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plain = graft.pipeline.Mixture.mixCurationFunnel(spark, sf("sf0.01"))
        .collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val compacted = graft.pipeline.Mixture.mixCurationFunnel(spark, sf("sf0.01"))
        .collect().map(_.toString).sorted.toSeq
      assert(plain == compacted && plain.nonEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}

class AdaptiveCompactSpec extends SparkSpec {
  import spark.implicits._

  test("closed loop: every episode sets the advisory size and records cost") {
    val ac = new AdaptiveCompact(spark)
    val target = ac.tune(n = 4) { s =>
      graft.Tables.t(s, sf(), "lineitem")
        .filter($"l_quantity" > 45)
        .groupBy($"l_returnflag").count().collect()
    }
    assert(ac.history.size == 4)
    assert(ac.history.forall(_.seconds > 0))
    // the settled target is one of the arms and is applied to the session
    assert(ac.tuner.arms.contains(target))
    val advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    if (target == CompactTuner.DefaultArm) { // default arm: production posture
      assert(advisory == (64L << 20).toString)
      assert(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    } else {
      assert(advisory == target.toString)
      assert(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    }
  }

  test("default arm is arm 0 and cannot-lose: bandit settles on it when bound arms are slower") {
    val t = new CompactTuner
    assert(t.arms.head == CompactTuner.DefaultArm)
    // default arm cheapest → tuner converges to it
    def cost(arm: Int): Double = if (arm == 0) 1.0 else 3.0
    (1 to 300).foreach { _ => val a = t.selectArm(); t.updateArm(a, cost(a)) }
    assert(t.bestArm == 0)
    assert(t.targetBytes == CompactTuner.DefaultArm)
  }

  test("tune restores caller AQE conf except the settled arm's application") {
    val before = Compact.AqeConfKeys.map(k => k -> spark.conf.getOption(k)).toMap
    val ac = new AdaptiveCompact(spark)
    val target = ac.tune(n = 2) { s => s.range(100).count() }
    // whatever the settled arm is, the conf now reflects exactly its
    // application on top of the restored baseline — spot-check that a
    // non-arm key wasn't clobbered by intermediate episodes
    if (target == CompactTuner.DefaultArm)
      assert(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    before.foreach { case (k, _) => assert(spark.conf.getOption(k).nonEmpty) }
  }
}

class SplitPipelineRuleSpec extends SparkSpec {

  test("rule inserts a shuffle between chained joins when enabled") {
    // getOrCreate() may reuse a suite-shared session whose extensions are
    // fixed; extraOptimizations is the public per-session hook for that case.
    val s = spark
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.SplitPipelineRule()
    s.conf.set("spark.graft.splitPipelines", "true")
    try {
      val n = graft.Tables.t(s, sf(), "nation")
      val c = graft.Tables.t(s, sf(), "customer")
      val o = graft.Tables.t(s, sf(), "orders")
      val chained = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
      val optimized = chained.queryExecution.optimizedPlan
      val hasRepartition = optimized.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.nonEmpty
      assert(hasRepartition)
      // and the result is still correct
      assert(chained.count() ==
        o.join(c, o("o_custkey") === c("c_custkey")).count())
    } finally {
      s.conf.set("spark.graft.splitPipelines", "false")
      s.experimental.extraOptimizations = s.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[graft.plans.SplitPipelineRule])
    }
  }
}
