package graft.compaction

import graft.{Bench, BenchConf, Json, SparkEntry, Tables}
import graft.Bench.r3
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The compaction experiments, kept out of the headline `graft.Bench`
  * run, over its 10×-inflated staged corpus under the production conf:
  *   - `minhash_10x_stages` — dedup_minhash's top stages by wall-clock at
  *     10× (round-9 advice #2), so "where do the seconds go" is recorded;
  *   - `bpe_encode_10x_*` — the production broadcast merge-rank BPE
  *     encoder over the FULL inflated corpus (one broadcast, one scan, no
  *     shuffle; the token count doubles as the action);
  *   - `compact_tuner_*`, `flood_10x_*`, `stf_flood_10x_*`, `tuner_ab` —
  *     the learning-compaction loop on real data: UCB1
  *     ([[AdaptiveCompact.tuneMetered]]) tunes AQE's advisory partition
  *     size over 12 episodes of a fragment-flood workload, then a 3-way
  *     A/B {AQE default, static-128 analog, tuner-settled} on the flood
  *     and on q1_pricing.
  * Each workload runs untimed first (dedup_minhash twice, like the 10×
  * block's warms). The record goes to
  * `compaction_bench.json` and stdout. Then the reference's 4-table star
  * join (`vector_compaction.cpp:49-140`, generated in-engine) runs at a
  * tight vs an effectively-off compaction target and prints one
  * `{"bench":"star",…}` line per target.
  *
  * Run: `SPARK_GRAFT_SF_DIR=<fixture dir> SPARK_GRAFT_CPUS=<cores>
  * sbt "runMain graft.compaction.CompactionBench [starRows]"`; copies as
  * in Bench (`SPARK_GRAFT_BENCH_INFLATE`, default 10).
  */
object CompactionBench {

  case class StageRow(stage: Int, wall_ms: Long, tasks: Long, input_rec: Long,
      shuf_read_rec: Long, shuf_write_rec: Long, shuf_write_mb: Long)
  case class EpisodeRow(arm_mb: Long, sec: Double, stf: Double, chunk_factor: Double,
      cost: Double)
  /** Seconds and small-task fractions per config: aqe, static128, tuner. */
  case class TunerAb(arm_mb: Long, flood: ListMap[String, Double],
      q1_pricing: ListMap[String, Double], stf_flood: ListMap[String, Double],
      stf_q1: ListMap[String, Double])
  case class Record(compact_tuner_arm_mb: Long, compact_tuner_episodes: Seq[EpisodeRow],
      flood_10x_default_sec: Double, flood_10x_tuned_sec: Double,
      stf_flood_10x_default: Double, stf_flood_10x_tuned: Double, tuner_ab: TunerAb,
      minhash_10x_stages: Seq[StageRow], bpe_encode_10x_sec: Double,
      bpe_encode_10x_tokens: Long)

  val Out = "compaction_bench.json"

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val out = body
    ((System.nanoTime() - t0) / 1e9, out)
  }

  /** dedup_minhash's eight slowest stages in one instrumented pass. */
  def minhashStages(spark: SparkSession, dir: String): Seq[StageRow] = {
    val (_, m) = ChunkMetrics.measure(spark)(Bench.noop(SparkEntry.queries("dedup_minhash")(spark, dir)))
    m.snapshot.toSeq.sortBy(-_._2.wallMillis).take(8).map { case (sid, s) =>
      StageRow(sid, s.wallMillis, s.tasks, s.inputRecords, s.shuffleReadRecords,
        s.shuffleWriteRecords, s.shuffleWriteBytes >> 20)
    }
  }

  /** Seconds and token count of one BPE encode of the corpus, with the 16
    * most frequent character pairs as merges. */
  def bpeEncode(spark: SparkSession, dir: String): (Double, Long) = {
    val docs = Tables.t(spark, dir, "documents")
    val merges = graft.pipeline.Bpe.wordCounts(docs, "text")
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(16)
      .collect().map(r => graft.pipeline.Bpe.Merge(r.getString(0).substring(0, 1),
        r.getString(0).substring(1, 2), r.getLong(1))).toSeq
    timed(graft.pipeline.Bpe.encodeBroadcast(docs, "text", merges)
      .agg(count(lit(1))).head().getLong(0))
  }

  /** The bandit's workload: a fact-sized composite-key aggregate whose
    * shuffle is hundreds of MB at 10×, so the advisory size DIRECTLY sets
    * post-AQE task count (1024 MB → ~1 task, serializing the box; 32 MB →
    * ~10-way parallel). Round-7 verdict: the 10× deep join's exchanges are
    * tiny, so every arm coalesced them identically and the bandit never
    * had a decision to make; this one gives it one. */
  def flood(dir: String)(s: SparkSession): Unit =
    Bench.noop(Tables.t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_extendedprice")).as("v"), count(lit(1)).as("n"))
      .filter(col("n") >= 1)
      .groupBy(pmod(col("l_orderkey"), lit(4096)).as("b"))
      .agg(sum(col("v")).as("tv"), count(lit(1)).as("tn")))

  /** 12 chunk-aware UCB1 episodes over the flood (each episode's cost is
    * seconds × (1 + small-task fraction at the 1024-row trigger), round-14
    * verdict item 3), then the interleaved 3-way A/B. */
  def tunerAb(spark: SparkSession, dir: String): (Long, Seq[EpisodeRow], TunerAb) = {
    val work = flood(dir) _
    work(spark) // untimed warm: JIT + page cache settle
    val (chosen, eps) = new AdaptiveCompact(spark).tuneMetered(12)(work)
    // chosen == DefaultArm means the bandit settled on production defaults:
    // then tuner == aqe by identity, reported as the same measurement
    val tunedTarget = Option.when(chosen != CompactTuner.DefaultArm)(chosen)
    val cfgs = Seq("aqe" -> None, "static128" -> Some(128L << 20)) ++
      tunedTarget.map(t => "tuner" -> Some(t))
    // Interleaved A/B/C/A/B/C rounds with the min per config (a one-off
    // stall hits one sample, not all); the published stf comes from the
    // pass that produced the min seconds (ADVICE r15).
    def ab(w: SparkSession => Unit): Map[String, (Double, Double)] = {
      val acc = scala.collection.mutable.Map.empty[String, (Double, Double)]
      for (_ <- 1 to 2; (name, t) <- cfgs) {
        val ((sec, _), m) = Compact.withAqeConfRestored(spark) {
          t.fold(Compact.enableAqeDefault(spark))(
            Compact.enableAqeCompaction(spark, _, bindTarget = true))
          ChunkMetrics.measure(spark)(timed(w(spark)))
        }
        if (acc.get(name).forall(sec < _._1)) acc(name) = (sec, m.smallTaskFraction(1024))
      }
      if (tunedTarget.isEmpty) acc("tuner") = acc("aqe")
      acc.toMap
    }
    val abFlood = ab(work)
    val q1 = (s: SparkSession) => Bench.noop(SparkEntry.queries("q1_pricing")(s, dir))
    q1(spark) // untimed warm
    val abQ1 = ab(q1)
    def pick(m: Map[String, (Double, Double)], f: ((Double, Double)) => Double) =
      ListMap.from(Seq("aqe", "static128", "tuner").map(k => k -> r3(f(m(k)))))
    (chosen, eps.map(e => EpisodeRow(e.ep.targetBytes >> 20, r3(e.ep.seconds), r3(e.stf),
      math.rint(e.chunkFactor * 10) / 10, r3(e.cost))),
      TunerAb(chosen >> 20, pick(abFlood, _._1), pick(abQ1, _._1), pick(abFlood, _._2),
        pick(abQ1, _._2)))
  }

  /** The reference's star schema at `n` students (default 1/100 of the
    * reference scale; reference: student 5e7 / room 5e7 / dept 5e6 / type
    * 5e6), with its selective probe filter `stu_id ≤ n/10`: after the
    * filter each scan task carries ~10%-full "chunks". */
  def starJoin(spark: SparkSession, n: Long): DataFrame = {
    val nDim = math.max(n / 10, 1)
    def h(seed: Int, mod: Long) = pmod(xxhash64(col("id"), lit(seed)), lit(mod))
    val student = spark.range(n).select(col("id").as("stu_id"),
      h(1, nDim).cast("int").as("major_id"), (h(2, 5) + 18).cast("int").as("age"))
    val department = spark.range(nDim).select(col("id").cast("int").as("major_id"),
      concat(lit("dept_"), col("id")).as("name"))
    val room = spark.range(n).select(col("id").as("room_id"), h(3, n).as("stu_id"),
      h(4, nDim).cast("int").as("type"))
    val typeT = spark.range(nDim).select(col("id").cast("int").as("type"),
      concat(lit("type_"), col("id")).as("info"))
    student.filter(col("stu_id") <= n / 10)
      .join(room, "stu_id").join(department, "major_id").join(typeT, "type")
      .agg(count(lit(1)).as("n_rows"), sum(col("age").cast("long")).as("sum_age"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val inflate = sys.env.getOrElse("SPARK_GRAFT_BENCH_INFLATE", "10").toInt
    val spark = BenchConf.session(cpus, 8)
    Compact.enableAqeCompaction(spark)
    BenchConf.staged(spark)
    BenchConf.tuned(spark) // staging itself shouldn't pay AQE re-plans
    val dir = BenchConf.stageFixtures(spark, sfDir, cpus, copies = inflate)
    BenchConf.production(spark, cpus)
    val record = try {
      (1 to 2).foreach(_ => Bench.noop(SparkEntry.queries("dedup_minhash")(spark, dir))) // warm
      val stages = minhashStages(spark, dir)
      bpeEncode(spark, dir) // untimed warm
      val (encSec, tokens) = bpeEncode(spark, dir)
      val (chosen, episodes, ab) = tunerAb(spark, dir)
      Record(chosen >> 20, episodes, ab.flood("aqe"), ab.flood("tuner"),
        ab.stf_flood("aqe"), ab.stf_flood("tuner"), ab, stages, r3(encSec), tokens)
    } finally scala.reflect.io.Path(dir).deleteRecursively()
    Json.writeFile(Out, record)
    println(Json.write(record))

    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    def star(label: String, target: Long) = {
      Compact.enableAqeCompaction(spark, target)
      val ((sec, rows), m) = ChunkMetrics.measure(spark)(
        timed(starJoin(spark, n).collect()(0).getLong(0)))
      (label, sec, rows, m.smallTaskFraction(256))
    }
    star("warmup", 64L << 20) // codegen/JIT warm-up
    val loose = star("compact_off(1gb)", 1L << 30)
    val runs = Seq(star("compact_1mb", 1L << 20), loose)
    runs.foreach { case (label, sec, rows, stf) =>
      println(Json.write(ListMap("bench" -> "star", "label" -> label, "sec" -> r3(sec),
        "rows" -> rows, "small_task_fraction" -> r3(stf))))
    }
    assert(runs.map(_._3).distinct.size == 1, "compaction changed results!")
    spark.stop()
  }
}
