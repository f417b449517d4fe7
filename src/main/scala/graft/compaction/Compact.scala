package graft.compaction

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DataFrame-level chunk compaction — the Spark re-expression of the
  * reference's `CompactingPhysicalOperator` (reference
  * `src/include/duckdb/execution/physical_operator.hpp:221-245`,
  * `src/execution/physical_operator.cpp:238-311`: buffer output chunks
  * smaller than `compact_threshold` = 128 of 2048 and merge before pushing
  * downstream).
  *
  * In Spark the analog pathology is partition-fragment proliferation after
  * selective filters/joins; the analog mechanisms are:
  *  - AQE partition coalescing (runtime, between stages) — the default-on
  *    "dynamic compaction";
  *  - explicit size-targeted `coalesce`/`repartition` — "manual
  *    compaction" for within-stage fragment cleanup;
  * both preserve semantics exactly (pure re-bucketing of rows).
  */
object Compact {

  /** Reference ratio: threshold 128 of a 2048-row vector → 1/16. */
  val ThresholdFraction: Double = 128.0 / 2048.0

  /** AQE conf that compacts post-shuffle partitions toward
    * `targetBytes`, with the reference's small-chunk threshold mapped onto
    * `minPartitionSize` (partitions under 1/16 of target always merge).
    *
    * `bindTarget` controls `parallelismFirst`: Spark's default (true)
    * coalesces only down to `minPartitionSize` to maximize parallelism,
    * silently IGNORING the advisory size — with it on, every tuner arm
    * produced byte-identical plans (round-7 flat episodes). Pass
    * `bindTarget = true` when the size target must actually bind (the
    * tuner's arms, size-targeted output files). It stays FALSE for the
    * always-on session default: parallelism-first is measurably the
    * right production posture for compute-heavy stages (round-8: forcing
    * the 64 MB target session-wide coalesced dedup_minhash's 2.6M-row
    * exchanges onto 1-2 cores and cost +25% on the 10× bench). */
  def aqeCompaction(targetBytes: Long = 64L << 20,
      bindTarget: Boolean = false): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> (!bindTarget).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> targetBytes.toString,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      math.max(1L, (targetBytes * ThresholdFraction).toLong).toString)

  /** Applies [[aqeCompaction]] to `spark`'s session conf. Its defaults are
    * the posture every engine session starts in
    * ([[graft.EngineSession.posture]]). */
  def enableAqeCompaction(spark: SparkSession, targetBytes: Long = 64L << 20,
      bindTarget: Boolean = false): Unit =
    aqeCompaction(targetBytes, bindTarget).foreach { case (k, v) => spark.conf.set(k, v) }

  /** The conf keys the AQE-compaction knobs touch — callers that need to
    * A/B configurations snapshot/restore exactly this set. */
  val AqeConfKeys: Seq[String] = aqeCompaction().map(_._1)

  /** Snapshot the AQE conf keys, run `body`, restore them — episode
    * isolation for tuning loops (state must not bleed between arms). */
  def withAqeConfRestored[T](spark: SparkSession)(body: => T): T = {
    val saved = AqeConfKeys.map(k => k -> spark.conf.getOption(k))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Optimizer-estimated size of a frame in bytes (no job run). */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Compact a frame to ~`targetBytes` partitions using plan statistics:
    * a narrow `coalesce` (no shuffle — the cheap path the reference's
    * dynamic compaction corresponds to). `coalesce` to a count at or above
    * the current one is a no-op, so the current partition count is never
    * read — no eager `.rdd` planning pass outside AQE. Compaction only
    * ever MERGES fragments (reference semantics: buffer-and-merge small
    * chunks); growing parallelism is the planner's job, not the
    * compactor's. */
  def bySize(df: DataFrame, targetBytes: Long = 64L << 20): DataFrame = {
    val size = estimatedBytes(df)
    val want = math.max(1, (size / BigInt(targetBytes)).toInt +
      (if (size % BigInt(targetBytes) > 0) 1 else 0))
    df.coalesce(want)
  }

  /** Compact only if the frame's fragments are sub-threshold: the direct
    * analog of `if (chunk.size() < compact_threshold) cache it`
    * (reference `physical_operator.cpp:266`): partitions averaging under
    * `ThresholdFraction × targetRows` rows are merged toward targetRows. */
  def smallFragments(df: DataFrame, rowCount: Long, targetRows: Long = 1 << 20,
      numPartitions: Option[Int] = None): DataFrame = {
    // partition-count probe: `df.rdd` finalizes the physical plan (and,
    // under AQE, pins the adaptive plan early) — callers that already
    // know the width (post-repartition, post-scan with a known split
    // count) should pass `numPartitions` so the probe is free; the
    // df.rdd fallback remains the dev-utility path only
    val have = numPartitions.getOrElse(df.rdd.getNumPartitions)
    if (have == 0) return df
    val avg = rowCount.toDouble / have
    if (avg < targetRows * ThresholdFraction) {
      val want = math.max(1, math.ceil(rowCount.toDouble / targetRows).toInt)
      if (want < have) df.coalesce(want) else df
    } else df
  }
}
