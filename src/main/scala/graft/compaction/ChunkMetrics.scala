package graft.compaction

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Partition/batch-size metrology — the Spark re-expression of the
  * reference's chunk-size profilers (reference
  * `src/include/duckdb/common/profiler.hpp:235-332` ZebraProfiler
  * per-chunk-size histograms, `:335-432` HashJoinProfiler and its "chunk
  * factor" = input-chunks / output-chunks per probe).
  *
  * In Spark the "chunk" is the task partition: this listener keeps the
  * records each task processed per stage (and their log2 histogram),
  * and exposes a stage-level chunk factor (input records / output records)
  * — small-fragment proliferation after selective operators shows up as
  * mass in the low buckets, exactly the pathology the paper's compaction
  * removes.
  */
class ChunkMetrics extends SparkListener {

  /** log2 bucket index for a record count (bucket i covers [2^i, 2^(i+1))). */
  private[compaction] def bucket(n: Long): Int =
    if (n <= 0) 0 else math.min(63, 64 - java.lang.Long.numberOfLeadingZeros(n) - 1)

  case class StageStats(
      var tasks: Long = 0L,
      var inputRecords: Long = 0L,
      var shuffleReadRecords: Long = 0L,
      var shuffleWriteRecords: Long = 0L,
      var shuffleWriteBytes: Long = 0L,
      var wallMillis: Long = 0L,
      taskRecords: ArrayBuffer[Long] = ArrayBuffer.empty[Long]) {

    /** Tasks per log2 bucket of records processed, from `taskRecords`. */
    def histogram: Array[Long] = synchronized {
      val h = new Array[Long](64)
      taskRecords.foreach(n => h(bucket(n)) += 1)
      h
    }
  }

  private val stages = TrieMap.empty[Int, StageStats]

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val info = ev.stageInfo
    val st = stages.getOrElseUpdate(info.stageId, StageStats())
    st.synchronized {
      st.wallMillis = (for {
        s <- info.submissionTime; c <- info.completionTime
      } yield c - s).getOrElse(0L)
    }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val m = ev.taskMetrics
    if (m != null) {
      val st = stages.getOrElseUpdate(ev.stageId, StageStats())
      st.synchronized {
        st.tasks += 1
        st.inputRecords += m.inputMetrics.recordsRead
        st.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        st.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        val processed = math.max(m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.recordsRead)
        st.taskRecords += processed
      }
    }
  }

  def snapshot: Map[Int, StageStats] = stages.toMap

  /** Records-in / records-out per stage — the chunk-factor analog: high
    * values mean downstream stages would see many small fragments. */
  def chunkFactor(stageId: Int): Option[Double] =
    stages.get(stageId).collect {
      case s if s.shuffleWriteRecords > 0 =>
        math.max(s.inputRecords, s.shuffleReadRecords).toDouble / s.shuffleWriteRecords
    }

  /** Tasks of one stage that processed fewer than `threshold` records. */
  def smallTasks(s: StageStats, threshold: Long): Long =
    s.synchronized(s.taskRecords.count(_ < threshold).toLong)

  /** Fraction of tasks that processed fewer than `threshold` records —
    * the trigger condition of the reference's dynamic compaction
    * (`chunk.size() < compact_threshold`, reference
    * `src/execution/physical_operator.cpp:266`). Counted per task, not
    * per log2 bucket: a 1500-record task is not small at 1024. */
  def smallTaskFraction(threshold: Long): Double = {
    val all = stages.values.toSeq
    val total = all.map(_.tasks).sum
    if (total == 0) 0.0 else all.map(smallTasks(_, threshold)).sum.toDouble / total
  }

  def reset(): Unit = stages.clear()

  def install(spark: SparkSession): this.type = {
    spark.sparkContext.addSparkListener(this)
    this
  }
}

object ChunkMetrics {

  /** Longest wait for the listener bus to drain; Spark's own default is
    * 10 s, which a listener backlog on a loaded box can exceed. */
  private val DrainBudgetMs = 60000L

  /** Runs `work` with a fresh [[ChunkMetrics]] installed, waits until the
    * listener bus has delivered every event the work posted, and returns
    * the work's result with the metrics. If the bus does not drain within
    * the budget, says so and returns the metrics seen so far. */
  def measure[T](spark: SparkSession)(work: => T): (T, ChunkMetrics) = {
    val m = new ChunkMetrics().install(spark)
    try {
      val out = work
      try org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext, DrainBudgetMs)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[chunk-metrics] listener bus not drained after " +
          s"${DrainBudgetMs / 1000} s; metrics may be incomplete")
      }
      (out, m)
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
