package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

/** The engine's one profiler: where one entry's time and rows went, as a
  * JSON-able record — the Spark counterpart of the reference's profilers
  * (reference `src/include/duckdb/common/profiler.hpp`: the Bee/Cat
  * phase timers, the Zebra per-chunk-size histograms and the HashJoin
  * chunk factor). Spark's runtime unit is the stage, so the per-operator
  * rows of the reference become per-(stage, attempt) rows from
  * [[compaction.ChunkMetrics]].
  *
  * `runMain graft.Profile <dir> [entry… | all]` profiles registry entries
  * (default [[Bench.Headline]], `all` = every entry) on
  * `EngineSession.local`, the posture perfbench and Verify run in, and
  * prints one JSON line per entry; an entry that throws gets a record with
  * `error` and the run goes on. Bench profiles its headliners with the
  * same [[record]] under its own conf.
  */
object Profile {

  /** Records below which a task counts as small: the reference's dynamic
    * compaction trigger (`chunk.size() < compact_threshold`, reference
    * `src/execution/physical_operator.cpp:266`). */
  val SmallTaskRecords = 1024L

  /** One (stage, attempt): its tasks, record flow, chunk factor, log2
    * task-size histogram (index i counts tasks of [2^i, 2^(i+1)) records,
    * trailing empty buckets dropped) and tasks under [[SmallTaskRecords]]. */
  case class Stage(stage: Int, attempt: Int, wall_ms: Long, tasks: Long,
      input_records: Long, shuffle_read_records: Long, shuffle_write_records: Long,
      chunk_factor: Option[Double], histogram: Seq[Long], small_tasks: Long)

  /** One `AQEShuffleReadExec`: shuffle partitions before and after AQE coalescing. */
  case class AqeRead(before: Int, after: Int)

  /** One profiled entry. `build_ms` is building the DataFrame, `action_ms`
    * its noop write, `wall_ms` both plus the listener-bus drain between
    * them. Parsing and analysis are the Dataset's own phases; optimization
    * and planning are those of the query the write ran. `stage_busy_ms`
    * is the union of the write's stage intervals, so `action_ms −
    * stage_busy_ms` is the write's time with no stage running (planning,
    * scheduling, result handling). `smells` flags
    * the final plan: a `CartesianProduct`, a filter over a scan with
    * `PushedFilters: []`, a `SortMergeJoin`. */
  case class Record(label: String, build_ms: Long, action_ms: Long, wall_ms: Long,
      parsing_ms: Long, analysis_ms: Long, optimization_ms: Long, planning_ms: Long,
      stage_busy_ms: Long, small_task_fraction: Double, aqe_reads: Seq[AqeRead],
      smells: Seq[String], stages: Seq[Stage], plan: String)

  /** The queries the session ran, as its listener manager reports them. */
  private class Ran extends QueryExecutionListener {
    @volatile var last: Option[QueryExecution] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      last = Some(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Times `build`, then runs one noop write of its DataFrame inside
    * [[compaction.ChunkMetrics.measure]] and profiles that run. */
  def record(spark: SparkSession, label: String)(build: => DataFrame): Record = {
    val t0 = System.currentTimeMillis()
    val df = build
    val built = System.currentTimeMillis()
    // snapshot now: the write's command shares this tracker and extends its analysis
    val own = df.queryExecution.tracker.phases
    val ran = new Ran
    val ((start, end), m) = try compaction.ChunkMetrics.measure(spark) {
      spark.listenerManager.register(ran)
      val start = System.currentTimeMillis()
      Bench.noop(df)
      (start, System.currentTimeMillis())
    } finally spark.listenerManager.unregister(ran)
    val qe = ran.last.getOrElse(
      throw new IllegalStateException(s"$label: the write reported no query"))
    def ms(phases: Map[String, PhaseSummary], p: String) = phases.get(p).fold(0L)(_.durationMs)
    val plan = qe.explainString(ExplainMode.fromString("formatted"))
    val stats = m.snapshot.toSeq.sortBy(_._1)
    Record(label, built - t0, end - start, end - t0,
      ms(own, "parsing"), ms(own, "analysis"),
      ms(qe.tracker.phases, "optimization"), ms(qe.tracker.phases, "planning"),
      busyMs(stats.map(_._2).filter(_.completedMs > 0)
        .map(s => (math.max(s.submittedMs, start), math.min(s.completedMs, end)))),
      m.smallTaskFraction(SmallTaskRecords),
      Plans.collectWithSubqueries(qe.executedPlan) {
        case r @ AQEShuffleReadExec(s: ShuffleQueryStageExec, _) =>
          AqeRead(s.shuffle.numPartitions, r.partitionSpecs.size)
      },
      Seq("CartesianProduct" -> plan.contains("CartesianProduct"),
        "UnpushedFilter" -> (plan.contains("PushedFilters: []") && plan.contains("Filter ")),
        "SortMergeJoin" -> plan.contains("SortMergeJoin")).collect { case (s, true) => s },
      stats.map { case ((id, attempt), s) =>
        Stage(id, attempt, s.wallMillis, s.tasks, s.inputRecords, s.shuffleReadRecords,
          s.shuffleWriteRecords, s.chunkFactor,
          s.histogram.reverse.dropWhile(_ == 0).reverse.toSeq, m.smallTasks(s, SmallTaskRecords))
      },
      plan)
  }

  /** Walks into adaptive plans and their query stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  /** Milliseconds covered by the union of `spans`. */
  private[graft] def busyMs(spans: Seq[(Long, Long)]): Long =
    spans.sorted.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
      (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }._1

  /** One registry entry's record, or `{label, error}` when it throws. */
  def entry(spark: SparkSession, dir: String, name: String): Any =
    try record(spark, name)(SparkEntry.queries(name)(spark, dir))
    catch { case NonFatal(e) => ListMap("label" -> name, "error" -> e.toString) }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(throw new IllegalArgumentException(
      "usage: Profile <dir> [entry… | all]"))
    val names = args.toSeq.tail match {
      case Seq() => Bench.Headline
      case Seq("all") => SparkEntry.queries.keys.toSeq.sorted
      case given => given
    }
    val spark = EngineSession.local(EngineSession.cores)
    names.foreach(n => println(Json.write(entry(spark, dir, n))))
    spark.stop()
  }
}
