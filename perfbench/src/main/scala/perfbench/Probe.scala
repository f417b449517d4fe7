package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op counters folded from Spark's listener events. */
final class Counters {
  var jobs, stages, tasks, smallTasks = 0L
  var runMs, cpuNs, deserializeMs, gcMs = 0L
  var recordsIn, peakMemBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var aqeReplans, partitionsBefore, partitionsAfter = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "small_tasks" -> smallTasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "deserialize_ms" -> deserializeMs, "gc_ms" -> gcMs,
    "records_in" -> recordsIn, "peak_mem_bytes" -> peakMemBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "aqe_replans" -> aqeReplans, "partitions_before" -> partitionsBefore,
    "partitions_after" -> partitionsAfter)
}

/** A timed interval on the benchmark's clock (epoch milliseconds, the
  * clock Spark stamps jobs and stages with). `parent` is the id of the
  * span that caused it; spans of one op share `op`. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, start: Double, end: Double)

/** Records ops and their child spans, and, while tracing, the Spark jobs
  * and stages each op ran plus per-op counters. Jobs are tied to ops
  * through the job group the benchmark sets around every op.
  *
  * Untraced runs install no listener: only the driver-side op timings
  * are kept, so end-to-end numbers carry no listener cost. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  @volatile private var tracing = false
  @volatile private var currentOp = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageOp = mutable.Map.empty[(Int, Int), Int]
  private val stageJobSpan = mutable.Map.empty[Int, Int]
  private val jobSpanStart = mutable.Map.empty[Int, (Int, Int, Double)]
  private val stageSpanStart = mutable.Map.empty[(Int, Int), (Int, Double)]
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }
  private def add(s: Span): Unit = synchronized { spans += s }
  private def countersOf(op: Int): Counters =
    synchronized(counters.getOrElseUpdate(op, new Counters))

  /** The engine's own chunk metrics, installed beside the probe while
    * tracing, for comparison with the probe's exact small-task count. They
    * accumulate over every traced pass. */
  val chunks = new graft.compaction.ChunkMetrics

  def startTracing(): Unit = if (!tracing) {
    sc.addSparkListener(this)
    sc.addSparkListener(chunks)
    spark.listenerManager.register(this)
    tracing = true
  }

  def stopTracing(): Unit = if (tracing) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    sc.removeSparkListener(chunks)
    spark.listenerManager.unregister(this)
    tracing = false
  }

  /** Stage-level chunk factor over the traced passes: records processed
    * over records written to shuffle, summed over stages that wrote. */
  def chunkFactor: Double = {
    val writers = chunks.snapshot.values.filter(_.shuffleWriteRecords > 0)
    val out = writers.map(_.shuffleWriteRecords).sum
    if (out == 0) 0.0
    else writers.map(s => math.max(s.inputRecords, s.shuffleReadRecords)).sum.toDouble / out
  }

  /** Runs one op under its own job group and returns its span and
    * outcome. Listener events the op caused are drained after the op's
    * interval ends, so draining is never timed; events after that are
    * charged to no op. */
  def op[T](kind: String, name: String)(body: Int => T): (Span, scala.util.Try[T]) = {
    val opId = newId()
    currentOp = opId
    sc.setJobGroup(s"pb-$opId", name, interruptOnCancel = false)
    val t0 = nowMs
    val out = scala.util.Try(body(opId))
    val span = Span(opId, 0, opId, kind, name, t0, nowMs)
    add(span)
    sc.clearJobGroup()
    if (tracing) PerfbenchBus.drain(sc)
    currentOp = -1
    (span, out)
  }

  /** Runs work between ops (an output check) outside every job group and
    * drains its listener events before the next op starts, so they are
    * charged to no op. */
  def unattributed[T](body: => T): T =
    try body finally if (tracing) PerfbenchBus.drain(sc)

  /** A driver-side child span of `opId`: one call into a layer's public
    * entry point. Calls outside an op (`opId < 0`) record nothing. */
  def child[T](opId: Int, layer: String)(body: => T): T = if (opId < 0) body else {
    val t0 = nowMs
    try body
    finally add(Span(newId(), opId, opId, layer, layer, t0, nowMs))
  }

  private def groupOp(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).map(_.drop(3).toInt).getOrElse(currentOp)

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    val op = groupOp(ev.properties)
    val sid = newId()
    synchronized {
      jobSpanStart(ev.jobId) = (sid, op, ev.time.toDouble)
      ev.stageIds.foreach(s => if (!stageJobSpan.contains(s)) stageJobSpan(s) = sid)
    }
    val c = countersOf(op)
    c.synchronized(c.jobs += 1)
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = synchronized {
    jobSpanStart.remove(ev.jobId).foreach { case (sid, op, t0) =>
      spans += Span(sid, op, op, "job", s"job ${ev.jobId}", t0, ev.time.toDouble)
    }
  }

  override def onStageSubmitted(ev: SparkListenerStageSubmitted): Unit = {
    val info = ev.stageInfo
    val op = groupOp(ev.properties)
    synchronized {
      stageOp((info.stageId, info.attemptNumber())) = op
      stageSpanStart((info.stageId, info.attemptNumber())) =
        (op, info.submissionTime.map(_.toDouble).getOrElse(nowMs))
    }
    val c = countersOf(op)
    c.synchronized(c.stages += 1)
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val info = ev.stageInfo
    synchronized {
      stageSpanStart.remove((info.stageId, info.attemptNumber())).foreach { case (op, t0) =>
        val parent = stageJobSpan.getOrElse(info.stageId, op)
        spans += Span(newId(), parent, op, "stage", s"stage ${info.stageId}",
          t0, info.completionTime.map(_.toDouble).getOrElse(nowMs))
      }
    }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    val m = ev.taskMetrics
    if (m == null) return
    val op = synchronized(stageOp.getOrElse((ev.stageId, ev.stageAttemptId), currentOp))
    val c = countersOf(op)
    val processed = math.max(m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead)
    c.synchronized {
      c.tasks += 1
      if (processed < Probe.SmallTaskRecords) c.smallTasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.deserializeMs += m.executorDeserializeTime
      c.gcMs += m.jvmGCTime
      c.recordsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      c.peakMemBytes = math.max(c.peakMemBytes, m.peakExecutionMemory)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate =>
      val c = countersOf(currentOp)
      c.synchronized(c.aqeReplans += 1)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = countersOf(currentOp)
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val (before, after) = Probe.coalesced(qe.executedPlan)
    c.synchronized {
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      c.partitionsBefore += before
      c.partitionsAfter += after
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def countersFor(op: Int): Map[String, Any] =
    synchronized(counters.get(op)).map(c => c.synchronized(c.toMap)).getOrElse(Map.empty)

  def allSpans: Seq[Span] = synchronized(spans.toList)
}

object Probe {
  /** Records below which a task counts as small: the reference's
    * compaction threshold, exactly (`< 1024`). */
  val SmallTaskRecords = 1024L

  /** Shuffle partitions before and after AQE coalescing, summed over the
    * final plan's `AQEShuffleReadExec` nodes. */
  def coalesced(plan: SparkPlan): (Long, Long) = {
    var before, after = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case r: AQEShuffleReadExec =>
        r.child match {
          case s: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec =>
            before += s.shuffle.numPartitions
            after += r.partitionSpecs.size
            walk(s.plan)
          case other => walk(other)
        }
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (before, after)
  }
}
