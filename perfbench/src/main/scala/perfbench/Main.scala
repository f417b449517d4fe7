package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One op of a workload: a call into the engine, and an untimed check of
  * what it returned (`Some(reason)` marks the op failed). */
final case class OpDef(kind: String, name: String, run: Int => Any,
    verify: Any => Option[String] = _ => None)

/** A closed-loop, single-client workload. `pass` hands out the ops of the
  * next pass, each built when the one before it has run and been checked;
  * a run measures a whole number of passes. */
trait Workload {
  /** Repeatable set-up (staging, table creation, view registration). */
  def prepare(): Unit
  /** Runs every op shape once, untimed. */
  def warm(): Unit
  def pass(): Iterator[OpDef]
  /** Output-check material and workload-specific numbers. */
  def report(): Map[String, Any]
}

/** The benchmark program: one workload per process on one
  * `EngineSession.local(nproc)` session, exactly as the engine ships.
  *
  * {{{
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <checkout root> <work dir> <result file>
  * }}}
  * Writes one JSON document of raw samples to the result file; `run.py`
  * turns it into metrics and checks it. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def json(v: Any): String = mapper.writeValueAsString(v)

  /** Set-up repetitions whose median is reported. */
  val PrepareRounds = 3
  /** Seconds of `--seconds` per measured pass. */
  val SecondsPerPass = 20.0

  private def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, root, work, out) = argv
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val loadBefore = loadavg()
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(Paths.get(work))

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.EngineSession.local(cores)
    val probe = new Probe(spark)
    val sessionReady = probe.nowMs
    val rng = new scala.util.Random(seed)
    val wl: Workload = workload match {
      case "olap_tpch" => new Olap(spark, root, probe, rng)
      case "dml" => new Dml(spark, root, work, probe, rng)
      case other => sys.error(s"unknown workload $other")
    }

    val prepareMs = (1 to PrepareRounds).map { _ =>
      val t = probe.nowMs; wl.prepare(); probe.nowMs - t
    }
    val warmStart = probe.nowMs
    wl.warm()
    val warmMs = probe.nowMs - warmStart
    // set-up = process start → first timed op, with the repeatable part
    // counted at its median instead of its PrepareRounds-fold sum
    val setupMs = (sessionReady - processStart) + median(prepareMs) + warmMs

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passLog = mutable.ArrayBuffer.empty[Map[String, Any]]
    var checkErrors = 0
    var checkMs = 0.0
    def measure(traced: Boolean): Unit = {
      if (traced) probe.startTracing()
      val gc0 = jvmGcMs()
      wl.pass().foreach { d =>
        val (span, result) = probe.op(d.kind, d.name)(d.run)
        val error = result match {
          case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
          case Success(v) =>
            val t = probe.nowMs
            val checked = probe.unattributed(scala.util.Try(d.verify(v)))
            checkMs += probe.nowMs - t
            checked match {
              case Success(e) => e
              case Failure(e) =>
                checkErrors += 1
                Some(s"output check threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
            }
        }
        error.foreach(e => System.err.println(s"[perfbench] op ${d.name} FAILED: $e"))
        ops += Map("id" -> span.id, "kind" -> span.layer, "name" -> span.name,
          "start" -> span.start, "end" -> span.end, "ok" -> error.isEmpty,
          "error" -> error.orNull, "traced" -> traced,
          "counters" -> probe.countersFor(span.id))
      }
      probe.stopTracing()
      passLog += Map("traced" -> traced, "jvm_gc_ms" -> (jvmGcMs() - gc0),
        "chunk_small_task_fraction" ->
          (if (traced) probe.chunks.smallTaskFraction(Probe.SmallTaskRecords) else 0.0),
        "chunk_factor" -> (if (traced) probe.chunkFactor else 0.0))
    }
    // The measured work is a whole number of passes, one per
    // SecondsPerPass of --seconds, so every run of a workload does the same
    // work whatever the box's speed. A traced run brackets each traced pass
    // between untraced ones; their throughputs give the tracing overhead.
    val passes = math.max(1, math.round(seconds / SecondsPerPass).toInt)
    if (trace) (0 to 2 * passes).foreach(i => measure(traced = i % 2 == 1))
    else (1 to passes).foreach(_ => measure(traced = false))

    val reportStart = probe.nowMs
    val report = wl.report()
    val reportMs = probe.nowMs - reportStart
    val runtime = ManagementFactory.getRuntimeMXBean
    val doc = Map(
      "workload" -> workload,
      "stamp" -> Map(
        "nproc" -> cores, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_flags" -> runtime.getInputArguments.asScala.toList,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "commit" -> sys.props.getOrElse("perfbench.commit", "unknown")),
      "setup" -> Map("setup_ms" -> setupMs, "session_ms" -> (sessionReady - processStart),
        "prepare_ms" -> prepareMs, "warm_ms" -> warmMs),
      "untimed" -> Map("check_ms" -> checkMs, "report_ms" -> reportMs),
      "rss_peak_mb" -> rssPeakMb(),
      "passes" -> passLog.toList,
      "check_errors" -> checkErrors,
      "ops" -> ops.toList,
      "spans" -> (if (trace) probe.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "layer" -> s.layer, "name" -> s.name, "start" -> s.start,
        "end" -> s.end)) else Nil),
      "report" -> report)
    Files.writeString(Paths.get(out), json(doc))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
