package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one local session per suite (lazy), built by the
  * engine's own builder, so every suite runs the posture, extensions and
  * page size the engine ships. Every suite runs in one forked JVM: the
  * first suite's builder creates the SparkContext, and later suites'
  * `getOrCreate` return its session. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = EngineSession.builder("local[4]", 4).getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` with `pairs` set on the session, restoring the prior values. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
