package graft

import org.apache.spark.sql.SparkSession

/** The engine's posture lives in its session builder, so a `newSession()`
  * starts in it and [[EngineSession.restore]] puts it back. */
class EngineSessionSpec extends SparkSpec {

  private val postureKeys = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    "spark.sql.parquet.aggregatePushdown",
    "spark.sql.session.timeZone")

  private def read(s: SparkSession): Seq[(String, String)] =
    postureKeys.map(k => k -> s.conf.get(k))

  test("a newSession() reads every posture key equal to its parent's") {
    spark // this suite's session first: EngineSession.local(2) then returns it
    val parent = EngineSession.local(2)
    assert(read(parent.newSession()) === read(parent))
    assert(parent.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") ===
      ((64L << 20) / 16).toString)
  }

  test("EngineSession.restore undoes BenchConf.tuned") {
    val s = spark.newSession()
    val posture = read(s)
    BenchConf.tuned(s)
    assert(read(s) !== posture)
    EngineSession.restore(s)
    assert(read(s) === posture)
  }
}
