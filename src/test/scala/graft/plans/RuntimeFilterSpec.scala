package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins Spark's runtime Bloom-filter injection (InjectRuntimeFilter) on
  * the engine's canonical selective dim→fact shuffle join. At 100 TB the
  * broadcast path doesn't always apply (a 50 GB "dim" is small relative
  * to the fact but far beyond broadcast), and the runtime Bloom filter
  * is what keeps the fact-side shuffle from carrying rows the join will
  * drop — this spec proves the engine's session leaves that door open
  * and documents the thresholds that gate it. The size thresholds are
  * lowered to make the fixture LOOK like the at-scale regime (10 GB
  * probe scan / 10 MB build default); the assertion is on the optimized
  * plan, not row counts. */
class RuntimeFilterSpec extends SparkSpec {

  test("selective dim filter injects might_contain into the fact side of a shuffle join") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "50MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = graft.Tables.t(spark, sf(), "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"))
      val dim = graft.Tables.t(spark, sf(), "supplier")
        .filter(col("s_acctbal") > 9000)
        .select(col("s_suppkey"))
      val joined = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
        .agg(sum(col("l_extendedprice")))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected a runtime bloom filter on the fact scan:\n$optimized")
    }
  }

  test("without the selective filter no runtime filter is wasted") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = graft.Tables.t(spark, sf(), "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"))
      val dim = graft.Tables.t(spark, sf(), "supplier").select(col("s_suppkey"))
      val joined = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
        .agg(sum(col("l_extendedprice")))
      assert(!joined.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "an unfiltered build side must not pay for a bloom filter")
    }
  }
}
