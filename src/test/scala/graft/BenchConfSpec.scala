package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType

/** [[BenchConf.stageFixtures]]: the staged layout every timing main and
  * probe measures against. */
class BenchConfSpec extends SparkSpec {

  /** Key shift between inflation copies. */
  private val shift = 1000000000L

  /** One key column per inflated table. */
  private val keys = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey", "customer" -> "c_custkey",
    "supplier" -> "s_suppkey", "part" -> "p_partkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  private def staging[T](copies: Int, moneyDecimals: Boolean)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage_spec_").toString
    // stageFixtures sets the write codec on the session: put it back after
    val codec = "spark.sql.parquet.compression.codec"
    try withConf(codec -> spark.conf.get(codec)) {
      BenchConf.stageFixtures(spark, sf(), 4, copies, moneyDecimals, Some(dir))
      body(dir)
    } finally scala.reflect.io.Path(dir).deleteRecursively()
  }

  test("stageFixtures with copies = 2 inflates the fact tables into disjoint key-shifted copies") {
    staging(copies = 2, moneyDecimals = true) { dir =>
      def fixture(n: String) = Tables.t(spark, sf(), n)
      def staged(n: String) = Tables.t(spark, dir, n)
      assert(keys.keySet === Tables.names.filterNot(Tables.broadcastable).toSet)
      for ((n, k) <- keys) {
        val (base, both) = (fixture(n), staged(n))
        assert(both.count() === 2 * base.count(), n)
        // copy 1 is copy 0 shifted: twice the distinct keys, none shared
        assert(both.select(k).distinct().count() === 2 * base.select(k).distinct().count(), n)
        assert(both.filter(col(k) >= shift).select(col(k) - shift)
          .exceptAll(base.select(k)).isEmpty, n)
      }
      Tables.broadcastable.foreach(n => assert(staged(n).count() === fixture(n).count(), n))

      def joined(d: String) = Tables.t(spark, d, "lineitem")
        .join(Tables.t(spark, d, "orders"), col("l_orderkey") === col("o_orderkey")).count()
      assert(joined(dir) === 2 * joined(sf()))

      val docs = staged("documents")
      val pairs = docs.filter(col("doc_id") < shift).as("a")
        .join(docs.filter(col("doc_id") >= shift).as("b"),
          col("a.doc_id") + shift === col("b.doc_id"))
      assert(pairs.count() === fixture("documents").count())
      assert(pairs.filter(col("a.text") === col("b.text")).isEmpty)

      assert(staged("lineitem").schema("l_extendedprice").dataType === DecimalType(18, 2))
    }
  }

  test("stageFixtures with moneyDecimals = false keeps the fixture's money types") {
    staging(copies = 1, moneyDecimals = false) { dir =>
      val field = "l_extendedprice"
      assert(Tables.t(spark, dir, "lineitem").schema(field).dataType ===
        Tables.t(spark, sf(), "lineitem").schema(field).dataType)
    }
  }
}
