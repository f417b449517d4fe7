package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.sql.{DuckDialect, TpchVerbatim}

/** The JVM's generated-class cache holds a warm TPC-H workload: once the
  * 22 texts have run, running them again compiles nothing. Spark's
  * default of 100 entries is smaller than the ~330 classes these texts
  * generate, so at the default every pass recompiles most of them. */
class CodegenCacheSpec extends SparkSpec {

  /** Janino compiles so far in this JVM (driver and executor threads). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles added by running `ids` through translate → sql → collect. */
  private def pass(ids: Seq[String]): Long = {
    val before = compiles
    ids.foreach(id => spark.sql(DuckDialect.translate(TpchVerbatim.queryText(id))).collect())
    compiles - before
  }

  test("a second pass over the 22 TPC-H texts, in another order, compiles nothing") {
    val dir = TpchVerbatim.fixtureDir(sf("sf0.01"))
    TpchVerbatim.tables.foreach(t => Tables.registerView(spark, t, Tables.t(spark, dir, t)))
    // Suites that ran earlier in this forked JVM may have left some of
    // these classes in the cache; empty it so the first pass compiles all.
    // The cache keeps the size it was built with.
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)

    // AQE re-plans a join from whichever of its stages finished first, so
    // under load a repeat can pick another plan and compile its classes
    // anew (a full test run saw 9 of 321). With AQE off each text has one
    // plan, and a recompile can only be an eviction.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ids = TpchVerbatim.queryIds
      assert(ids.size === 22)
      val first = pass(ids)
      assert(first > 100,
        s"the first pass compiled $first classes: it must overflow Spark's default")
      val second = pass(ids.reverse)
      assert(second === 0, s"the second pass recompiled $second of the first pass's $first classes")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("EngineSession's builder and EngineSession.local carry the cache size") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val expected = EngineSession.CodegenCacheEntries.toString
    // this JVM's session already exists, so getOrCreate returns it and the
    // builder's static options never reach a new one: read them off the
    // builder (`options` is protected in Scala, public in bytecode)
    val b = EngineSession.builder("local[2]", 8)
    val options = b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(options.get(key) === Some(expected))
    // EngineSession.local re-configures this suite's running session: read
    // the cache size, then put back every runtime key it changed
    val saved = spark.conf.getAll
    val entries = try EngineSession.local(2).conf.get(key)
    finally spark.conf.getAll.keys.filter(spark.conf.isModifiable).foreach(k =>
      saved.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
    assert(entries === expected)
  }
}
