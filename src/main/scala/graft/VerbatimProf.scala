package graft

/** Dev tool (r17): break a verbatim gate entry's wall time into
  * register-views / translate / analyze / execute, to aim optimization at
  * the real cost. Run:
  * `sbt "runMain graft.VerbatimProf imdb 01a 08a" ` or
  * `sbt "runMain graft.VerbatimProf tpcds 1 14 88"`. */
object VerbatimProf {
  def main(args: Array[String]): Unit = {
    val suite = args.head
    val ids = args.tail.toSeq
    val spark = EngineSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    def ms(f: => Unit): Long = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1000000L
    }
    val corpus = if (suite == "imdb") graft.sql.JobVerbatim else graft.sql.TpcdsVerbatim
    val queryIds = if (suite == "imdb") ids else ids.map(id => f"${id.toInt}%02d")
    val fixDir = corpus.fixtureDir("sf0.01")
    // one warm pass so JVM/codegen are hot, as in the mid-gate regime
    queryIds.foreach(id =>
      corpus.run(spark, "sf0.01", id).write.format("noop").mode("overwrite").save())
    for (_ <- 1 to 3; id <- queryIds) {
      var df: org.apache.spark.sql.DataFrame = null
      var sql: String = null
      val reg = ms(corpus.tables.foreach(t =>
        Tables.registerView(spark, t, Tables.t(spark, fixDir, t))))
      val trans = ms { sql = graft.sql.DuckDialect.translate(corpus.queryText(id)) }
      val analyze = ms { df = spark.sql(sql) }
      val exec = ms(df.write.format("noop").mode("overwrite").save())
      System.err.println(
        s"[prof] $suite $id register=${reg}ms translate=${trans}ms " +
          s"analyze=${analyze}ms execute=${exec}ms")
    }
    spark.stop()
  }
}
