package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine: AQE with compaction-oriented
  * coalescing on (the always-on analog of the reference's dynamic chunk
  * compaction — SURVEY.md §4.2), UTC, right-sized shuffle parallelism and
  * memory pages, and the graft optimizer extensions registered.
  */
object EngineSession {

  /** Bytes of one Tungsten page. Every sort, hash aggregate and shuffle
    * writer takes a page at its first row, so an operator holds at least
    * one page per task however few rows it sees. Spark's default,
    * execution memory / cores / 16, is its 64 MB maximum on a 4 GB heap
    * with 4 cores: a plan of a dozen sort-merge joins over tiny inputs
    * then asks for 64 MB per sort per running task at once, and the heap
    * grows or not depending on GC timing. At 4 MB the same plan needs a
    * sixteenth of that; a large input just takes more pages. */
  val PageSize = "4m"

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", PageSize)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 8)).getOrCreate()
    compaction.Compact.enableAqeCompaction(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
