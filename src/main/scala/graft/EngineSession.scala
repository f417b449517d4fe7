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

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is
    * JVM-wide and sized once: `CodeGenerator`'s static initializer reads
    * the key from the session that compiles first, and every later
    * session in the JVM shares that size. The 22 TPC-H texts generate
    * 320–350 classes, so at 100 each warm pass recompiles most of them with
    * janino. The full Verify gate at sf0.01 generates 8069 distinct
    * classes (`expressions.GeneratedClass` loads in a
    * `-Xlog:class+load` log, cache capped at 100000); 10000 keeps them
    * all with 24% headroom. Verify there (`SPARK_DRIVER_MEM=6g`, 4
    * cores) compiled 11728 classes at 100 and 8069 at 10000, and its
    * peak RSS read 4949 MB at 100 and 4657 MB at 10000 (one run each). */
  val CodegenCacheEntries = 10000

  /** Cores for a main's session: `SPARK_GRAFT_CPUS` when set, else the
    * machine's. The one place a main reads the variable. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", PageSize)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
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
