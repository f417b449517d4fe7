package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine, and the one place its settings live:
  * AQE with compaction-oriented coalescing on (the always-on analog of the
  * reference's dynamic chunk compaction — SURVEY.md §4.2), UTC,
  * right-sized shuffle parallelism and memory pages, and the graft
  * optimizer extensions registered. Every session a main starts, and
  * every `newSession()` of it, inherits them.
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

  /** The runtime keys of the engine's posture at `cores`: one shuffle
    * partition per core (at least 8), the 10 MB broadcast threshold, UTC,
    * parquet aggregate pushdown and AQE with the compaction threshold
    * ([[compaction.Compact.aqeCompaction]]). The builder puts them in the
    * SparkConf, so every `newSession()` starts in them too. */
  def posture(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> math.max(cores, 8).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (10 << 20).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.aggregatePushdown" -> "true") ++ compaction.Compact.aqeCompaction()

  /** The one definition of a session: master, extensions, the static keys
    * and the [[posture]] at `cores`. */
  def builder(master: String, cores: Int): SparkSession.Builder =
    posture(cores).foldLeft(SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", PageSize)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Puts `spark`'s posture keys back to the values its SparkContext was
    * built with, after a benchmark conf ([[BenchConf.tuned]],
    * [[BenchConf.verbatim]]) or a probe changed them. */
  def restore(spark: SparkSession): Unit = {
    val built = spark.sparkContext.getConf
    posture(cores = 1).map(_._1).foreach(k => spark.conf.set(k, built.get(k)))
  }
}
