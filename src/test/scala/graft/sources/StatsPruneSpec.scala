package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Manifest file-stats pruning: DML must plan against the per-file
  * min/max envelope in the manifest (driver-side, zero files opened)
  * before any scan — the property that keeps a point DELETE on a
  * 10⁶-file table from reading the whole table. */
class StatsPruneSpec extends SparkSpec {

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_prune_spec_").toString

  private def manifestLines(root: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/_manifests/v$v.manifest"))
      .asScala.toSeq.filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  /** 4 files with disjoint c_custkey ranges via range partitioning. */
  private def rangedTable(): String = {
    val root = freshRoot()
    GraftTable.create(spark, root,
      graft.Tables.t(spark, sf(), "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .repartitionByRange(4, col("c_custkey")))
    root
  }

  test("manifest entries carry min/max stats fields for eligible columns") {
    val root = rangedTable()
    val lines = manifestLines(root, 1)
    assert(lines.size === 4)
    assert(lines.forall(_.contains("\tc_custkey=")),
      "every entry should carry c_custkey stats")
    assert(lines.forall(_.contains("\tc_name=")),
      "string columns are stats-eligible too")
  }

  test("point-predicate candidates: only the stats-matching file survives") {
    val root = rangedTable()
    val victim = graft.Tables.t(spark, sf(), "customer")
      .agg(min("c_custkey")).collect()(0).getLong(0)
    val cands = GraftTable.candidateEntries(root, col("c_custkey") === victim)
    assert(cands.size === 1,
      s"a point predicate must prune to one file, got ${cands.size}")
    // an out-of-range predicate prunes EVERYTHING — no scan will run
    val none = GraftTable.candidateEntries(root, col("c_custkey") === -1L)
    assert(none.isEmpty)
    // a range predicate keeps only overlapping files
    val half = GraftTable.candidateEntries(root, col("c_custkey") <= victim)
    assert(half.size === 1)
    // IN-lists prune by their [min,max] envelope
    val in2 = GraftTable.candidateEntries(root,
      col("c_custkey").isin(victim, victim + 1))
    assert(in2.size <= 2)
  }

  test("opaque predicates disable pruning, never drop files (soundness)") {
    val root = rangedTable()
    val all = manifestLines(root, 1).size
    // column-to-column and OR shapes contribute no constraints
    assert(GraftTable.candidateEntries(root,
      col("c_custkey") === col("c_acctbal")).size === all)
    assert(GraftTable.candidateEntries(root,
      (col("c_custkey") === 1L) || (col("c_acctbal") > 0)).size === all)
    // conjunct composition: the prunable half still prunes
    val victim = graft.Tables.t(spark, sf(), "customer")
      .agg(min("c_custkey")).collect()(0).getLong(0)
    assert(GraftTable.candidateEntries(root,
      (col("c_custkey") === victim) && (col("c_name") =!= lit("x"))).size === 1)
  }

  test("legacy stats-less manifests keep every file as a candidate") {
    val root = rangedTable()
    // strip the stats fields in place — simulates a pre-stats manifest
    val p = java.nio.file.Paths.get(s"$root/_manifests/v1.manifest")
    val stripped = manifestLines(root, 1).map(_.takeWhile(_ != '\t'))
    java.nio.file.Files.writeString(p, stripped.mkString("\n"))
    assert(GraftTable.candidateEntries(root,
      col("c_custkey") === -1L).size === stripped.size)
    // and reads still work
    assert(GraftTable.read(spark, root).count() ===
      graft.Tables.t(spark, sf(), "customer").count())
  }

  test("delete end-to-end: correct result AND single-file rewrite") {
    val root = rangedTable()
    val before = manifestLines(root, 1).toSet
    val victim = graft.Tables.t(spark, sf(), "customer")
      .agg(min("c_custkey")).collect()(0).getLong(0)
    GraftTable.delete(spark, root, col("c_custkey") === victim)
    val after = manifestLines(root, 2).toSet
    assert((before intersect after).size === before.size - 1,
      "exactly one file rewritten")
    assert(GraftTable.read(spark, root)
      .filter(col("c_custkey") === victim).count() === 0)
    // rewritten file carries fresh stats
    assert((after -- before).forall(_.contains("\tc_custkey=")))
  }

  test("pre-1970 fractional timestamps encode with floor semantics (sign-safe)") {
    // 1969-12-31T23:59:59.5: getTime/1000 truncation would flip the
    // fraction to +0.5s and the stats envelope would prune the file a
    // DELETE on `ts < 1970-01-01` needs to rewrite
    val root = freshRoot()
    import java.sql.Timestamp
    val rows = Seq(
      (1L, Timestamp.valueOf("1969-12-31 23:59:59.5")),
      (2L, Timestamp.valueOf("1970-01-01 00:00:01.25")),
      (3L, Timestamp.valueOf("2001-06-15 12:00:00.0")))
    import spark.implicits._
    GraftTable.create(spark, root,
      rows.toDF("id", "ts").repartitionByRange(3, col("ts")))
    val cands = GraftTable.candidateEntries(root,
      col("ts") < lit(Timestamp.valueOf("1970-01-01 00:00:00")))
    assert(cands.size === 1, s"the pre-epoch file must survive pruning, got $cands")
    GraftTable.delete(spark, root,
      col("ts") < lit(Timestamp.valueOf("1970-01-01 00:00:00")))
    assert(GraftTable.read(spark, root).count() === 2)
  }

  test("float stats use the widened-double expansion (boundary-safe)") {
    // file max 0.3f; the predicate compares in DOUBLE space where
    // 0.3f widens to 0.30000001…, ABOVE decimal 0.3 — shortest-repr
    // stats ("0.3") would prune the file and strand the row
    val root = freshRoot()
    import spark.implicits._
    GraftTable.create(spark, root,
      Seq((1L, 0.1f), (2L, 0.3f)).toDF("id", "v").repartition(1))
    val cands = GraftTable.candidateEntries(root,
      col("v") > lit(0.3))
    assert(cands.size === 1,
      "0.3f widens above 0.3d — the file can match and must be kept")
    GraftTable.delete(spark, root, col("v") > lit(0.3))
    assert(GraftTable.read(spark, root).count() === 1)
  }

  test("double literal equal to a widened float prunes soundly (exact encoding)") {
    // 0.30000001192092896d IS 0.3f widened (same binary value, shortest
    // repr). If the stat side stores the exact expansion ...955078125 but
    // the literal side parses the shortest repr, the equality envelope
    // check misses and DELETE silently skips matching rows.
    val root = freshRoot()
    import spark.implicits._
    GraftTable.create(spark, root,
      Seq((1L, 0.1f), (2L, 0.3f)).toDF("id", "v").repartition(1))
    val lit03f = lit(0.30000001192092896) // == 0.3f widened
    assert(GraftTable.candidateEntries(root, col("v") === lit03f).size === 1,
      "the file's max IS the literal's value — it must survive pruning")
    GraftTable.delete(spark, root, col("v") === lit03f)
    assert(GraftTable.read(spark, root).count() === 1,
      "the widened-float row must actually be deleted, not stats-skipped")
    // and on a DoubleType column the same value round-trips exactly too
    val root2 = freshRoot()
    GraftTable.create(spark, root2,
      Seq((1L, 0.1), (2L, 0.30000001192092896)).toDF("id", "v").repartition(1))
    assert(GraftTable.candidateEntries(root2, col("v") === lit03f).size === 1)
  }

  test("wide string stats are truncated soundly (bounded manifest lines)") {
    val root = freshRoot()
    import spark.implicits._
    val longA = "a" * 500 + "zzz"
    val longB = "b" * 500 + "qqq"
    GraftTable.create(spark, root,
      Seq((1L, longA), (2L, longB)).toDF("id", "txt").repartition(1))
    val line = manifestLines(root, 1).head
    assert(line.length < 300,
      s"manifest line must not carry full 500-char bodies: ${line.length} chars")
    // soundness: equality on the full long value must keep the file
    assert(GraftTable.candidateEntries(root, col("txt") === longB).size === 1)
    // and a predicate outside the [aaaa.., b+prefix-bound] envelope prunes
    assert(GraftTable.candidateEntries(root, col("txt") === ("x" * 40)).isEmpty)
    // unit properties of the bounds themselves
    assert(GraftTable.truncMin(longA) <= longA && GraftTable.truncMin(longA).length <= 32)
    val up = GraftTable.truncMax(longB)
    assert(up.nonEmpty && up.get > longB.substring(0, 32) && up.get.length <= 32)
    // short strings pass through untouched
    assert(GraftTable.truncMin("abc") === "abc" && GraftTable.truncMax("abc") === Some("abc"))
    // surrogate-pair boundary: never cut a pair in half ("x" + pairs puts
    // a HIGH surrogate at index 31, forcing the cut back to 31)
    val sLong = "x" + ("😀" * 40)
    val tm = GraftTable.truncMin(sLong)
    assert(!Character.isHighSurrogate(tm.last), "must cut at a code-point boundary")
    assert(tm.length === 31)
  }

  test("struct-field predicates yield no constraint (no column-name aliasing)") {
    import org.apache.spark.sql.graft.Bridge
    // s.x must NOT be attributed to a top-level column named x
    assert(GraftTable.extractConstraints(
      Bridge.catalystExpression(col("s.x") === 5)).isEmpty)
    // plain x still constrains
    assert(GraftTable.extractConstraints(
      Bridge.catalystExpression(col("x") === 5)).nonEmpty)
  }

  test("merge prunes target files by the source's key range") {
    val root = rangedTable()
    val before = manifestLines(root, 1).toSet
    val victim = graft.Tables.t(spark, sf(), "customer")
      .agg(min("c_custkey")).collect()(0).getLong(0)
    // source touches only the lowest key → only its file may be rewritten
    val src = spark.range(1).select(
      lit(victim).as("c_custkey"),
      lit("UPDATED").as("c_name"),
      lit(0.0).as("c_acctbal"))
    GraftTable.merge(spark, root, src, Seq("c_custkey"))
    val after = manifestLines(root, 2).toSet
    assert((before intersect after).size === before.size - 1,
      "merge must rewrite only the key-range-matching file")
    val got = GraftTable.read(spark, root)
      .filter(col("c_custkey") === victim).select("c_name").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("UPDATED"))
  }

  // ------------------------------------------ footer stats vs. a rescan

  /** The per-file aggregate the stats used to come from: min/max of every
    * eligible column per file, encoded as the manifest encodes them, and
    * the file's row count. The oracle for the footer-derived lines. */
  private def scannedLines(root: String): Seq[String] = {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val schema = GraftTable.schemaOf(root)
    val files = manifestLines(root, 1).map(_.takeWhile(_ != '\t'))
    val cols = schema.fields.toSeq.filter(f => GraftTable.statEligible(f.dataType))
    val aggs = cols.flatMap(f => Seq(min(col(f.name)), max(col(f.name)))) :+ count(lit(1))
    val rows = spark.read.schema(schema).parquet(files.map(f => s"$root/$f"): _*)
      .groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*).collect()
    files.map { p =>
      rows.find(_.getString(0).endsWith(p)).fold(s"$p\t#rows=0") { r =>
        val fields = cols.zipWithIndex.flatMap { case (f, ix) =>
          (GraftTable.encodeExternal(r.get(1 + ix * 2)),
           GraftTable.encodeExternal(r.get(2 + ix * 2))) match {
            case (Some(a), Some(b)) if f.dataType == org.apache.spark.sql.types.StringType =>
              GraftTable.truncMax(b).map(bb => s"${enc(f.name)}=${enc(GraftTable.truncMin(a))},${enc(bb)}")
            case (Some(a), Some(b)) => Some(s"${enc(f.name)}=${enc(a)},${enc(b)}")
            case _ => None
          }
        }
        (p +: fields :+ s"#rows=${r.getLong(1 + cols.size * 2)}").mkString("\t")
      }
    }
  }

  private def rowGroups(root: String, rel: String): Int =
    org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(s"$root/$rel")).getBlocks.size

  test("footer-derived stats equal a per-file rescan, edge values and row groups included") {
    val n = 3000L
    val id = col("id")
    val micros = (id - 1500) * 1000000007L + 500000
    val df = spark.range(0, n, 1, 3).select(
      id,
      (id % 100 - 50).cast("byte").as("b"),
      (id * 7 % 30000 - 15000).cast("short").as("s"),
      (id * 13 % 100000 - 50000).cast("int").as("i"),
      when(id === 1234, lit(Float.PositiveInfinity))
        .otherwise((id / 7.0).cast("float")).as("f"),
      when(id === 17, lit(Double.NaN)).when(id === 2100, lit(-0.0d))
        .otherwise((id - 1500) / 3.0).as("d"),
      ((id % 1000) / 100 - 5).cast("decimal(5,2)").as("dec5"),
      ((id * 12345 % 100000000L) / 100 - 400000).cast("decimal(10,2)").as("dec10"),
      (id.cast("decimal(30,5)") * lit(BigDecimal("1e20")) - lit(BigDecimal("1.5e23")))
        .cast("decimal(30,5)").as("dec30"),
      date_add(lit("1950-01-01").cast("date"), (id * 7).cast("int")).as("dt"),
      timestamp_micros(micros).as("ts"),
      timestamp_micros(micros).cast("timestamp_ntz").as("ntz"),
      (id % 3 === 0).as("bool"),
      when(id === 2500, lit("z" * 5000))
        .when(id % 500 === 0, concat(lit("a" * 31 + "\uD83D\uDE00"), id.cast("string")))
        .otherwise(concat(lit("k\uD83D\uDE00"), lpad(id.cast("string"), 5, "0"))).as("str"),
      lit(null).cast("int").as("nul"),
      when(id % 1000 > 600, id).as("sparse"))
    val root = freshRoot()
    val key = "parquet.block.size"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "4096")
    try GraftTable.create(spark, root, df)
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val lines = manifestLines(root, 1)
    assert(lines.size === 3)
    lines.foreach(l => assert(rowGroups(root, l.takeWhile(_ != '\t')) > 1,
      "each file must span several row groups"))
    assert(lines === scannedLines(root))
    // the edge values really took the omit paths
    assert(lines.count(_.contains("\td=")) === 2, "NaN omits the double field, a -0.0 minimum keeps it")
    assert(lines.count(_.contains("\tf=")) === 2, "+Inf omits the float field")
    assert(!lines.exists(_.contains("\tnul=")))
    assert(lines.forall(_.contains("\tts=")) && lines.forall(_.contains("\tstr=")))
  }

  test("footer-derived stats equal a per-file rescan on a range-partitioned table") {
    val root = rangedTable()
    assert(manifestLines(root, 1) === scannedLines(root))
  }

  /** Jobs started while `work` runs, counted after the listener bus drains. */
  private def jobsOf(work: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.Bridge.drainListenerBus(sc, 60000L)
    sc.addSparkListener(l)
    try {
      work
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc, 60000L)
    } finally sc.removeSparkListener(l)
    n.get
  }

  test("insert and update launch no job beyond their own scans and the write") {
    val lineitem = graft.Tables.t(spark, sf(), "lineitem")
    val root = freshRoot()
    GraftTable.create(spark, root, lineitem.coalesce(1))
    val rows = lineitem.filter(col("l_orderkey") < 100)
    val writeJobs = jobsOf(rows.write.parquet(freshRoot() + "/w"))
    assert(jobsOf(GraftTable.insert(spark, root, rows)) === writeJobs,
      "insert: the write's jobs only")

    val pred = col("l_orderkey") === 1L
    val changed = GraftTable.read(spark, root).filter(pred)
    val baseline = jobsOf {
      changed.select(col("_metadata.row_index")).collect()
      changed.withColumn("l_returnflag", lit("x")).coalesce(1).write.parquet(freshRoot() + "/w")
    }
    assert(jobsOf(GraftTable.update(spark, root, pred, Map("l_returnflag" -> lit("x")))) === baseline,
      "update: the matched-row scan and the write of the changed rows only")

    val gone = col("l_orderkey") === 2L
    val scanJobs = jobsOf(GraftTable.read(spark, root).filter(gone)
      .select(col("_metadata.row_index")).collect())
    assert(jobsOf(GraftTable.delete(spark, root, gone)) === scanJobs,
      "delete: the matched-row scan only, no write")

    // MERGE: one aggregate over the cached source (duplicate check and
    // key range), the join of the target's keys with it, one write
    val keys = Seq("l_orderkey", "l_linenumber")
    val source = lineitem.filter(col("l_orderkey") === 3L)
      .withColumn("l_quantity", col("l_quantity") + 1)
      .unionByName(lineitem.filter(col("l_orderkey") === 3L && col("l_linenumber") === 1)
        .withColumn("l_linenumber", lit(99)))
      .dropDuplicates(keys)
    val mergeBaseline = jobsOf {
      val src = source.persist()
      src.groupBy(keys.map(col): _*).count()
        .agg(max("count"), keys.flatMap(k => Seq(min(k), max(k))): _*).collect()
      val matched = GraftTable.read(spark, root)
        .select(col("_metadata.row_index").as("pos"), col(keys(0)), col(keys(1)))
        .join(src, keys).persist()
      matched.select("pos").collect()
      val inSchema = lineitem.columns.toIndexedSeq.map(col)
      matched.select(inSchema: _*)
        .unionAll(src.join(matched.select(keys.map(col): _*), keys, "left_anti").select(inSchema: _*))
        .coalesce(1).write.parquet(freshRoot() + "/w")
      matched.unpersist(); src.unpersist()
    }
    assert(jobsOf(GraftTable.merge(spark, root, source, keys)) === mergeBaseline,
      "merge: the source aggregate, the matched-row join and the write only")
  }

  test("a timestamp column costs one aggregate over that column alone") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val df = (0 until 200).map(i => (i.toLong, java.sql.Timestamp.valueOf(s"2020-01-01 00:00:${i % 60}"),
      s"c$i")).toDF("k", "ts", "note").repartition(2)
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        qe.sparkPlan.collect { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }
          .foreach(scans.add)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext, 60000L)
    spark.listenerManager.register(l)
    val root = freshRoot()
    try {
      GraftTable.create(spark, root, df)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext, 60000L)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    assert(scans.asScala.toSeq === Seq(Seq("ts")),
      "the only scan of the written files is the fallback aggregate over ts")
    assert(manifestLines(root, 1) === scannedLines(root))
  }
}
