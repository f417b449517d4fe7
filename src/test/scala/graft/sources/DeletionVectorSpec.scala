package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

/** Deletion vectors: DELETE/UPDATE/MERGE mark row positions in the
  * manifest instead of rewriting files, every read path (current
  * snapshot, time travel, restore, changes) applies them, and compaction
  * drops the marked rows for good. */
class DeletionVectorSpec extends SparkSpec {

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_dv_spec_").toString

  private def manifestLines(root: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$root/_manifests/v$v.manifest"))
      .asScala.toSeq.filter(l => l.nonEmpty && !l.startsWith("#"))
  }

  private def path(line: String) = line.takeWhile(_ != '\t')

  /** Deleted positions per data file of version `v`. */
  private def dvs(root: String, v: Int): Map[String, Set[Int]] =
    manifestLines(root, v).flatMap { l =>
      l.split('\t').find(_.startsWith("#dv=")).map { f =>
        val b = new RoaringBitmap
        b.deserialize(java.nio.ByteBuffer.wrap(
          java.util.Base64.getDecoder.decode(f.stripPrefix("#dv="))))
        path(l) -> b.toArray.toSet
      }
    }.toMap

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  /** `id`, `v = id * 3`, one file per slice of `parts`, in id order. */
  private def table(n: Long, parts: Int, blockSize: Option[Int] = None): String = {
    val root = freshRoot()
    val df = spark.range(0, n, 1, parts).select(col("id"), (col("id") * 3).as("v"))
    val key = "parquet.block.size"
    val prior = spark.conf.getOption(key)
    blockSize.foreach(b => spark.conf.set(key, b.toString))
    try GraftTable.create(spark, root, df)
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    root
  }

  test("deletes that skip row groups still mark the right rows, vectorized or not") {
    for (vectorized <- Seq("true", "false")) {
      val root = table(20000L, 2, Some(4096))
      manifestLines(root, 1).foreach { l =>
        val groups = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          spark.sparkContext.hadoopConfiguration,
          new org.apache.hadoop.fs.Path(s"$root/${path(l)}")).getBlocks.size
        assert(groups > 1, "each file must span several row groups")
      }
      val key = "spark.sql.parquet.enableVectorizedReader"
      val prior = spark.conf.get(key)
      spark.conf.set(key, vectorized)
      try {
        // a range that parquet's row-group filter narrows to a few groups,
        // then a residual predicate in the second file only
        GraftTable.delete(spark, root, col("id") >= 5000L && col("id") < 5100L)
        GraftTable.delete(spark, root, col("id") > 15000L && col("id") % 7 === 3L)
        val gone = (5000L until 5100L) ++ (15001L until 20000L).filter(_ % 7 == 3)
        assert(ids(GraftTable.read(spark, root)) === (0L until 20000L).diff(gone),
          s"vectorized=$vectorized")
        assert(manifestLines(root, 3).map(path) === manifestLines(root, 1).map(path),
          "a delete writes no data file")
        // files hold 0..9999 and 10000..19999 in order: positions are ids
        // relative to their file's first row
        assert(dvs(root, 3).values.map(_.size).sum === gone.size)
        assert(dvs(root, 3).toSeq.sortBy(_._2.min).map(_._2) === Seq(
          (5000 until 5100).toSet,
          (15001 until 20000).filter(_ % 7 == 3).map(_ - 10000).toSet))
      } finally spark.conf.set(key, prior)
    }
  }

  test("two deletes on one file union their deletion vectors") {
    val root = table(100L, 1)
    GraftTable.delete(spark, root, col("id") < 10L)
    GraftTable.delete(spark, root, col("id") >= 90L)
    val file = path(manifestLines(root, 1).head)
    assert(dvs(root, 2) === Map(file -> (0 until 10).toSet))
    assert(dvs(root, 3) === Map(file -> ((0 until 10) ++ (90 until 100)).toSet))
    assert(manifestLines(root, 3).count(_.contains("\t#dv=")) === 1)
    assert(ids(GraftTable.read(spark, root)) === (10L until 90L))
  }

  test("time travel and restore across versions that only change deletion vectors") {
    val root = table(50L, 1)
    GraftTable.delete(spark, root, col("id") < 20L) // v2
    GraftTable.delete(spark, root, col("id") >= 40L) // v3
    assert(ids(GraftTable.read(spark, root, Some(1))) === (0L until 50L))
    assert(ids(GraftTable.read(spark, root, Some(2))) === (20L until 50L))
    assert(ids(GraftTable.read(spark, root, Some(3))) === (20L until 40L))
    assert(GraftTable.restore(root, 2) === 4)
    assert(manifestLines(root, 4) === manifestLines(root, 2))
    assert(ids(GraftTable.read(spark, root)) === (20L until 50L))
    GraftTable.restore(root, 1)
    assert(ids(GraftTable.read(spark, root)) === (0L until 50L))
    // a delete after the restore starts from the restored vector
    GraftTable.delete(spark, root, col("id") === 7L)
    assert(ids(GraftTable.read(spark, root)) === (0L until 50L).filterNot(_ == 7L))
  }

  test("changes() over deletion-vector versions: exactly the deleted rows, an update as delete + insert") {
    val root = table(20L, 2)
    GraftTable.delete(spark, root, col("id") < 3L) // v2
    GraftTable.delete(spark, root, col("id") === 15L) // v3, the other file
    GraftTable.update(spark, root, col("id") === 10L, Map("v" -> lit(-1L))) // v4
    def delta(a: Int, b: Int): Set[(Long, Long, String)] =
      GraftTable.changes(spark, root, a, b).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(delta(1, 2) === (0L until 3L).map(i => (i, i * 3, "delete")).toSet)
    assert(delta(2, 3) === Set((15L, 45L, "delete")), "only the second delete's rows")
    assert(delta(2, 1) === (0L until 3L).map(i => (i, i * 3, "insert")).toSet)
    assert(delta(3, 4) === Set((10L, 30L, "delete"), (10L, -1L, "insert")))
    assert(delta(1, 4) === ((0L until 3L).map(i => (i, i * 3, "delete")) ++
      Seq((15L, 45L, "delete"), (10L, 30L, "delete"), (10L, -1L, "insert"))).toSet)
    assert(delta(4, 4).isEmpty)
  }

  test("a file whose every row is deleted leaves the manifest; changes, time travel and restore stay exact") {
    val root = table(20L, 2) // files hold 0..9 and 10..19
    val Seq(first, second) = manifestLines(root, 1).map(path)
    assert(manifestLines(root, 1).forall(_.contains("\t#rows=10")))
    GraftTable.delete(spark, root, col("id") < 5L) // v2
    GraftTable.delete(spark, root, col("id") === 12L) // v3
    GraftTable.delete(spark, root, col("id") < 10L) // v4: the rest of the first file
    assert(manifestLines(root, 3).map(path) === Seq(first, second))
    assert(manifestLines(root, 4).map(path) === Seq(second))
    assert(dvs(root, 4) === Map(second -> Set(2)))
    assert(ids(GraftTable.read(spark, root)) === (10L until 20L).filterNot(_ == 12L))
    assert(ids(GraftTable.read(spark, root, Some(3))) === (5L until 20L).filterNot(_ == 12L))
    def delta(a: Int, b: Int): Set[(Long, Long, String)] =
      GraftTable.changes(spark, root, a, b).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(delta(3, 4) === (5L until 10L).map(i => (i, i * 3, "delete")).toSet)
    assert(delta(4, 3) === (5L until 10L).map(i => (i, i * 3, "insert")).toSet)
    assert(delta(1, 4) === ((0L until 10L) :+ 12L).map(i => (i, i * 3, "delete")).toSet)
    assert(GraftTable.restore(root, 2) === 5)
    assert(manifestLines(root, 5) === manifestLines(root, 2))
    assert(ids(GraftTable.read(spark, root)) === (5L until 20L))
  }

  test("compact folds deletion vectors, a single file's included") {
    // one file: below target but alone, it is rewritten for its vector
    val root = table(100L, 1)
    GraftTable.delete(spark, root, col("id") % 10 === 0L)
    val before = GraftTable.read(spark, root).collect().map(_.toString).sorted
    assert(GraftTable.compact(spark, root, 128L << 20) === 3)
    assert(!manifestLines(root, 3).exists(_.contains("#dv=")))
    assert(GraftTable.read(spark, root).collect().map(_.toString).sorted === before)
    assert(GraftTable.compact(spark, root, 128L << 20) === 3, "nothing left to fold")
    // every file at or above target: only the one with a vector is rewritten
    val two = table(100L, 2)
    GraftTable.delete(spark, two, col("id") === 70L)
    val untouched = manifestLines(two, 2).filterNot(_.contains("#dv="))
    assert(untouched.size === 1)
    assert(GraftTable.compact(spark, two, 1L) === 3)
    val after = manifestLines(two, 3)
    assert(after.size === 2 && after.contains(untouched.head) && !after.exists(_.contains("#dv=")))
    assert(ids(GraftTable.read(spark, two)) === (0L until 100L).filterNot(_ == 70L))
  }

  test("vacuum keeps a file the current version references through its deletion vector") {
    val root = table(30L, 1)
    GraftTable.delete(spark, root, col("id") < 5L)
    assert(GraftTable.vacuum(root, keepVersions = 1) === 0)
    assert(ids(GraftTable.read(spark, root)) === (5L until 30L))
  }

  test("a column literally named #dv keeps its stats") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.range(0, 40, 1, 1)
      .select(col("id").as("k"), (col("id") + 1000).as("#dv"))
      .repartitionByRange(2, col("k")))
    GraftTable.delete(spark, root, col("k") === 3L)
    val lines = manifestLines(root, 2)
    assert(lines.forall(_.contains("\t%23dv=")), "the column's stats field survives")
    assert(lines.count(_.contains("\t#dv=")) === 1)
    assert(GraftTable.candidateEntries(root, col("#dv") === 1001L).size === 1,
      "its stats still prune")
    assert(GraftTable.read(spark, root).filter(col("#dv") === 1003L).count() === 0)
    assert(GraftTable.read(spark, root).count() === 39)
  }

  test("an update with a nondeterministic predicate keeps the row count exact") {
    val root = table(1000L, 2)
    GraftTable.update(spark, root, rand(7) < 0.5, Map("v" -> lit(-1L)))
    val rows = GraftTable.read(spark, root).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._1).sorted.toSeq === (0L until 1000L), "every id exactly once")
    val marked = dvs(root, 2).values.map(_.size).sum
    assert(marked > 0 && rows.count(_._2 == -1L) === marked,
      "the rewritten rows are exactly the marked ones")
  }

  test("merge marks matched rows, repeated target keys included, and appends one file") {
    val root = freshRoot()
    GraftTable.create(spark, root, spark.createDataFrame(Seq(
      (1L, "a"), (1L, "a2"), (2L, "b"), (3L, "c"))).toDF("k", "s").coalesce(1))
    GraftTable.merge(spark, root,
      spark.createDataFrame(Seq((1L, "A"), (4L, "D"))).toDF("k", "s"), Seq("k"))
    val rows = GraftTable.read(spark, root).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.sorted.toSeq === Seq((1L, "A"), (1L, "A"), (2L, "b"), (3L, "c"), (4L, "D")))
    val (v1, v2) = (manifestLines(root, 1), manifestLines(root, 2))
    assert(v2.size === v1.size + 1, "matched and inserted rows land in one new file")
    assert(dvs(root, 2).values.head.size === 2)
  }
}
