package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.GraftTable

/** `dml`: a seeded stream of `GraftTable` operations on a lineitem table
  * created from `fixtures/tpch/sf0.01` as the fixture is (one file, in
  * `l_orderkey` order, as dbgen writes it). A pass is `RoundsPerPass`
  * rounds, each one op of every kind in `Kinds` in a seeded order,
  * followed by one `GraftTable.compact`. The write batches are TPC-H's
  * refresh batches (`RefreshOrders` orders); the range read is TPC-H Q6
  * with the specification's substitution parameters.
  *
  * Ops are built one at a time, right before they run, so each picks its
  * keys and expected rows from the model as the ops before it left it.
  *
  * An in-memory model of the table (rows by order key) is the expected
  * state: after every op, untimed, the rows the op read or touched are
  * compared with the model. An op whose result differs is failed, and a
  * failed write is undone with `GraftTable.restore`, so later ops start
  * from the expected state. At the end the log of successful ops is
  * replayed on plain DataFrames and compared with the table. */
final class Dml(spark: SparkSession, root: String, work: String, probe: Probe,
    rng: scala.util.Random) extends Workload {
  import Dml._

  private val source = graft.Tables.t(spark, s"$root/fixtures/tpch/sf0.01", "lineitem")
  private val schema: StructType = source.schema
  private var table = ""
  private var round = 0
  private var bytesPerRow = 0.0
  private val model = mutable.LinkedHashMap.empty[Long, Vector[Row]]
  private var nextOrder = 0L
  /** The fixture's highest order key: RF2-style deletes take the lowest
    * live keys up to it. */
  private var fixtureMaxOrder = 0L
  /** Successful writes, in order, as DataFrame transformations. */
  private val log = mutable.ArrayBuffer.empty[DataFrame => DataFrame]
  private var userBytes = 0.0
  private var bytesAtStart = -1L
  /** Live files each read scanned. */
  private val readFiles = mutable.ArrayBuffer.empty[Int]

  def prepare(): Unit = {
    round += 1
    table = s"$work/lineitem_$round"
    GraftTable.create(spark, table, source)
  }

  private def dataBytes(): Long = {
    val d = Paths.get(table, "data")
    if (!Files.isDirectory(d)) 0L
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
      finally s.close()
    }
  }

  private def liveFiles(): Seq[String] =
    Files.readAllLines(Paths.get(table, "_manifests",
      s"v${GraftTable.currentVersion(table)}.manifest")).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.takeWhile(_ != '\t'))

  private def liveBytes(): Long =
    liveFiles().map(f => Files.size(Paths.get(table, f))).sum

  /** Loads the model from the last prepared table and runs one op of
    * every kind on a throwaway copy of its state, untimed. */
  def warm(): Unit = {
    source.collect().foreach { r =>
      val k = r.getLong(0)
      model(k) = model.getOrElse(k, Vector.empty) :+ r
    }
    fixtureMaxOrder = model.keys.max
    nextOrder = fixtureMaxOrder
    bytesPerRow = liveBytes().toDouble / model.valuesIterator.map(_.size).sum
    val version = GraftTable.currentVersion(table)
    val saved = model.clone()
    val savedNext = nextOrder
    Kinds.foreach(k => runUntimed(opFor(k)))
    runUntimed(compactOp())
    GraftTable.restore(table, version)
    model.clear(); model ++= saved
    nextOrder = savedNext
    log.clear()
    userBytes = 0
    readFiles.clear()
  }

  private def runUntimed(d: OpDef): Unit = {
    val v = scala.util.Try(d.run(-1)).get
    d.verify(v).foreach(e => System.err.println(s"[perfbench] warm-up ${d.name}: $e"))
  }

  def pass(): Iterator[OpDef] = {
    if (bytesAtStart < 0) bytesAtStart = dataBytes()
    Iterator.range(0, RoundsPerPass).flatMap(_ =>
      rng.shuffle(Kinds).iterator.map(opFor) ++ Iterator.single(compactOp()))
  }

  private def existingKey(): Long = model.keysIterator.drop(rng.nextInt(model.size)).next()

  /** `n` distinct live order keys, seeded. */
  private def existingKeys(n: Int): Vector[Long] =
    Iterator.continually(existingKey()).distinct.take(math.min(n, model.size)).toVector

  private def genRow(order: Long, line: Long): Row = {
    val ship = java.time.LocalDate.of(1992, 1, 2).plusDays(rng.nextInt(2400).toLong)
    val qty = (1 + rng.nextInt(50)).toDouble
    Row(order, 1L + rng.nextInt(2000), 1L + rng.nextInt(100), line, qty,
      math.rint(qty * (900 + rng.nextInt(1100)) * 100) / 100,
      rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
      Seq("A", "N", "R")(rng.nextInt(3)), Seq("O", "F")(rng.nextInt(2)),
      java.sql.Date.valueOf(ship), java.sql.Date.valueOf(ship.plusDays(30)),
      java.sql.Date.valueOf(ship.plusDays(15)), "DELIVER IN PERSON", "RAIL",
      s"perfbench ${rng.nextInt(1 << 20)}")
  }

  private def df(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** A write op: runs `write`, then reads back `keys` and compares them
    * with `expected` (the model's rows for those keys afterwards). On a
    * match the model and the replay log take the change; otherwise the
    * table is restored to the version before the op. */
  private def writeOp(kind: String, keys: Seq[Long], userRows: Int,
      expected: Map[Long, Vector[Row]], replay: DataFrame => DataFrame)(
      write: => Unit): OpDef = {
    var before = 0
    OpDef(kind, kind, { id =>
      before = GraftTable.currentVersion(table)
      probe.child(id, "sources")(write)
    }, { _ =>
      val got = scala.util.Try(GraftTable.read(spark, table)
        .filter(col("l_orderkey").isin(keys: _*)).collect().toSeq)
      val want = keys.flatMap(k => expected.getOrElse(k, Vector.empty))
      val error = got match {
        case scala.util.Failure(e) => Some(s"read-back failed: ${e.getMessage.take(300)}")
        case scala.util.Success(rows) if sameRows(rows, want) => None
        case scala.util.Success(rows) =>
          val (g, w) = (rows.map(_.toString), want.map(_.toString))
          Some(s"read-back of orders ${keys.mkString(",")} differs: " +
            s"${rows.size} rows vs ${want.size} expected; " +
            s"unexpected ${g.diff(w).sorted.headOption.getOrElse("-")}, " +
            s"missing ${w.diff(g).sorted.headOption.getOrElse("-")}")
      }
      error match {
        case None =>
          keys.foreach(k => expected.get(k) match {
            case Some(rs) if rs.nonEmpty => model(k) = rs
            case _ => model.remove(k)
          })
          log += replay
          userBytes += userRows * bytesPerRow
        case Some(_) =>
          if (GraftTable.currentVersion(table) != before) GraftTable.restore(table, before)
      }
      error
    })
  }

  private def opFor(kind: String): OpDef = {
    kind match {
      case "insert" =>
        // RF1: new orders of 1-7 lines each
        val orders = (1 to RefreshOrders).map { _ => nextOrder += 1; nextOrder }
        val rows = orders.map(o => o -> (1L to (1 + rng.nextInt(7)).toLong).map(genRow(o, _)).toVector)
        val all = rows.flatMap(_._2)
        writeOp("insert", orders, all.size, rows.toMap, _.unionByName(df(all))) {
          GraftTable.insert(spark, table, df(all))
        }
      case "update" =>
        val ks = existingKeys(RefreshOrders)
        val want = ks.map(k => k -> model(k).map(r => Row.fromSeq(r.toSeq
          .updated(4, r.getDouble(4) + 1).updated(15, "perfbench update")))).toMap
        val pred = col("l_orderkey").isin(ks: _*)
        val set = Map("l_quantity" -> (col("l_quantity") + 1), "l_comment" -> lit("perfbench update"))
        writeOp("update", ks, ks.map(model(_).size).sum, want, m =>
          m.select(schema.fieldNames.toIndexedSeq.map(c => set.get(c)
            .map(e => when(pred, e).otherwise(col(c)).as(c)).getOrElse(col(c))): _*)) {
          GraftTable.update(spark, table, pred, set)
        }
      case "delete" =>
        // RF2: the oldest orders still live, lowest keys first, as dbgen's
        // delete sets take them
        val ks = model.keysIterator.filter(_ <= fixtureMaxOrder).toVector.sorted.take(RefreshOrders)
        val pred = col("l_orderkey").isin(ks: _*)
        writeOp("delete", ks, ks.map(model(_).size).sum, Map.empty, _.filter(!pred)) {
          GraftTable.delete(spark, table, pred)
        }
      case "merge" =>
        // natural-key upsert: every existing line of each order changes,
        // and one new line is added to it
        val ks = existingKeys(RefreshOrders)
        val after = ks.map { k =>
          val old = model(k)
          k -> (old.map(r => Row.fromSeq(r.toSeq.updated(4, r.getDouble(4) + 2)
            .updated(15, "perfbench merge"))) :+ genRow(k, old.map(_.getLong(3)).max + 1))
        }.toMap
        val src = ks.flatMap(after)
        val keyCols = Seq("l_orderkey", "l_linenumber")
        writeOp("merge", ks, src.size, after, m =>
          m.join(df(src).select(keyCols.map(col): _*), keyCols, "left_anti")
            .select(schema.fieldNames.toIndexedSeq.map(col): _*).unionByName(df(src))) {
          GraftTable.merge(spark, table, df(src), keyCols)
        }
      case "point_read" =>
        val k = existingKey()
        OpDef("point_read", "point_read",
          id => sqlRead(id, s"SELECT * FROM $View WHERE l_orderkey = $k").toSeq, {
          case rows: Seq[Row @unchecked] if sameRows(rows, model(k)) => None
          case rows: Seq[Row @unchecked] =>
            Some(s"point read of order $k: ${rows.size} rows vs ${model(k).size} expected")
        })
      case "range_read" =>
        // TPC-H Q6 (tpch/q06.sql) with its substitution parameters: DATE the
        // first of January of a year in [1993, 1997], DISCOUNT in
        // [0.02, 0.09], QUANTITY in [24, 25]
        val year = 1993 + rng.nextInt(5)
        val discount = BigDecimal(2 + rng.nextInt(8), 2)
        val quantity = 24 + rng.nextInt(2)
        val (lo, hi) = (discount - BigDecimal("0.01"), discount + BigDecimal("0.01"))
        OpDef("range_read", "range_read", id => sqlRead(id,
          s"SELECT sum(l_extendedprice * l_discount) AS revenue FROM $View " +
            s"WHERE l_shipdate >= CAST('$year-01-01' AS date) " +
            s"AND l_shipdate < CAST('${year + 1}-01-01' AS date) " +
            s"AND l_discount BETWEEN $lo AND $hi AND l_quantity < $quantity").head, {
          case r: Row =>
            val want = model.valuesIterator.flatten.filter { m =>
              val d = m.getDate(10).toLocalDate
              d.getYear == year && m.getDouble(6) >= lo.toDouble &&
                m.getDouble(6) <= hi.toDouble && m.getDouble(4) < quantity
            }.map(m => m.getDouble(5) * m.getDouble(6)).sum
            val got = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
            if (math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))) None
            else Some(s"Q6 year $year discount $discount quantity $quantity: revenue $got vs $want")
        })
    }
  }

  /** A read: DuckDB SQL over the current snapshot, registered as a view. */
  private def sqlRead(opId: Int, text: String): Array[Row] = {
    readFiles += liveFiles().size
    val sparkSql = probe.child(opId, "sql.translate")(graft.sql.DuckDialect.translate(text))
    val df = probe.child(opId, "build") {
      GraftTable.read(spark, table).createOrReplaceTempView(View)
      spark.sql(sparkSql)
    }
    probe.child(opId, "action")(df.collect())
  }

  private def compactOp(): OpDef = OpDef("compact", "compact",
    id => probe.child(id, "sources")(GraftTable.compact(spark, table, CompactTargetBytes)))

  def report(): Map[String, Any] = {
    val live = liveBytes()
    val rows = model.valuesIterator.map(_.size).sum
    val replayed = log.foldLeft(source)((m, f) => f(m))
    val (wantRows, wantHash) = rowsHash(replayed)
    val (gotRows, gotHash) = rowsHash(GraftTable.read(spark, table))
    Map(
      "files_live" -> liveFiles().size,
      "bytes_written" -> (dataBytes() - math.max(0L, bytesAtStart)),
      "user_bytes" -> userBytes,
      "files_read_per_read" -> (if (readFiles.isEmpty) 0.0 else readFiles.sum.toDouble / readFiles.size),
      "live_bytes" -> live,
      "space_amp" -> live / (rows * bytesPerRow),
      "replayed_ops" -> log.size,
      "replay" -> Map("rows" -> wantRows, "hash" -> wantHash),
      "table" -> Map("rows" -> gotRows, "hash" -> gotHash),
      "model_rows" -> rows)
  }
}

object Dml {
  val View = "perfbench_lineitem"
  /** The ops of one round before its compaction, run in a seeded order.
    * No published workload mixes these kinds, so each has the same weight
    * and the same number of samples. */
  val Kinds: Seq[String] = Seq("point_read", "range_read", "insert", "update", "delete", "merge")
  val RoundsPerPass = 4
  /** Orders per write: TPC-H's refresh batch, SF × 1500 orders, at sf0.01.
    * Updates and MERGEs take batches of the same size. */
  val RefreshOrders = 15
  /** The compaction target of the engine's `CHECKPOINT <table>`. */
  val CompactTargetBytes: Long = 128L << 20

  /** Multiset equality of rows, by their rendered values. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.map(_.toString).sorted == b.map(_.toString).sorted

  /** Order-insensitive content hash: md5 of each row's rendering, the
    * 60-bit prefixes summed in DECIMAL(38,0). Returns (rows, hash). */
  def rowsHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toIndexedSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val h = df.select(conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 15), 16, 10)
      .cast("decimal(38,0)").as("h"))
    val r = h.agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.toString(16)).getOrElse("empty"))
  }
}
