package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `olap_tpch`: the 22 TPC-H query texts (`perfbench/tpch`), each op one
  * query through `DuckDialect.translate` → `spark.sql` → `collect` over
  * the committed `fixtures/tpch/sf0.01` parquet. Each pass runs all 22 in
  * a seeded order. The first result of every query is kept for the
  * DuckDB comparison; later passes must reproduce it exactly. */
final class Olap(spark: SparkSession, root: String, probe: Probe,
    rng: scala.util.Random) extends Workload {
  private val dir = s"$root/fixtures/tpch/sf0.01"
  private val texts: Seq[(String, String)] = (1 to 22).map { n =>
    val raw = new String(Files.readAllBytes(
      Paths.get(f"$root/perfbench/tpch/q$n%02d.sql")), "UTF-8")
    f"q$n%02d" -> raw.trim.stripSuffix(";")
  }
  private val first = mutable.LinkedHashMap.empty[String, Map[String, Any]]

  def prepare(): Unit = {
    graft.Tables.clearCaches()
    graft.sql.TpchVerbatim.tables.foreach(t =>
      graft.Tables.registerView(spark, t, graft.Tables.t(spark, dir, t)))
  }

  private def runQuery(opId: Int, text: String): (StructType, Array[Row]) = {
    val sparkSql = probe.child(opId, "sql.translate")(graft.sql.DuckDialect.translate(text))
    val df = probe.child(opId, "build")(spark.sql(sparkSql))
    val rows = probe.child(opId, "action")(df.collect())
    (df.schema, rows)
  }

  /** One untimed pass in query order: measured passes run warm. */
  def warm(): Unit = texts.foreach { case (_, text) => runQuery(-1, text) }

  def pass(): Iterator[OpDef] = rng.shuffle(texts).iterator.map { case (name, text) =>
    OpDef("query", name, id => runQuery(id, text), {
      case (schema: StructType, rows: Array[Row] @unchecked) =>
        val rendered = Olap.render(schema, rows)
        first.get(name) match {
          case None => first(name) = rendered; None
          case Some(prev) if prev == rendered => None
          case Some(_) => Some(s"$name: result differs from its first run")
        }
    })
  }

  def report(): Map[String, Any] = Map("results" -> first.toMap)
}

object Olap {
  /** Column names, Spark type names and rows, in a form the DuckDB side
    * can compare value by value. Dates and timestamps render as ISO text. */
  def render(schema: StructType, rows: Array[Row]): Map[String, Any] = Map(
    "columns" -> schema.fieldNames.toList,
    "types" -> schema.fields.map(_.dataType.typeName).toList,
    "rows" -> rows.toList.map(_.toSeq.toList.map {
      case null => null
      case d: java.math.BigDecimal => d.toPlainString
      case d: java.sql.Date => d.toString
      case t: java.sql.Timestamp => t.toString
      case v => v
    }))
}
