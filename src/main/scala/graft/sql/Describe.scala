package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** DuckDB `DESCRIBE` statement front-end (reference:
  * `src/parser/transform/statement/transform_show.cpp` — DESCRIBE/SHOW
  * expand to a schema projection). Output schema mirrors DuckDB 1.0.0
  * verbatim: (column_name, column_type, "null", key, default, extra) —
  * parquet-backed relations have no constraints, so `null` is 'YES' and
  * key/default/extra are NULL on both engines, making DuckDB's NATIVE
  * DESCRIBE the oracle. Pure metadata: no scan, no job — the answer
  * comes from the resolved schema. */
object Describe {

  def run(spark: SparkSession, dir: String, stmt: String): DataFrame = {
    val trimmed = stmt.trim
    require(trimmed.toLowerCase.startsWith("describe"),
      s"not a DESCRIBE statement: $stmt")
    val rest = trimmed.drop("describe".length).trim.stripSuffix(";").trim
    val headWord = rest.takeWhile(c => c.isLetter || c == '_').toLowerCase
    val inner =
      if (headWord == "select" || headWord == "with" || rest.startsWith("("))
        rest
      else s"SELECT * FROM $rest"
    val schema = Tables.sql(spark, dir, DuckDialect.translateIn(spark, inner)).schema
    import spark.implicits._
    schema.fields.toIndexedSeq
      .map(f => (f.name, Summarize.duckTypeName(f.dataType), "YES",
        Option.empty[String], Option.empty[String], Option.empty[String]))
      .toDF("column_name", "column_type", "null", "key", "default", "extra")
  }
}
