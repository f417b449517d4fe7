package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.Tables

/** DuckDB `SUMMARIZE` statement front-end (reference:
  * `src/parser/transform/statement/transform_show.cpp` — the parser
  * expands SUMMARIZE into a per-column aggregate over the summarized
  * relation; output schema per DuckDB 1.0.0: column_name, column_type,
  * min, max, approx_unique, avg, std, q25, q50, q75, count,
  * null_percentage).
  *
  * Spark-first expansion: ONE pass over the source builds a single wide
  * aggregate row (min/max/distinct/non-null count per column, plus
  * avg/std/quantiles for numeric columns), then `stack` explodes it to
  * one output row per column — no per-column rescan, so the statement
  * costs one scan + one (tiny) exchange regardless of column count.
  *
  * Fidelity notes: `approx_unique` is computed EXACTLY here (a legal
  * tightening — DuckDB uses HLL, whose counts are engine-specific
  * anyway); quantiles are exact interpolated percentiles where DuckDB's
  * SUMMARIZE uses `approx_quantile`. At 100 TB swap `count(DISTINCT)` →
  * `approx_count_distinct` and `percentile` → `percentile_approx` — the
  * output schema is unchanged; the exact forms are kept because they are
  * oracle-checkable value-for-value. avg/std/quantiles are rounded to 6
  * decimals (the repo-wide float-compare convention, see Aggregates
  * `agg_stats`). min/max render as strings so heterogeneous column types
  * share one output column; extreme doubles may format differently than
  * DuckDB renders them (E-notation thresholds differ) — documented
  * divergence.
  */
object Summarize {

  /** Execute a full `SUMMARIZE ...` statement against the fixture
    * catalog at `dir`. Accepts both DuckDB forms: `SUMMARIZE <table>`
    * and `SUMMARIZE SELECT ...`. */
  def run(spark: SparkSession, dir: String, stmt: String): DataFrame = {
    val trimmed = stmt.trim
    require(trimmed.toLowerCase.startsWith("summarize"),
      s"not a SUMMARIZE statement: $stmt")
    val rest = trimmed.drop("summarize".length).trim
    val headWord = rest.takeWhile(c => c.isLetter || c == '_').toLowerCase
    val inner =
      if (headWord == "select" || headWord == "with" || headWord == "from" ||
          headWord == "values" || rest.startsWith("("))
        rest
      else s"SELECT * FROM $rest"
    summarize(Tables.sql(spark, dir, DuckDialect.translateIn(spark, inner)))
  }

  /** Spark type → the DuckDB type name SUMMARIZE would print. */
  private[sql] def duckTypeName(dt: DataType): String = dt match {
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    // Both Spark timestamp types print TIMESTAMP, deliberately: the
    // fixture parquet carries isAdjustedToUTC=false (DuckDB: TIMESTAMP),
    // which Tables.t normalizes to Spark's session-zone TimestampType —
    // so on every DESCRIBE-able relation here, TimestampType IS DuckDB's
    // TIMESTAMP (pinned by the ducksql_describe oracle on events.ts;
    // printing WITH TIME ZONE would break that parity). Spark has no
    // third type to represent DuckDB's TIMESTAMPTZ distinctly — a true
    // TIMESTAMPTZ source would need a side-channel marker, which no
    // fixture or GraftTable surface produces.
    case _: TimestampType => "TIMESTAMP"
    case _: TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case ArrayType(e, _) => duckTypeName(e) + "[]"
    case other => other.sql
  }

  private def q(name: String): String = "`" + name.replace("`", "``") + "`"
  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The per-column summary of an arbitrary DataFrame (one scan). */
  def summarize(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    require(fields.nonEmpty, "SUMMARIZE of a zero-column relation")
    val aggExprs = scala.collection.mutable.ArrayBuffer.empty[String]
    fields.zipWithIndex.foreach { case (f, i) =>
      val c = q(f.name)
      aggExprs += s"CAST(min($c) AS STRING) AS min_$i"
      aggExprs += s"CAST(max($c) AS STRING) AS max_$i"
      aggExprs += s"count(DISTINCT $c) AS uniq_$i"
      aggExprs += s"count($c) AS nn_$i"
      if (f.dataType.isInstanceOf[NumericType]) {
        aggExprs += s"CAST(round(avg($c), 6) AS DOUBLE) AS avg_$i"
        aggExprs += s"CAST(round(stddev_samp($c), 6) AS DOUBLE) AS std_$i"
        aggExprs += s"CAST(round(percentile($c, 0.25), 6) AS DOUBLE) AS q25_$i"
        aggExprs += s"CAST(round(percentile($c, 0.50), 6) AS DOUBLE) AS q50_$i"
        aggExprs += s"CAST(round(percentile($c, 0.75), 6) AS DOUBLE) AS q75_$i"
      }
    }
    aggExprs += "count(*) AS total"
    val agg = df.selectExpr(fields.map(f => q(f.name)).toIndexedSeq: _*)
      .agg(org.apache.spark.sql.functions.expr(aggExprs.head),
        aggExprs.tail.map(org.apache.spark.sql.functions.expr).toIndexedSeq: _*)
    val rows = fields.zipWithIndex.map { case (f, i) =>
      val num = f.dataType.isInstanceOf[NumericType]
      def n(p: String) = if (num) s"${p}_$i" else "CAST(NULL AS DOUBLE)"
      Seq(sq(f.name), sq(duckTypeName(f.dataType)), s"min_$i", s"max_$i",
        s"uniq_$i", n("avg"), n("std"), n("q25"), n("q50"), n("q75"),
        s"nn_$i").mkString(", ")
    }
    val stack =
      s"stack(${fields.length}, ${rows.mkString(", ")}) AS " +
        "(column_name, column_type, `min`, `max`, approx_unique, " +
        "avg, std, q25, q50, q75, __nn)"
    agg.selectExpr(stack, "total")
      .selectExpr("column_name", "column_type", "`min`", "`max`",
        "approx_unique", "avg", "std", "q25", "q50", "q75",
        "CAST(total AS BIGINT) AS count",
        // nullif guards the empty relation (ANSI division by zero);
        // DuckDB's SUMMARIZE likewise reports NULL there
        "CAST(round((total - __nn) * 100.0 / nullif(total, 0), 2) AS DOUBLE) " +
          "AS null_percentage")
  }
}
