package graft.compaction

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Compaction as a query-visible operator: results are identical to the
  * uncompacted plan (pure re-bucketing) — the oracle checks exactly that —
  * while the partition layout collapses from fragment-per-input-split to
  * size-targeted chunks.
  */
object CompactionQueries extends graft.EntryModule {

  /** Selective filter (≈0.5% pass) → compact → aggregate. Oracle-equal to
    * the plain filter+aggregate; the compaction sits between filter and
    * aggregate exactly where the reference's CompactingPhysicalOperator
    * sits after PhysicalFilter (reference `physical_filter.hpp:19`). */
  def compactFilter(s: SparkSession, dir: String): DataFrame = {
    val selective = Tables.t(s, dir, "lineitem")
      .filter(col("l_quantity") > 49 && col("l_discount") > 0.08)
    val compacted = Compact.bySize(selective, targetBytes = 4L << 20)
    compacted.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("total"))
  }

  val compactFilterSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM lineitem WHERE l_quantity > 49 AND l_discount > 0.08
      |GROUP BY l_returnflag""".stripMargin

  /** Partition-layout evidence (rows-only: layout is engine-specific):
    * fragment count before/after compacting the same selective filter. */
  def compactStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val selective = Tables.t(s, dir, "lineitem")
      .filter(col("l_quantity") > 49 && col("l_discount") > 0.08)
    val before = selective.rdd.getNumPartitions
    val compacted = Compact.bySize(selective, targetBytes = 4L << 20)
    val after = compacted.rdd.getNumPartitions
    val rows = selective.count()
    Seq((before, after, rows)).toDF("partitions_before", "partitions_after", "n_rows")
  }

  /** The oracle-checkable half of compactStats: the row count (compaction
    * is a pure re-bucketing, so it must match any engine) plus the layout
    * invariant — compaction never increases fragment count — asserted as
    * a boolean both engines state. */
  def compactStatsRows(s: SparkSession, dir: String): DataFrame = {
    val selective = Tables.t(s, dir, "lineitem")
      .filter(col("l_quantity") > 49 && col("l_discount") > 0.08)
    val before = selective.rdd.getNumPartitions
    val after = Compact.bySize(selective, targetBytes = 4L << 20).rdd.getNumPartitions
    selective.agg(count(lit(1)).as("n_rows"))
      .withColumn("not_fragmented", lit(after <= before))
  }

  val compactStatsRowsSql: String =
    """SELECT count(*) AS n_rows, true AS not_fragmented
      |FROM lineitem WHERE l_quantity > 49 AND l_discount > 0.08""".stripMargin

  /** Compressed materialization (reference
    * `src/optimizer/compressed_materialization.cpp`): the composite
    * (l_partkey, l_suppkey) group key is bit-packed into ONE long before
    * the aggregation's exchange and unpacked after — the oracle groups by
    * the plain columns, proving the packed plan is semantically
    * transparent. See `plans/CompressedMaterialization.scala`. */
  def compressPackAgg(s: SparkSession, dir: String): DataFrame =
    // auto variant: stats-gated offset packing with plain-groupBy
    // fallback — at fixture scale the keys pack; on 10×-inflated (sparse
    // >32-bit) keys the gate falls back instead of aborting (round-9
    // sf1-scale sweep finding)
    graft.plans.CompressedMaterialization.groupByPackedAuto(
      Tables.t(s, dir, "lineitem"),
      "l_partkey", "l_suppkey",
      Seq(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty")))

  val compressPackAggSql: String =
    """SELECT l_partkey, l_suppkey, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY l_partkey, l_suppkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "compact_filter" -> (compactFilter _),
    "compact_stats" -> (compactStats _),
    "compact_stats_rows" -> (compactStatsRows _),
    "compress_pack_agg" -> (compressPackAgg _))

  val oracle: Map[String, String] = Map(
    "compact_filter" -> compactFilterSql,
    "compact_stats_rows" -> compactStatsRowsSql,
    "compress_pack_agg" -> compressPackAggSql)
}
