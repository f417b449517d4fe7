package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scale-path join recipes for shapes where a naive plan degrades at
  * 100 TB:
  *
  *  - `bandJoin`: interval/band predicates (|a.x − b.x| ≤ w) — the common
  *    special case of the reference's IEJoin (reference
  *    `physical_iejoin.cpp`) — as a bucketed equi-join: each left row maps
  *    to its bucket, each right row to its bucket and both neighbors, the
  *    join runs on bucket equality (a shuffle, not a cross product), and
  *    the exact predicate filters the ≤3-bucket candidate set. O(n·k)
  *    instead of O(n²).
  *
  *  - `saltedJoin`: hot-key skew — the build side is replicated `salt`
  *    ways, the probe side scatters uniformly across replicas, restoring
  *    parallel balance (the AQE skew-join fallback for when runtime stats
  *    arrive too late, e.g. under a single straggler key).
  */
object ScaleJoins extends graft.EntryModule {

  /** Equi-band join: rows (l, r) with l.key === r.key (optional) and
    * |l.x − r.x| ≤ width. `leftX`/`rightX` must be numeric (µs for
    * timestamps). */
  def bandJoin(left: DataFrame, right: DataFrame,
      leftX: Column, rightX: Column, width: Long,
      extraCond: Column = lit(true)): DataFrame = {
    val lb = left.withColumn("_bucket", floor(leftX / width))
    val rb = right.withColumn("_b0", floor(rightX / width))
      .withColumn("_bucket", explode(array(col("_b0") - 1, col("_b0"), col("_b0") + 1)))
      .drop("_b0")
    lb.join(rb, lb("_bucket") === rb("_bucket") &&
        abs(leftX - rightX) <= width && extraCond)
      .drop("_bucket")
  }

  /** Salted equi-join for skewed keys: build side × salt replicas, probe
    * side scattered by deterministic hash-salt. The salt hashes the
    * probe row's REAL columns (not `monotonically_increasing_id`, which
    * is partition-layout-dependent: an AQE re-plan would reassign salts
    * and change per-task balance between runs) — rows of a hot key
    * scatter by their non-key attributes, identically on every layout. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      salt: Int): DataFrame = {
    val salted = probe.withColumn("_salt",
      pmod(xxhash64(probe.columns.toIndexedSeq.map(col): _*), lit(salt)))
    val replicated = build.withColumn("_salt", explode(array((0 until salt).map(lit(_)): _*)))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Column inequality from its operator spelling (shared with specs). */
  def cmp(a: Column, op: String, b: Column): Column = op match {
    case "<" => a < b
    case "<=" => a <= b
    case ">" => a > b
    case ">=" => a >= b
  }

  /** Distributed IEJoin — 2-predicate inequality join where NEITHER side
    * broadcasts (the regime the reference handles with global sorted
    * staging, reference `src/execution/operator/join/physical_iejoin.cpp`;
    * algorithm: Khayyat et al., VLDB'15 §6 distributed variant).
    *
    * Both sides are range-partitioned on the first inequality key by
    * quantile boundaries sampled from X; the feasible (xBlock, yBlock)
    * pairs — triangular under opA, pruned further by per-block min/max
    * envelopes of the SECOND key — become the shuffle key of a plain
    * equi-join whose residual condition applies both inequalities.
    *
    * Scale properties: data shuffles at ≤ (feasible pairs per block)×
    * inflation (≈ B/2 worst case, typically far less after envelope
    * pruning); no task holds more than (|X|/B)·(|Y|/B) candidate work; the
    * only driver-side materialization is O(B) block STATISTICS (quantile
    * boundaries + envelopes), never data rows. Key columns must be
    * numeric-castable (use unix_micros for timestamps) and column names on
    * the two sides must be disjoint.
    */
  def ieJoinBlocked(x: DataFrame, y: DataFrame,
      xa: String, ya: String, opA: String,
      xb: String, yb: String, opB: String,
      blocks: Int = 32): DataFrame = {
    require(Set("<", "<=", ">", ">=")(opA) && Set("<", "<=", ">", ">=")(opB),
      s"unsupported inequality ops $opA/$opB")
    val spark = x.sparkSession
    // 1. Shared range boundaries on the first key (sampled statistics).
    val probs = (1 until blocks).map(_.toDouble / blocks).toArray
    val bounds = x.select(col(xa).cast("double").as(xa))
      .stat.approxQuantile(xa, probs, 0.001).distinct.sorted
    def blk(c: Column): Column =
      bounds.map(t => when(c.cast("double") >= lit(t), 1).otherwise(0))
        .reduceOption(_ + _).getOrElse(lit(0))
    val xB = x.withColumn("_xblk", blk(col(xa)))
    val yB = y.withColumn("_yblk", blk(col(ya)))
    // 2. Per-block second-key envelopes for pair pruning (O(blocks) rows).
    def envelope(df: DataFrame, blkCol: String, key: String): Map[Int, (Double, Double)] =
      df.groupBy(col(blkCol)).agg(
          min(col(key).cast("double")).as("mn"), max(col(key).cast("double")).as("mx"))
        .collect().filter(r => !r.isNullAt(1) && !r.isNullAt(2))
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val xEnv = envelope(xB, "_xblk", xb)
    val yEnv = envelope(yB, "_yblk", yb)
    val feasible = for {
      (i, (xbMin, xbMax)) <- xEnv.toSeq
      (j, (ybMin, ybMax)) <- yEnv.toSeq
      if (opA match { case "<" | "<=" => j >= i; case _ => j <= i })
      if (opB match {
        case ">" => xbMax > ybMin
        case ">=" => xbMax >= ybMin
        case "<" => xbMin < ybMax
        case "<=" => xbMin <= ybMax
      })
    } yield (i, j)
    import spark.implicits._
    val pairDf = feasible.toDF("_pi", "_pj")
    // 3. Block-pair equi-join; the tiny pair list broadcasts (statistics,
    //    not data), the Y side arrives by shuffle on its block id.
    xB.join(broadcast(pairDf), col("_xblk") === col("_pi"))
      .join(yB, col("_pj") === col("_yblk") &&
        cmp(col(xa), opA, col(ya)) && cmp(col(xb), opB, col(yb)))
      .drop("_xblk", "_yblk", "_pi", "_pj")
  }

  /** Oracle-checked distributed-IEJoin query: same-quarter order pairs
    * where the earlier order out-prices the later one — both sides are the
    * same fact table (nothing broadcastable at scale). */
  def joinRangeBig(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-03-01").cast("timestamp"))
    val x = base.select(col("o_orderpriority"),
      unix_micros(col("o_orderdate").cast("timestamp")).cast("double").as("a1"),
      col("o_totalprice").as("b1"))
    val y = base.select(
      unix_micros(col("o_orderdate").cast("timestamp")).cast("double").as("a2"),
      col("o_totalprice").as("b2"))
    ieJoinBlocked(x, y, "a1", "a2", "<", "b1", "b2", ">", blocks = 16)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("o_orderpriority"))
  }

  val joinRangeBigSql: String =
    """SELECT x.o_orderpriority, count(*) AS n_pairs
      |FROM orders x, orders y
      |WHERE x.o_orderdate >= TIMESTAMP '1996-01-01' AND x.o_orderdate < TIMESTAMP '1996-03-01'
      |  AND y.o_orderdate >= TIMESTAMP '1996-01-01' AND y.o_orderdate < TIMESTAMP '1996-03-01'
      |  AND x.o_orderdate < y.o_orderdate AND x.o_totalprice > y.o_totalprice
      |GROUP BY x.o_orderpriority
      |ORDER BY x.o_orderpriority""".stripMargin

  /** Oracle-checked band-join query: pairs of events by the same user
    * within 60 seconds of each other (distinct types) — the naive phrasing
    * is a per-user theta join; the band join keeps it shuffle-shaped. */
  def joinBand(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("cx"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("uid2"), col("event_id").as("error_id"),
        unix_micros(col("ts")).as("ex"))
    bandJoin(clicks, errors, col("cx"), col("ex"), width = 60000000L,
        extraCond = col("user_id") === col("uid2"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val joinBandSql: String =
    """SELECT c.user_id, count(*) AS n_pairs
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS cx FROM events WHERE event_type = 'click') c
      |JOIN (SELECT user_id, event_id, epoch_us(ts) AS ex FROM events WHERE event_type = 'error') e
      |  ON c.user_id = e.user_id AND abs(c.cx - e.ex) <= 60000000
      |GROUP BY c.user_id""".stripMargin

  /** Oracle-checked salted-join query: lineitem⋈supplier through the
    * salted recipe. The salt is plumbing, not semantics — every probe row
    * still meets exactly its key's build rows (the build side is present
    * in every salt replica) — so the result must equal the plain
    * equi-join, which is precisely what the oracle asserts. */
  def joinSkewSalt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_quantity"))
    val sup = Tables.t(s, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    saltedJoin(li, sup, "l_suppkey", salt = 8)
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast("double").as("sum_qty"))
      .orderBy(col("s_nationkey"))
  }

  val joinSkewSaltSql: String =
    """SELECT s_nationkey, count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  /** Bucketed CO-LOCATED join — the pre-partitioning answer to the
    * biggest recurring shuffle at 100 TB (fact ⋈ fact on a shared key).
    * Both sides are written `bucketBy(key)` + `sortBy(key)` into catalog
    * tables; Spark's FileSourceScanExec then reports the bucket spec as
    * its output partitioning, and a sort-merge join on the bucket key
    * needs NO Exchange on either side — the join's shuffle cost is paid
    * ONCE at write time and amortized over every subsequent join
    * (ETL-once, query-many). At fixture scale the optimizer would
    * broadcast instead; BucketedJoinSpec pins the zero-exchange plan with
    * broadcast disabled, which is the regime both sides are in at 100 TB
    * anyway. The entry's value equality against the plain-join oracle
    * proves bucketing is pure layout, never semantics. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket_").toString
    val oTbl = s"graft_bko_$tag"
    val lTbl = s"graft_bkl_$tag"
    Tables.t(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o").saveAsTable(oTbl)
    Tables.t(s, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/l").saveAsTable(lTbl)
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(18, 2))
    s.table(oTbl).join(s.table(lTbl), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_band" -> (joinBand _),
    "join_range_big" -> (joinRangeBig _),
    "join_skew_salt" -> (joinSkewSalt _),
    "join_bucketed" -> (bucketedJoin _))

  val oracle: Map[String, String] = Map(
    "join_band" -> joinBandSql,
    "join_range_big" -> joinRangeBigSql,
    "join_skew_salt" -> joinSkewSaltSql,
    "join_bucketed" -> bucketedJoinSql)
}
