package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{GraftFunctions => G}

/** Embedding-space corpus clustering and cluster-scoped semantic dedup —
  * the SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication"): k-means the
  * corpus, then look for near-duplicates ONLY within a cluster, turning
  * the quadratic pair search into per-cluster work.
  *
  * Determinism contract (what makes a float-iterative algorithm
  * oracle-checkable): the init is the K lowest vec_ids, every Lloyd
  * update QUANTIZES centroid components to round(mean, 6), and the
  * assignment tie-break is the lowest cluster id. Quantization snaps
  * both engines' centroids to identical decimals each iteration, so
  * cross-engine double-sum association drift (~1 ulp) cannot compound
  * across iterations, and the argmin margins (O(0.1) on 64-dim data)
  * dwarf the per-distance drift.
  *
  * 100 TB posture: centroids are O(K·DIMS) — they live on the driver and
  * enter the plan as LITERALS, so each Lloyd iteration is ONE scan with a
  * map-side-combining aggregate (no join, no per-row shuffle beyond the
  * K·DIMS-sized centroid groupBy); the final semantic-dedup self-join
  * shuffles on cluster id, and the quadratic blow-up is bounded by the
  * LARGEST CLUSTER, not the corpus — exactly the property SemDeDup buys
  * clustering for. The driver loop is bounded by ITERS, mirroring
  * [[Dedup.connectedComponents]]' bounded-iteration contract.
  */
object Clustering extends graft.EntryModule {

  val K = 4
  val ITERS = 3
  val DIMS = 64

  /** Squared L2 distance from the embedding column to a literal centroid,
    * computed in double with sequential fold order (matches the oracle's
    * list_sum over list_transform). */
  private def distTo(cent: Array[Double]): Column =
    aggregate(
      zip_with(col("embedding"), lit(cent), (x, c) => {
        val d = x.cast("double") - c; d * d
      }),
      lit(0.0d), (acc, v) => acc + v)

  /** Adds `cluster` (argmin distance, FIRST min index = lowest id on a
    * tie) and `dist` (the winning distance) for the given centroids.
    * `cents` is sorted by cluster id; ids are mapped back through the
    * literal id array so empty clusters that dropped out of a Lloyd
    * round keep stable numbering. */
  private def assign(e: DataFrame, cents: Seq[(Long, Array[Double])]): DataFrame =
    if (cents.isEmpty) // empty corpus: no centroids, no rows
      e.withColumn("cluster", lit(null).cast("long"))
        .withColumn("dist", lit(null).cast("double"))
    else {
      val dists = array(cents.map { case (_, c) => distTo(c) }: _*)
      val ids = array(cents.map { case (id, _) => lit(id) }: _*)
      e.withColumn("dist_arr", dists)
        .withColumn("cluster",
          element_at(ids, array_position(col("dist_arr"),
            array_min(col("dist_arr"))).cast("int")))
        .withColumn("dist", array_min(col("dist_arr")))
        .drop("dist_arr")
    }

  /** Runs ITERS Lloyd rounds and returns the final assignment
    * (vec_id, embedding, cluster, dist). Each round collects the
    * quantized K×DIMS centroid table to the driver (O(K·DIMS) — the
    * k-means state is driver-grain by design, like the IEJoin block
    * envelopes) and re-enters it as literals. */
  def kmeansAssignments(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // init: the K lowest vec_ids, quantized by the SAME engine round()
    // the Lloyd updates use (Scala rint is half-even; SQL round is not)
    var cents: Seq[(Long, Array[Double])] = e.orderBy(col("vec_id")).limit(K)
      .select(transform(col("embedding"), x => round(x.cast("double"), 6))
        .as("cent"))
      .collect()
      .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Double](0).toArray) }
      .toSeq
    // assignment a_i uses centroids c_{i-1}; the result is the LAST
    // assignment (the oracle's a_ITERS) — the final update is never used
    var assigned = assign(e, cents)
    for (i <- 1 to ITERS) {
      assigned = assign(e, cents)
      if (i < ITERS) {
        val upd = assigned
          .select(col("cluster"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("cluster"), col("dim"))
          .agg(round(avg(col("x").cast("double")), 6).as("m"))
          .collect()
        cents = upd.groupBy(_.getLong(0)).map { case (id, rows) =>
          val arr = new Array[Double](DIMS)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          (id, arr)
        }.toSeq.sortBy(_._1)
      }
    }
    assigned
  }

  /** Per-cluster size and inertia after ITERS Lloyd rounds — the
    * clustering quality readout. */
  def embKmeans(s: SparkSession, dir: String): DataFrame =
    kmeansAssignments(s, dir)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), round(sum(col("dist")), 2).as("inertia"))

  /** SemDeDup: within each final cluster, DROP any vector that has a
    * LOWER-vec_id cluster-mate with cosine ≥ τ (the deterministic
    * min-id-keeper policy — each near-dup group's smallest id survives;
    * unlike connected components this needs no transitive closure, so
    * it stays one self-join). τ = 0.2 fits the fixture's random-vector
    * cosine range; production corpora use 0.9+ — a constant, not a code
    * change. Cosines go through the same codegen float expression the
    * `dedup_embedding*` oracles already pin cross-engine. */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val a = kmeansAssignments(s, dir)
      .select(col("cluster"), col("vec_id"), col("embedding"))
    val dropped = a.as("x").join(a.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("y.vec_id") < col("x.vec_id") &&
          G.list_cosine_similarity(col("x.embedding"), col("y.embedding")) >= 0.2f)
      .select(col("x.cluster").as("cluster"), col("x.vec_id").as("hi"))
      .distinct()
    a.join(dropped,
        a("cluster") === dropped("cluster") && a("vec_id") === dropped("hi"),
        "left")
      .groupBy(a("cluster"))
      .agg(count(lit(1)).as("n_total"),
        (count(lit(1)) - count(col("hi"))).as("n_kept"))
  }

  /** Shared Lloyd-iteration CTE block for the DuckDB oracle: the SAME
    * init, quantization, and tie-break, unrolled ITERS times. */
  private def oracleIters: String = {
    def one(i: Int) =
      s"""d$i AS (
         |  SELECT e.vec_id, e.embedding, c.cluster,
         |         list_sum(list_transform(range(1,${DIMS + 1}),
         |            j -> (CAST(e.embedding[j] AS DOUBLE) - c.cent[j])
         |               * (CAST(e.embedding[j] AS DOUBLE) - c.cent[j]))) AS dist
         |  FROM embeddings e CROSS JOIN c${i - 1} c),
         |a$i AS (
         |  SELECT vec_id, embedding, cluster, dist FROM d$i
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1),
         |c$i AS (
         |  SELECT cluster, list(m ORDER BY dim) AS cent
         |  FROM (SELECT a.cluster, g.i AS dim,
         |               round(avg(CAST(a.embedding[g.i] AS DOUBLE)), 6) AS m
         |        FROM a$i a CROSS JOIN (SELECT unnest(range(1,${DIMS + 1})) AS i) g
         |        GROUP BY a.cluster, g.i)
         |  GROUP BY cluster)""".stripMargin
    s"""WITH c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
       |         list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6)) AS cent
       |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $K)),
       |${(1 to ITERS).map(one).mkString(",\n")}""".stripMargin
  }

  val embKmeansSql: String =
    s"""$oracleIters
       |SELECT cluster, count(*) AS n, round(sum(dist), 2) AS inertia
       |FROM a$ITERS GROUP BY cluster""".stripMargin

  val dedupSemanticSql: String =
    s"""$oracleIters,
       |dropped AS (
       |  SELECT x.cluster, x.vec_id AS hi
       |  FROM a$ITERS x JOIN a$ITERS y
       |    ON x.cluster = y.cluster AND y.vec_id < x.vec_id
       |  WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.2
       |  GROUP BY x.cluster, x.vec_id)
       |SELECT a.cluster, count(*) AS n_total,
       |       count(*) - count(p.hi) AS n_kept
       |FROM a$ITERS a LEFT JOIN dropped p
       |  ON a.cluster = p.cluster AND a.vec_id = p.hi
       |GROUP BY a.cluster""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_kmeans" -> (embKmeans _),
    "dedup_semantic" -> (dedupSemantic _))

  val oracle: Map[String, String] = Map(
    "emb_kmeans" -> embKmeansSql,
    "dedup_semantic" -> dedupSemanticSql)
}
