package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic pins for the round-12 session-3 pipeline additions:
  * TF-IDF keyword extraction, token-budget importance sampling, and the
  * int8 scalar-quantization audit. */
class CurationExtrasSpec extends SparkSpec {

  test("pipeline_shard: two-pass prefix sum equals the single-order fold; shards cut at the budget") {
    // Recompute the GLOBAL cumulative token count with a driver-side
    // fold over the same (md5(doc_id), doc_id) order — the semantic
    // definition the distributed bucket-offset decomposition must match
    // bit-for-bit.
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(v: String): String =
      md.digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = Chunking.pipelineShard(spark, sf()).collect()
    assert(rows.length > 100)
    val ordered = rows.sortBy(r =>
      (md5hex(r.getAs[Long]("doc_id").toString), r.getAs[Long]("doc_id")))
    var cum = 0L
    ordered.foreach { r =>
      assert(r.getAs[Long]("cum_before") === cum)
      assert(r.getAs[Long]("shard") === cum / 2000L)
      cum += r.getAs[Long]("n_tokens")
    }
    // shards are dense 0..max (no budget-sized hole can skip an id when
    // every document is far smaller than the budget at this SF)
    val shards = rows.map(_.getAs[Long]("shard")).distinct.sorted
    assert(shards.head === 0L && shards === (0L to shards.max).toArray.toSeq)
  }

  test("pipeline_shard plan: bucket offsets broadcast; only the O(buckets) window is global") {
    val qe = Chunking.pipelineShard(spark, sf()).queryExecution
    val plan = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"),
      "the 256-row offset table must broadcast back onto the corpus")
    assert(!plan.contains("CartesianProduct"))
    // exactly two Window operators: the per-bucket cumsum (partitioned)
    // and the bucket-offset cumsum (global — but over the post-aggregate
    // O(buckets) relation, never the corpus)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    val wins = qe.optimizedPlan.collect { case w: Window => w }
    assert(wins.length === 2)
    val global = wins.filter(_.partitionSpec.isEmpty)
    assert(global.length === 1)
    assert(global.head.collectFirst { case a: Aggregate => a }.isDefined,
      "the partition-less window must consume the bucket aggregate")
  }

  test("search_ndcg plan: query list and corpus scalars broadcast; no cartesian beyond them") {
    val plan = TextAnalysis.searchNdcg(spark, sf()).queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"),
      "the eval-query list must broadcast onto the postings stream")
    assert(!plan.contains("CartesianProduct"),
      "the only cross joins carry 1-row broadcast scalars (BroadcastNestedLoop)")
  }

  test("search_ndcg: metric invariants — idcg bounds dcg, ndcg in (0,1], rr mirrors full rank") {
    val rows = TextAnalysis.searchNdcg(spark, sf()).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val dcg = r.getAs[Long]("dcg"); val idcg = r.getAs[Long]("idcg")
      assert(idcg > 0 && idcg >= dcg)
      val ndcg = r.getAs[Double]("ndcg")
      assert(ndcg > 0.0 && ndcg <= 1.0)
      assert(math.abs(ndcg - dcg.toDouble / idcg) < 1e-6)
      val frIdx = r.fieldIndex("full_rank")
      val rr = r.getAs[Long]("rr_micro")
      if (r.isNullAt(frIdx)) assert(rr === 0L)
      else assert(rr === 1000000L / r.getAs[Long](frIdx))
    }
  }

  test("lm_bigram: smoothing identity holds and the model is a sub-distribution") {
    val rows = TextAnalysis.lmBigram(spark, sf()).collect()
    assert(rows.length === 50)
    // V recomputed independently: distinct normalized tokens
    val v = graft.Tables.t(spark, sf(), "documents")
      .select(explode(split(graft.pipeline.Dedup.normalized(col("text")), " ")).as("t"))
      .filter(length(col("t")) > 0).distinct().count()
    rows.foreach { r =>
      val (c12, ctx1, p) = (r.getAs[Long]("c12"), r.getAs[Long]("ctx1"),
        r.getAs[Long]("p_micro"))
      assert(ctx1 >= c12, "context count bounds the bigram count")
      assert(p === (c12 + 1) * 1000000L / (ctx1 + v), "add-1 smoothing identity")
      assert(p > 0 && p <= 1000000L)
    }
    // counts are non-increasing down the ranking
    val cs = rows.map(_.getAs[Long]("c12"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
  }

  test("text_tfidf: at most 3 ranked terms per doc, scores non-increasing, df sane") {
    val rows = TextAnalysis.textTfidf(spark, sf()).collect()
    val nDocs = graft.Tables.t(spark, sf(), "documents").count()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length <= 3))
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length),
        "ranks are 1..k dense")
      val scores = sorted.map(_.getLong(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "score must not increase with rank")
    }
    rows.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(4) >= 1 && r.getLong(4) <= nDocs)
      // a corpus-universal term (df == N) scores tf * 1000 exactly
      if (r.getLong(4) == nDocs) assert(r.getLong(5) == r.getLong(3) * 1000)
    }
  }

  test("search_bm25: tf saturation, length normalization, exact integer score") {
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    import spark.implicits._
    Seq(
      (1L, "rare common common common"),                          // tf=1, dl=4
      (2L, "rare rare common common"),                            // tf=2, dl=4
      (3L, "common common common common"),                        // no hit
      (4L, "rare common common common common common common common")) // tf=1, dl=8
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.searchBm25(spark, dir, queryTerms = Seq("rare"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("rank"), r.getAs[Long]("score_q"))).toMap
    assert(rows.keySet == Set(1L, 2L, 4L), "only docs containing a query term")
    // more tf wins; at equal tf the shorter doc wins (b-normalization)
    assert(rows(2L)._1 == 1 && rows(1L)._1 == 2 && rows(4L)._1 == 3)
    // saturation: the second occurrence adds less than the first
    assert(rows(2L)._2 < 2 * rows(1L)._2)
    // exact integer pin (N=4, L=20, df=3 — docs 1, 2, 4 — tf=1, dl=4):
    //   idf_q    = (2·1+1)·10⁶ // 7           = 428,571
    //   tfpart_q = 880·10⁶ // (400+120+288)   = 1,089,108
    //   score    = 428,571 · 1,089,108 // 10⁶ = 466,760
    assert(rows(1L)._2 == 466760L, s"got ${rows(1L)._2}")
  }

  test("search_bm25: fixture top-k is dense-ranked with non-increasing scores") {
    val rows = TextAnalysis.searchBm25(spark, sf()).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    val scores = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("score_q"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(_.getAs[Long]("n_hit") >= 1))
  }

  test("text_tfidf: rarer terms outrank commoner ones at equal tf") {
    // directly from the definition: score = tf*N*1000 DIV df is
    // monotonically decreasing in df — spot-check on the real output
    val rows = TextAnalysis.textTfidf(spark, sf()).collect()
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      rs.filter(_.getLong(3) == rs.head.getLong(3)) // equal tf
        .sortBy(_.getInt(1)).sliding(2).foreach {
          case Array(hi, lo) => assert(hi.getLong(4) <= lo.getLong(4),
            "at equal tf, better rank implies smaller (or equal) df")
          case _ =>
        }
    }
  }

  test("mix_importance: keep rate falls with document length") {
    val rows = Mixture.mixImportance(spark, sf()).collect()
    val docs = graft.Tables.t(spark, sf(), "documents")
    val total = docs.count()
    assert(rows.map(_.getLong(1)).sum == total, "lang rows partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(4) <= r.getLong(3))
      assert(math.abs(r.getDouble(5) - BigDecimal(r.getLong(2).toDouble /
        r.getLong(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        < 1e-9)
    }
    // the policy's point: expected kept chars per doc are capped near the
    // budget B=500, so the kept sample's mean length sits well under the
    // corpus mean (fixture docs average far above B)
    val meanAll = rows.map(_.getLong(3)).sum.toDouble / total
    val kept = rows.map(_.getLong(2)).sum
    if (kept > 0 && meanAll > 1000) {
      val meanKept = rows.map(_.getLong(4)).sum.toDouble / kept
      assert(meanKept < meanAll,
        s"inverse-length sampling must shorten the mean ($meanKept vs $meanAll)")
    }
  }

  test("emb_quantize: labels partition the vectors and error respects the step bound") {
    val rows = Similarity.embQuantize(spark, sf()).collect()
    val vecs = graft.Tables.t(spark, sf(), "embeddings")
    assert(rows.map(_.getLong(1)).sum == vecs.count())
    // per-element error is at most half a quantization step; with the
    // widest per-dim step s, a 64-dim vector's picounit SSE is bounded by
    // 64 * (s/2)^2 * 1e12 (plus rounding slack)
    val dims = vecs.select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg((max(col("x").cast("double")) - min(col("x").cast("double")))
        .as("range"))
    val sMax = dims.agg(max(col("range"))).collect().head.getDouble(0) / 255.0
    val bound = (64.0 * math.pow(sMax / 2.0, 2) * 1e12 * 1.01 + 64).toLong
    rows.foreach { r =>
      assert(r.getLong(3) <= bound,
        s"mse_q_max ${r.getLong(3)} exceeds the step bound $bound")
      assert(r.getLong(2) <= r.getLong(3), "avg <= max")
    }
  }

  // ---- plan-shape pins for the session-3 operators: the claimed scale
  // postures, asserted on the physical plan (as `graft.Profile` flags plan smells) ----

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("search_rrf plan: top-n via per-partition heaps, no cartesian") {
    val plan = formatted(TextAnalysis.searchRrf(spark, sf()))
    assert(plan.contains("TakeOrderedAndProject"),
      "each ranker's top-n must be a heap cut, not a global sort")
    assert(!plan.contains("CartesianProduct"),
      "the probe attaches by broadcast, never a cartesian")
  }

  test("classify_nb plan: class scalars broadcast, one argmax window, no cartesian") {
    val df = TextAnalysis.classifyNb(spark, sf())
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the |classes|-row model side must broadcast onto the corpus")
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val wins = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(wins.length == 1, s"exactly the per-doc argmax window, got ${wins.length}")
    assert(wins.head.partitionSpec.nonEmpty, "argmax partitions by doc_id — never global")
  }

  test("mix_dsir plan: bucket-capped models broadcast, no cartesian") {
    val plan = formatted(Mixture.mixDsir(spark, sf()))
    assert(plan.contains("BroadcastHashJoin"),
      "the <=1024-row feature models must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("bloom/cms plans: one-row sketch broadcast onto probes, no cartesian") {
    for (df <- Seq(graft.operators.Aggregates.aggBloom(spark, sf()),
        graft.operators.Aggregates.aggCms(spark, sf()))) {
      val plan = formatted(df)
      assert(!plan.contains("CartesianProduct"))
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
        "the single-row sketch must broadcast against the probe list")
      assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
        "the Aggregator build is an object aggregate, map-side combining")
    }
  }

  test("lm_perplexity plan: model joined on its shard key, vocab scalar broadcast") {
    val plan = formatted(TextAnalysis.lmPerplexity(spark, sf()))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      "the 1-row vocabulary scalar must broadcast")
  }
}
