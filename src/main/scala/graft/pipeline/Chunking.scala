package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Document chunking — the training-data op between cleaning and
  * embedding/tokenization: split each document into fixed-size token
  * windows with overlap (stride < window), so every token appears in ≥1
  * chunk and context straddles boundaries. Deterministic whitespace
  * tokenization keeps the chunk text reconstructible and the whole op
  * oracle-checkable; a BPE tokenizer slots in at the same seam
  * (`TextAnalysis` carries the token-counting surface).
  *
  * Scale posture: tokenize → explode(sequence) → slice is a pure
  * codegen projection chain — shuffle-free, linear in corpus size, and
  * the explode fan-out is bounded by ceil(tokens/stride) per document.
  * At 100 TB this is embarrassingly parallel over parquet splits.
  */
object Chunking extends graft.EntryModule {

  /** Window of `size` tokens every `stride` tokens (overlap = size −
    * stride). chunk_id is 0-based; the last chunk may be short, never
    * empty (the id bound floor((n−1)/stride) puts its start ≤ n−1). */
  def chunk(docs: DataFrame, textCol: String, size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size >= stride, "need 0 < stride <= size")
    docs
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("chunk_id", explode(sequence(lit(0L),
        floor((org.apache.spark.sql.functions.size(col("__toks")) - 1) / stride)
          .cast("long"))))
      .withColumn("__slice", slice(col("__toks"),
        (col("chunk_id") * stride + 1).cast("int"), lit(size)))
      .withColumn("chunk_text", concat_ws(" ", col("__slice")))
      .withColumn("n_tokens",
        org.apache.spark.sql.functions.size(col("__slice")).cast("long"))
      .drop("__toks", "__slice", textCol)
  }

  /** Driver-gate entry: window 8 / stride 6 over the documents fixture. */
  def textChunk(s: SparkSession, dir: String): DataFrame =
    chunk(Tables.t(s, dir, "documents").select("doc_id", "text"),
      "text", size = 8, stride = 6)

  /** Same tokenization/windowing in DuckDB: 1-based list slicing clamps
    * exactly like Spark's `slice`, generate_series is inclusive like
    * `sequence`. */
  val textChunkSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), idx AS (
      |  SELECT doc_id, t,
      |         unnest(generate_series(0, CAST(floor((len(t) - 1) / 6) AS BIGINT))) AS chunk_id
      |  FROM toks
      |)
      |SELECT doc_id, chunk_id,
      |       array_to_string(t[(chunk_id*6+1):(chunk_id*6+8)], ' ') AS chunk_text,
      |       CAST(len(t[(chunk_id*6+1):(chunk_id*6+8)]) AS BIGINT) AS n_tokens
      |FROM idx""".stripMargin

  /** Sequence packing: assign chunks to fixed-token-budget packs by the
    * streaming rule pack = floor(tokens_before / budget) within a hash
    * bucket — the deterministic, shuffle-bounded approximation of greedy
    * bin packing every large training pipeline uses (true greedy needs a
    * running reset, which is sequential; the cumulative-floor rule
    * overflows a pack by at most one chunk and parallelizes per bucket).
    * Buckets (doc_id % nBuckets) are the scale unit: each is one window
    * partition, so parallelism = nBuckets regardless of corpus size. */
  def pack(chunks: DataFrame, budget: Int, nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("doc_id"), col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("bucket", col("doc_id") % nBuckets)
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget))
      .groupBy(col("bucket"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("tok"))
  }

  /** Driver-gate entry: pack the text_chunk output, budget 64 tokens,
    * 32 buckets. */
  def textPack(s: SparkSession, dir: String): DataFrame =
    pack(textChunk(s, dir), budget = 64, nBuckets = 32)

  val textPackSql: String =
    s"""WITH chunks AS ($textChunkSql),
       |packed AS (
       |  SELECT doc_id % 32 AS bucket, doc_id, chunk_id, n_tokens,
       |         CAST(floor((sum(n_tokens) OVER (PARTITION BY doc_id % 32
       |              ORDER BY doc_id, chunk_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |              - n_tokens) / 64) AS BIGINT) AS pack_id
       |  FROM chunks)
       |SELECT bucket, pack_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(sum(n_tokens) AS BIGINT) AS tok
       |FROM packed GROUP BY bucket, pack_id""".stripMargin

  /** End-to-end prepare: quality floor (≥10 tokens, the same floor
    * `pipeline_curate` applies) → chunk → pack → per-bucket capacity
    * summary. One entry proving the training-data stages COMPOSE in a
    * single shuffle-bounded plan: filter and chunking are codegen
    * projections, packing is one window per bucket, the summary is one
    * aggregation. */
  def pipelinePrepare(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
      .filter(org.apache.spark.sql.functions.size(split(col("text"), " ")) >= 10)
    pack(chunk(docs, "text", size = 8, stride = 6), budget = 64, nBuckets = 32)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_packs"), sum(col("n_chunks")).as("n_chunks"),
        sum(col("tok")).as("tok"))
  }

  val pipelinePrepareSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 10
      |), idx AS (
      |  SELECT doc_id, t,
      |         unnest(generate_series(0, CAST(floor((len(t) - 1) / 6) AS BIGINT))) AS chunk_id
      |  FROM toks
      |), chunks AS (
      |  SELECT doc_id, chunk_id,
      |         CAST(len(t[(chunk_id*6+1):(chunk_id*6+8)]) AS BIGINT) AS n_tokens
      |  FROM idx
      |), packed AS (
      |  SELECT doc_id % 32 AS bucket, n_tokens,
      |         CAST(floor((sum(n_tokens) OVER (PARTITION BY doc_id % 32
      |              ORDER BY doc_id, chunk_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              - n_tokens) / 64) AS BIGINT) AS pack_id
      |  FROM chunks)
      |SELECT bucket, CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
      |       CAST(count(*) AS BIGINT) AS n_chunks,
      |       CAST(sum(n_tokens) AS BIGINT) AS tok
      |FROM packed GROUP BY bucket""".stripMargin

  /** Behavior-sequence construction — the events-side analog of document
    * chunking: per user, the time-ordered event-type sequence truncated
    * to the most recent 20 (the fixed context window a sequential
    * recommender / behavioral LM trains on). Ordering is total — (ts,
    * event_id) — so the sequence is deterministic under any partitioning
    * and ties; truncation is arithmetic (`slice(a, max(n-19, 1), 20)` ≡
    * DuckDB `a[-20:]`, both clamping short lists). The sequence is
    * emitted as a '|'-joined string: the driver's pandas hasher cannot
    * sort raw arrays, and the flat string is what a tokenizer consumes.
    * Scale posture: one map-side-combining collect per user — state
    * bounded by the per-user event count, the same bound any
    * sessionization pass carries. */
  def seqUserEvents(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        concat_ws("|", transform(
          org.apache.spark.sql.functions.slice(
            sort_array(collect_list(struct(col("ts"), col("event_id"),
              col("event_type").as("ty")))),
            greatest(size(collect_list(col("event_id"))) - 19, lit(1)),
            lit(20)),
          x => x.getField("ty"))).as("recent"))

  val seqUserEventsSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  array_to_string(list_transform(
      |    (list_sort(list(struct_pack(t := ts, e := event_id, ty := event_type))))[-20:],
      |    x -> x.ty), '|') AS recent
      |FROM events GROUP BY user_id""".stripMargin

  /** Global training-shard assignment — the step after curation that a
    * 100 TB pipeline runs LAST: place every document at a deterministic
    * pseudo-random position (ORDER BY md5(doc_id) — the reproducible
    * corpus shuffle), then cut the stream into fixed-token-budget shards
    * by cumulative token count, so shard k holds the documents whose
    * running total falls in [k·budget, (k+1)·budget). Unlike
    * [[pack]]/`text_pack` (per-BUCKET pack ids — parallel but only
    * locally numbered), the shard id here is GLOBAL: the whole corpus
    * gets one reproducible linear order and one shard numbering, which
    * is what makes training-data order reproducible across a fleet.
    *
    * The global prefix sum is computed WITHOUT a single-partition
    * window (the classic driver-bottleneck trap): two passes —
    *   1. bucket = first 2 hex chars of the md5 key (256 buckets);
    *      within-bucket cumulative sums via one window per bucket
    *      (md5 order within ≡ md5 order globally, because the bucket
    *      prefix is the key's own leading bytes);
    *   2. per-bucket totals (256 rows) get their own running offset —
    *      an O(buckets) window, independent of corpus size — and
    *      broadcast-join back.
    * cum_before = bucket_offset + within_bucket_cum − own tokens, all
    * exact BIGINT arithmetic, so the assignment is bit-identical under
    * any partitioning. The oracle spells the same quantity as ONE
    * global window — the semantic definition — proving the
    * distributed two-pass decomposition exact. */
  def shardByBudget(docs: DataFrame, idCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs
      .withColumn("__k", md5(col(idCol).cast("string").cast("binary")))
      .withColumn("__b", substring(col("__k"), 1, 2))
    val wIn = Window.partitionBy(col("__b")).orderBy(col("__k"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumIn = keyed.withColumn("__cum_in", sum(col(tokensCol)).over(wIn))
    val wB = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("__b"))
      .agg(sum(col(tokensCol)).as("__btot"))
      .withColumn("__off", coalesce(sum(col("__btot")).over(wB), lit(0L)))
      .select(col("__b"), col("__off"))
    cumIn.join(broadcast(offsets), Seq("__b"))
      .withColumn("cum_before",
        (col("__off") + col("__cum_in") - col(tokensCol)).cast("long"))
      .withColumn("shard", expr(s"cum_before DIV ${budget}L"))
      .drop("__b", "__k", "__cum_in", "__off")
  }

  /** Driver-gate entry: shard the documents corpus at a 2,000-token
    * budget (≈14 shards at sf0.01, ≈135 at sf0.1 — scale-covariant by
    * construction) using the whitespace token count of the normalized
    * text. */
  def pipelineShard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(Dedup.normalized(col("text")), " ")).cast("long")
          .as("n_tokens"))
    shardByBudget(docs, "doc_id", "n_tokens", budget = 2000L)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"), col("shard"))
  }

  val pipelineShardSql: String =
    raw"""WITH d AS (
       |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
       |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
       |         AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT doc_id, n_tokens,
       |  CAST(sum(n_tokens) OVER (ORDER BY k, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |       - n_tokens AS BIGINT) AS cum_before,
       |  CAST((sum(n_tokens) OVER (ORDER BY k, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |       - n_tokens) // 2000 AS BIGINT) AS shard
       |FROM d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_shard" -> (pipelineShard _),
    "seq_user_events" -> (seqUserEvents _),
    "text_chunk" -> (textChunk _),
    "text_pack" -> (textPack _),
    "pipeline_prepare" -> (pipelinePrepare _))

  val oracle: Map[String, String] = Map(
    "pipeline_shard" -> pipelineShardSql,
    "seq_user_events" -> seqUserEventsSql,
    "text_chunk" -> textChunkSql,
    "text_pack" -> textPackSql,
    "pipeline_prepare" -> pipelinePrepareSql)
}
