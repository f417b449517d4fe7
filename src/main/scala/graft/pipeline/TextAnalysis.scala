package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{GraftFunctions => G}

/** Text-analysis operators for training-data curation: quality statistics,
  * token counting, language identification, and document fingerprinting —
  * all pure column expressions (codegen'd, partition-local, shuffle-free
  * until the final aggregation), which is what keeps them viable over
  * billions of documents.
  */
object TextAnalysis extends graft.EntryModule {

  private def words(text: Column): Column = split(Dedup.normalized(text), " ")

  /** Per-document quality statistics (oracle-checked). */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    Tables.t(s, dir, "documents").select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(words(col("text"))).cast("long").as("n_words"),
      size(array_distinct(words(col("text")))).cast("long").as("n_distinct"),
      // exact integer ratios: identical IEEE division in both engines —
      // no rounding (which would create half-boundary divergence)
      // same `words` helper as every other column — one normalization
      // spelling, not a re-derived SQL string that could drift from it
      (aggregate(transform(words(col("text")), w => length(w)),
        lit(0), (acc, x) => acc + x)
        .cast("double") / size(words(col("text")))).as("avg_word_len"),
      (size(array_intersect(words(col("text")),
        lit(stop.toArray))).cast("double") /
        size(array_distinct(words(col("text"))))).as("stop_distinct_ratio"),
      (size(filter(words(col("text")),
        w => w.isin(stop.map(lit(_)): _*))).cast("double") /
        size(words(col("text")))).as("stop_ratio"))
  }

  val textStatsSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_words,
      |  CAST(len(list_distinct(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS BIGINT) AS n_distinct,
      |  CAST(list_aggregate(list_transform(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), w -> length(w)), 'sum') AS DOUBLE)
      |    / len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS avg_word_len,
      |  CAST(len(list_intersect(list_distinct(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')),
      |    ['the','a','of','and','to','in','is'])) AS DOUBLE)
      |    / len(list_distinct(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS stop_distinct_ratio,
      |  CAST(len(list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
      |    w -> list_contains(['the','a','of','and','to','in','is'], w))) AS DOUBLE)
      |    / len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS stop_ratio
      |FROM documents""".stripMargin

  /** BPE-ish regex token count + whitespace token count (oracle-checked). */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").select(
      col("doc_id"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long").as("n_tokens"),
      size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"))

  val textTokensSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens,
      |  CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_ws_tokens
      |FROM documents""".stripMargin

  /** Stopword-profile language ID: score each candidate language by hits
    * in its stopword list, argmax with deterministic tie-break. Rows-only
    * (the heuristic is ours, not SQL-standard). */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "他", "这", "中"))

  def detectLanguage(text: Column): Column = {
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, stops) =>
      struct(size(filter(words(text), w => w.isin(stops.map(lit(_)): _*))).as("score"),
        lit(lang).as("lang"))
    }
    // argmax by (score, lang): greatest() on structs orders lexicographically
    greatest(scored: _*).getField("lang")
  }

  def textLangid(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").select(
      col("doc_id"), col("lang").as("labeled"),
      detectLanguage(col("text")).as("predicted"))

  /** Canonical document fingerprint: md5 over the sorted distinct word set
    * (oracle-checked); pairs with equal fingerprints are permutation dups. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").select(
      col("doc_id"),
      md5(concat_ws(" ",
        array_sort(array_distinct(words(col("text"))))).cast("binary")).as("fp"))

  /** Rolling-hash (Rabin-Karp) fingerprints: content hash of the raw text
    * plus the normalized form. ORACLE-CHECKED (not rows-only): the
    * wrapping 64-bit arithmetic is reproduced in DuckDB via HUGEINT
    * mod-2^64 — see [[textFingerprintRollingSql]]; changing the hash
    * (base, byte handling, empty-input value) requires changing BOTH
    * sides. */
  def textFingerprintRolling(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{GraftFunctions => G}
    Tables.t(s, dir, "documents").select(
      col("doc_id"),
      G.rolling_hash(col("text")).as("rh_raw"),
      G.rolling_hash(Dedup.normalized(col("text"))).as("rh_norm"))
  }

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))), ' ')) AS fp
      |FROM documents""".stripMargin

  /** TF-IDF keyword extraction — top-3 distinguishing terms per document
    * (Spärck Jones 1972; the keyword pass behind BM25-ish retrieval and
    * topic tagging). The score is kept EXACTLY INTEGER:
    * `score_q = (tf · N_docs · 1000) DIV df` — the same ranking order as
    * tf·(N/df) but computed with one integer multiply chain and one
    * integer floor-division, so ranks and tie-breaks (score desc, term
    * asc) are bit-identical across engines and cluster sizes; a float
    * log-idf would rank identically but compare at engine-dependent
    * ulps. Scale posture: the explode and both aggregates shuffle on the
    * term (hash-distributed, map-side combining); N_docs is a broadcast
    * scalar; the top-3 window partitions by doc_id — no global sort. */
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.t(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"),
        explode(split(Dedup.normalized(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .withColumn("score_q", expr("tf * n_docs * 1000 DIV df"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score_q").desc, col("term").asc)))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        col("score_q"))
  }

  val textTfidfSql: String =
    raw"""WITH w AS (
       |  SELECT doc_id,
       |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
       |           ' ')) AS term
       |  FROM documents),
       |t1 AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM w WHERE len(term) > 0 GROUP BY doc_id, term),
       |t2 AS (SELECT term, count(*) AS df FROM t1 GROUP BY term),
       |tot AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, t1.term, tf, df, (tf * n_docs * 1000) // df AS score_q
       |  FROM t1 JOIN t2 USING (term), tot)
       |SELECT doc_id, rk, term, tf, df, score_q
       |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY score_q DESC, term ASC) AS rk
       |      FROM scored)
       |WHERE rk <= 3""".stripMargin

  /** BM25 lexical retrieval — top-k documents for a fixed term query
    * (Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework:
    * BM25 and Beyond"; the scoring the reference engine ships as its FTS
    * extension's `match_bm25`). All three BM25 ingredients are present —
    * tf saturation (k1 = 1.2), document-length normalization (b = 0.75),
    * and df-based term rarity — but computed EXACTLY IN INTEGERS so
    * ranks, scores, and tie-breaks are bit-identical across engines,
    * partitionings, and join orders (the [[textTfidf]] posture):
    *
    *   - idf_q      = (2·(N−df)+1)·10⁶  DIV (2·df+1)
    *                  (the Robertson idf ratio (N−df+0.5)/(df+0.5) in
    *                  millionths, without the engine-ulp-dependent log —
    *                  same df ordering, strictly positive)
    *   - tfpart_q   = 44·tf·L·10⁶  DIV (20·tf·L + 6·L + 18·dl·N)
    *                  (tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    *                  k1 = 6/5, b = 3/4, avgdl = L/N cleared to one
    *                  integer quotient; bounded by 2.2·10⁶)
    *   - score_q    = Σ_terms (idf_q · tfpart_q) DIV 10⁶
    *
    * Long-range audit at the 10×-inflated sweep scale (N = 5·10⁴ docs,
    * L = 1.5·10⁶ tokens, tf ≤ ~30): max intermediate 44·tf·L·10⁶ ≈ 2·10¹⁵
    * and idf_q·tfpart_q ≤ 3.4·10¹⁰ · 2.2·10⁶ ≈ 7.3·10¹⁶ — both inside
    * BIGINT on both engines.
    *
    * Scale posture: the token explode and tf aggregate shuffle on
    * (doc_id, term) with map-side combining; the query-term filter lands
    * BEFORE the tf shuffle so only matching postings move; df (≤ one row
    * per query term) and the (N, L) scalars broadcast; doc length joins
    * on doc_id; the final top-k is orderBy+limit (TakeOrderedAndProject —
    * per-partition heaps, no global sort). At 100 TB the tf/dl relations
    * are exactly the inverted index + doclen table an FTS index
    * pre-materializes (bucketed by term), and this query becomes the
    * broadcast-probe of that index. */
  def searchBm25(s: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("dup", "vector", "hash"),
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.t(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"),
        explode(split(Dedup.normalized(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = broadcast(
      dl.agg(sum(col("dl")).as("l_tot"))
        .crossJoin(docs.agg(count(lit(1)).as("n_docs"))))
    val qtf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfq = broadcast(
      qtf.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val scored = qtf.join(dfq, Seq("term")).join(dl, Seq("doc_id"))
      .crossJoin(stats)
      .withColumn("s",
        expr("""((2*(n_docs - df) + 1) * 1000000 DIV (2*df + 1))
               | * ((44*tf*l_tot*1000000)
               |    DIV (20*tf*l_tot + 6*l_tot + 18*dl*n_docs))
               | DIV 1000000""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("s")).as("score_q"))
    scored.orderBy(col("score_q").desc, col("doc_id").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score_q").desc, col("doc_id").asc)))
      .select(col("rank"), col("doc_id"), col("n_hit"), col("score_q"))
  }

  /** The identical integer BM25 in the oracle dialect (`//` ≡ `DIV` for
    * the all-positive operands here; the outer sums CAST to BIGINT — the
    * oracle engine widens integer sums to HUGEINT, which the harness
    * renders as float). */
  val searchBm25Sql: String =
    raw"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
       |  FROM documents),
       |tok2 AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
       |stats AS (SELECT (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS l_tot,
       |                 (SELECT count(*) FROM documents) AS n_docs),
       |qtf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       |        WHERE term IN ('dup', 'vector', 'hash') GROUP BY doc_id, term),
       |dfq AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
       |scored AS (
       |  SELECT q.doc_id,
       |    (((2*(n_docs - df) + 1) * 1000000 // (2*df + 1))
       |     * ((44*tf*l_tot*1000000)
       |        // (20*tf*l_tot + 6*l_tot + 18*d.dl*n_docs)))
       |     // 1000000 AS s
       |  FROM qtf q JOIN dfq USING (term) JOIN dl d ON d.doc_id = q.doc_id, stats),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |               CAST(sum(s) AS BIGINT) AS score_q
       |        FROM scored GROUP BY doc_id)
       |SELECT row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS rank,
       |  doc_id, n_hit, score_q
       |FROM agg ORDER BY score_q DESC, doc_id ASC LIMIT 10""".stripMargin

  /** Multi-term BM25 with a PHRASE-ADJACENCY bonus — the query shape a
    * retrieval pipeline actually issues (OR of terms, each scored by the
    * [[searchBm25]] integer BM25 and summed, plus a fixed bonus per
    * adjacent occurrence of a query phrase — the proximity term of
    * classic lexical rankers, e.g. the reference FTS extension's
    * conjunctive refinements). Both parts stay integer-exact: the term
    * scores are the proven BM25 integers; adjacency is a COUNT of
    * position pairs (term a at p, term b at p+1), bonus = 500000·n_adj.
    *
    * Scale posture: token positions come from the same one-pass explode
    * (posexplode instead of explode — same shuffle); the adjacency
    * self-join is over PHRASE-TERM postings only (filtered before the
    * shuffle, like the tf filter) keyed on (doc_id, position); df/corpus
    * scalars broadcast; top-k stays TakeOrderedAndProject. At 100 TB
    * the positions relation IS the positional inverted index an FTS
    * engine materializes. */
  def searchBm25Multi(s: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("dup", "vector", "hash", "key"),
      phrases: Seq[(String, String)] = Seq(("hash", "vector"), ("key", "hash")),
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.t(s, dir, "documents")
    val toksPos = docs
      .select(col("doc_id"),
        posexplode(split(Dedup.normalized(col("text")), " ")).as(Seq("p", "term")))
      .filter(length(col("term")) > 0)
    val toks = toksPos.select(col("doc_id"), col("term"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = broadcast(
      dl.agg(sum(col("dl")).as("l_tot"))
        .crossJoin(docs.agg(count(lit(1)).as("n_docs"))))
    val qtf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfq = broadcast(
      qtf.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val base = qtf.join(dfq, Seq("term")).join(dl, Seq("doc_id"))
      .crossJoin(stats)
      .withColumn("s",
        expr("""((2*(n_docs - df) + 1) * 1000000 DIV (2*df + 1))
               | * ((44*tf*l_tot*1000000)
               |    DIV (20*tf*l_tot + 6*l_tot + 18*dl*n_docs))
               | DIV 1000000""".stripMargin))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("s")).as("score_terms"))
    val phraseTerms = phrases.flatMap(p => Seq(p._1, p._2)).distinct
    val pos = toksPos.filter(col("term").isin(phraseTerms: _*))
    val pairKeys = phrases.map(p => p._1 + " " + p._2)
    val adj = pos.select(col("doc_id"), col("term").as("t1"), col("p"))
      .join(pos.select(col("doc_id"), col("term").as("t2"),
        (col("p") - 1).as("p")), Seq("doc_id", "p"))
      .filter(concat_ws(" ", col("t1"), col("t2")).isin(pairKeys: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_adj"))
    val agg = base.join(adj, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_hit"),
        coalesce(col("n_adj"), lit(0L)).as("n_adj"),
        (col("score_terms") + coalesce(col("n_adj"), lit(0L)) * lit(500000L))
          .as("score_q"))
    agg.orderBy(col("score_q").desc, col("doc_id").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score_q").desc, col("doc_id").asc)))
      .select(col("rank"), col("doc_id"), col("n_hit"), col("n_adj"), col("score_q"))
  }

  /** The identical multi-term + adjacency scorer in the oracle dialect
    * (positions from the ZIPPED unnest of range(len) with the token
    * list — the construct `ducksql_unnest_zip` pins). */
  val searchBm25MultiSql: String =
    raw"""WITH toks0 AS (
       |  SELECT doc_id, unnest(range(len(ws))) AS p, unnest(ws) AS term
       |  FROM (SELECT doc_id,
       |          string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
       |        FROM documents)),
       |tok2 AS (SELECT doc_id, p, term FROM toks0 WHERE len(term) > 0),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
       |stats AS (SELECT (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS l_tot,
       |                 (SELECT count(*) FROM documents) AS n_docs),
       |qtf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       |        WHERE term IN ('dup', 'vector', 'hash', 'key') GROUP BY doc_id, term),
       |dfq AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
       |scored AS (
       |  SELECT q.doc_id,
       |    (((2*(n_docs - df) + 1) * 1000000 // (2*df + 1))
       |     * ((44*tf*l_tot*1000000)
       |        // (20*tf*l_tot + 6*l_tot + 18*d.dl*n_docs)))
       |     // 1000000 AS s
       |  FROM qtf q JOIN dfq USING (term) JOIN dl d ON d.doc_id = q.doc_id, stats),
       |base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       |                CAST(sum(s) AS BIGINT) AS score_terms
       |         FROM scored GROUP BY doc_id),
       |adj AS (
       |  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_adj
       |  FROM tok2 a JOIN tok2 b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       |  WHERE (a.term = 'hash' AND b.term = 'vector')
       |     OR (a.term = 'key' AND b.term = 'hash')
       |  GROUP BY a.doc_id),
       |agg AS (
       |  SELECT b.doc_id, b.n_hit, coalesce(j.n_adj, CAST(0 AS BIGINT)) AS n_adj,
       |         b.score_terms + coalesce(j.n_adj, CAST(0 AS BIGINT)) * 500000 AS score_q
       |  FROM base b LEFT JOIN adj j USING (doc_id))
       |SELECT row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS rank,
       |  doc_id, n_hit, n_adj, score_q
       |FROM agg ORDER BY score_q DESC, doc_id ASC LIMIT 10""".stripMargin

  /** Hybrid retrieval via Reciprocal-Rank Fusion (Cormack et al. 2009) —
    * the fusion step every RAG/retrieval stack runs over its lexical and
    * its vector ranker: take the top-n of the integer-exact BM25 ranking
    * ([[searchBm25]]) and the top-n of the exact-cosine embedding ranking
    * (the `ann_topk` scorer, bit-exact float32 on both engines, linked by
    * the fixtures' doc_id ≡ vec_id), and score each candidate by
    * `Σ_rankers 10⁶ DIV (c + rank)` with the standard c = 60 — RRF in
    * exact micro-units, so the fused ranking is integer-deterministic
    * even though the two input rankers live on different score scales
    * (which is the whole point of rank-based fusion).
    *
    * Scale posture: each ranker is its own already-audited plan (BM25:
    * pre-shuffle-filtered postings + TakeOrderedAndProject; cosine:
    * broadcast probe + TakeOrderedAndProject); the fusion joins two
    * ≤n-row lists — driver-trivial at any corpus size. The rank windows
    * run AFTER the top-n cut, so the single-partition window sees ≤n
    * rows, never the corpus. */
  def searchRrf(s: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("dup", "vector", "hash"),
      probeVec: Int = 0, n: Int = 50, k: Int = 10, c: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = searchBm25(s, dir, queryTerms, n)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val e = Tables.t(s, dir, "embeddings")
    val q = broadcast(e.filter(col("vec_id") === probeVec)
      .select(col("embedding").as("q")))
    val sem = e.filter(col("vec_id") =!= probeVec).crossJoin(q)
      .select(col("vec_id").as("doc_id"),
        G.list_cosine_similarity(col("embedding"), col("q")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(n)
      .withColumn("sem_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
      .select(col("doc_id"), col("sem_rank"))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000 DIV ($c + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 DIV ($c + sem_rank)"), lit(0L)))
    fused.orderBy(col("rrf_micro").desc, col("doc_id")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_micro").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("lex_rank"), col("sem_rank"),
        col("rrf_micro"))
  }

  /** The identical two rankers and micro-unit RRF in the oracle dialect
    * (same BM25 CTE chain as [[searchBm25Sql]] cut at 50, same exact
    * cosine, same `10⁶ // (60 + rank)` fusion). */
  val searchRrfSql: String =
    raw"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
       |  FROM documents),
       |tok2 AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
       |stats AS (SELECT (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS l_tot,
       |                 (SELECT count(*) FROM documents) AS n_docs),
       |qtf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       |        WHERE term IN ('dup', 'vector', 'hash') GROUP BY doc_id, term),
       |dfq AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
       |scored AS (
       |  SELECT q.doc_id,
       |    (((2*(n_docs - df) + 1) * 1000000 // (2*df + 1))
       |     * ((44*tf*l_tot*1000000)
       |        // (20*tf*l_tot + 6*l_tot + 18*d.dl*n_docs)))
       |     // 1000000 AS s
       |  FROM qtf q JOIN dfq USING (term) JOIN dl d ON d.doc_id = q.doc_id, stats),
       |lexagg AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS score_q
       |           FROM scored GROUP BY doc_id),
       |lex AS (SELECT doc_id,
       |          row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS lex_rank
       |        FROM lexagg ORDER BY score_q DESC, doc_id ASC LIMIT 50),
       |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
       |semall AS (
       |  SELECT e.vec_id AS doc_id,
       |         list_cosine_similarity(e.embedding, qv.q) AS cos
       |  FROM embeddings e, qv WHERE e.vec_id <> 0),
       |sem AS (SELECT doc_id,
       |          row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS sem_rank
       |        FROM semall ORDER BY cos DESC, doc_id ASC LIMIT 50),
       |fused AS (
       |  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
       |    CAST(coalesce(1000000 // (60 + l.lex_rank), 0)
       |       + coalesce(1000000 // (60 + s.sem_rank), 0) AS BIGINT) AS rrf_micro
       |  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)
       |SELECT row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS rank,
       |  doc_id, lex_rank, sem_rank, rrf_micro
       |FROM fused ORDER BY rrf_micro DESC, doc_id ASC LIMIT 10""".stripMargin

  /** Retrieval-quality metrology — NDCG@10 and MRR of the integer-exact
    * BM25 ranking ([[searchBm25]]'s scorer) against term-coverage
    * relevance labels, over a small evaluation query set — the eval loop
    * every retrieval pipeline runs next to the ranker itself (as
    * `ann_recall` does for the ANN operators). Relevance is graded:
    * rel(q, doc) = number of distinct query terms the document contains;
    * the ideal ranking orders by rel. All metric arithmetic stays exact
    * across engines: the DCG position discounts 1/log2(rank+1) are a
    * LITERAL micro-unit table (round(1e6/log2(r+1)), identical integers
    * on both sides), so DCG@10 and IDCG@10 are exact BIGINT sums;
    * NDCG = round(dcg/idcg, 6); MRR is over the FULL-coverage event
    * (first rank with rel = |q|) as 1000000 DIV rank — integer-exact,
    * 0 when no document matches every term.
    *
    * Scale posture: one postings pass shared across eval queries (the
    * query list broadcast onto the token stream); the per-query rank
    * windows partition by qid — each partition holds one query's
    * candidate postings, the standard eval fan-out; with a corpus-sized
    * candidate set per query the scale path is per-partition top-k heaps
    * (TakeOrderedAndProject per qid) feeding the same literal-table
    * metric arithmetic, since only ranks ≤ k contribute. */
  def searchNdcg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val evalQ = Seq(
      1L -> "dup", 1L -> "vector", 1L -> "hash",
      2L -> "key", 2L -> "merge",
      3L -> "scan", 3L -> "sort", 3L -> "join", 3L -> "data")
    val qdf = broadcast(evalQ.toDF("qid", "term"))
    val nterms = broadcast(qdf.groupBy(col("qid"))
      .agg(count(lit(1)).as("n_terms")))
    val wMap = typedLit(Map(
      1 -> 1000000L, 2 -> 630930L, 3 -> 500000L, 4 -> 430677L,
      5 -> 386853L, 6 -> 356207L, 7 -> 333333L, 8 -> 315465L,
      9 -> 301030L, 10 -> 289065L))
    val docs = Tables.t(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"),
        explode(split(Dedup.normalized(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = broadcast(
      dl.agg(sum(col("dl")).as("l_tot"))
        .crossJoin(docs.agg(count(lit(1)).as("n_docs"))))
    val qtf = toks.join(qdf, Seq("term"))
      .groupBy(col("qid"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfq = broadcast(
      qtf.groupBy(col("qid"), col("term")).agg(count(lit(1)).as("df")))
    val scored = qtf.join(dfq, Seq("qid", "term")).join(dl, Seq("doc_id"))
      .crossJoin(stats)
      .withColumn("s",
        expr("""((2*(n_docs - df) + 1) * 1000000 DIV (2*df + 1))
               | * ((44*tf*l_tot*1000000)
               |    DIV (20*tf*l_tot + 6*l_tot + 18*dl*n_docs))
               | DIV 1000000""".stripMargin))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("rel"), sum(col("s")).as("score_q"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("score_q").desc, col("doc_id").asc)
    val wIdeal = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("doc_id").asc)
    val ranked = scored
      .withColumn("rank", row_number().over(wRank))
      .withColumn("irank", row_number().over(wIdeal))
    ranked.join(nterms, Seq("qid"))
      .groupBy(col("qid"), col("n_terms"))
      .agg(
        count(lit(1)).as("n_cand"),
        sum(when(col("rank") <= 10,
          col("rel") * element_at(wMap, col("rank"))).otherwise(0L)).as("dcg"),
        sum(when(col("irank") <= 10,
          col("rel") * element_at(wMap, col("irank"))).otherwise(0L)).as("idcg"),
        min(when(col("rel") === col("n_terms"), col("rank")))
          .cast("long").as("full_rank"))
      .select(col("qid"), col("n_cand"), col("dcg"), col("idcg"),
        round(col("dcg").cast("double") / col("idcg"), 6).as("ndcg"),
        expr("CAST(coalesce(1000000 DIV full_rank, 0) AS BIGINT)")
          .as("rr_micro"),
        col("full_rank"))
  }

  /** The identical metric arithmetic in the oracle dialect — same
    * literal discount table, same total orders, same integer BM25. */
  val searchNdcgSql: String =
    raw"""WITH q(qid, term) AS (VALUES
       |    (1,'dup'),(1,'vector'),(1,'hash'),
       |    (2,'key'),(2,'merge'),
       |    (3,'scan'),(3,'sort'),(3,'join'),(3,'data')),
       |w(r, wt) AS (VALUES
       |    (1,1000000),(2,630930),(3,500000),(4,430677),(5,386853),
       |    (6,356207),(7,333333),(8,315465),(9,301030),(10,289065)),
       |toks AS (
       |  SELECT doc_id,
       |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
       |  FROM documents),
       |tok2 AS (SELECT doc_id, term FROM toks WHERE len(term) > 0),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
       |stats AS (SELECT (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS l_tot,
       |                 (SELECT count(*) FROM documents) AS n_docs),
       |qtf AS (SELECT qid, doc_id, t.term, count(*) AS tf
       |        FROM tok2 t JOIN q ON q.term = t.term
       |        GROUP BY qid, doc_id, t.term),
       |dfq AS (SELECT qid, term, count(*) AS df FROM qtf GROUP BY qid, term),
       |scored AS (
       |  SELECT t.qid, t.doc_id,
       |    (((2*(n_docs - df) + 1) * 1000000 // (2*df + 1))
       |     * ((44*tf*l_tot*1000000)
       |        // (20*tf*l_tot + 6*l_tot + 18*d.dl*n_docs)))
       |     // 1000000 AS s
       |  FROM qtf t JOIN dfq USING (qid, term)
       |       JOIN dl d ON d.doc_id = t.doc_id, stats),
       |agg AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS rel,
       |               CAST(sum(s) AS BIGINT) AS score_q
       |        FROM scored GROUP BY qid, doc_id),
       |ranked AS (SELECT *,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY score_q DESC, doc_id) AS rank,
       |    row_number() OVER (PARTITION BY qid
       |                       ORDER BY rel DESC, doc_id) AS irank
       |  FROM agg),
       |ranked2 AS (SELECT r.*, coalesce(w1.wt, 0) AS wr, coalesce(w2.wt, 0) AS wi
       |  FROM ranked r LEFT JOIN w w1 ON w1.r = r.rank
       |                LEFT JOIN w w2 ON w2.r = r.irank),
       |nt AS (SELECT qid, count(*) AS n_terms FROM q GROUP BY qid),
       |perq AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(sum(rel * wr) AS BIGINT) AS dcg,
       |    CAST(sum(rel * wi) AS BIGINT) AS idcg,
       |    min(CASE WHEN rel = n_terms THEN rank END) AS full_rank
       |  FROM ranked2 JOIN nt USING (qid) GROUP BY qid)
       |SELECT CAST(qid AS BIGINT) AS qid, n_cand, dcg, idcg,
       |  round(CAST(dcg AS DOUBLE) / idcg, 6) AS ndcg,
       |  CAST(coalesce(1000000 // full_rank, 0) AS BIGINT) AS rr_micro,
       |  CAST(full_rank AS BIGINT) AS full_rank
       |FROM perq""".stripMargin

  /** Count-based bigram language-model TRAINING — the model behind
    * `text_lm_score` (which scores with a fixed char-trigram table; this
    * trains a word-bigram table from the corpus itself): within-document
    * adjacent token pairs counted corpus-wide, add-1 smoothed over the
    * corpus vocabulary, p(w2|w1) = (c12 + 1) / (ctx1 + V) — emitted in
    * exact micro-units ((c12+1)·10⁶ DIV (ctx1+V)), so the whole model
    * table is integer-deterministic across engines and partitionings.
    * ctx1 is the CONTEXT count (bigrams starting at w1), the correct
    * denominator (token counts would over-count document-final words).
    *
    * Scale posture: bigrams come from one zip of each token array with
    * its own tail (a projection — no self-join, no positions shuffle);
    * two map-side-combining aggregations (bigram, context); the V
    * scalar broadcast; top-50 via TakeOrderedAndProject. This is the
    * KenLM-style count pass — at 100 TB the bigram table is the only
    * corpus-derived relation and it is vocabulary², sharded by w1. */
  /** Per-document adjacent-token pairs (the corpus relation both the
    * trainer and the scorer consume — one definition, two deployments). */
  private def docBigrams(docs: DataFrame): DataFrame = {
    val ws = split(Dedup.normalized(col("text")), " ")
    docs.select(col("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("pq"))
      .select(col("doc_id"), col("pq.0").as("w1"), col("pq.1").as("w2"))
  }

  /** The full add-1-smoothed bigram model (w1, w2, c12, ctx1, p_micro) —
    * [[lmBigram]] emits its top-50, [[lmPerplexity]] joins documents
    * against ALL of it. */
  private def bigramModel(docs: DataFrame): DataFrame =
    bigramModelFrom(docs, docBigrams(docs))

  /** Model from an ALREADY-BUILT bigram frame, so [[lmPerplexity]]'s
    * scorer and trainer share one tokenize/explode pass (the bc groupBy
    * shuffle and the scorer's join shuffle key on the same (w1, w2), so
    * Spark's ReuseExchange can reuse the exchange too). */
  private def bigramModelFrom(docs: DataFrame, bigrams: DataFrame): DataFrame = {
    val ws = split(Dedup.normalized(col("text")), " ")
    val bc = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val ctx = bc.groupBy(col("w1")).agg(sum(col("c12")).as("ctx1"))
    val vocab = broadcast(docs.select(explode(ws).as("t"))
      .filter(length(col("t")) > 0)
      .agg(countDistinct(col("t")).as("v")))
    bc.join(ctx, Seq("w1")).crossJoin(vocab)
      .select(col("w1"), col("w2"), col("c12"), col("ctx1"),
        expr("(c12 + 1) * 1000000 DIV (ctx1 + v)").as("p_micro"))
  }

  def lmBigram(s: SparkSession, dir: String): DataFrame =
    bigramModel(Tables.t(s, dir, "documents"))
      .orderBy(col("c12").desc, col("w1"), col("w2")).limit(50)

  /** BIGRAM-LM document perplexity — [[lmBigram]]'s trained model APPLIED
    * as the quality filter (the CCNet/Wenzek-et-al. decision `text_lm_score`
    * makes with a unigram model, here with the bigram model — gibberish
    * with plausible unigrams but implausible transitions scores far worse):
    * each document's mean log₂ p(w2|w1) over its adjacent pairs, joined
    * against the full smoothed model. The per-pair probability is the
    * model's EXACT integer `p_micro`, so both engines take log₂ of
    * identical inputs; the mean is rounded to 4 decimals (the
    * [[textLmScore]] transcendental-drift policy) and perplexity is
    * derived from the already-rounded mean. Documents under 2 words carry
    * no bigrams and drop out, same as the trainer.
    *
    * Scale posture: the model is the V²-sparse bigram table sharded by
    * (w1, w2) — the score join keys on exactly that, with map-side
    * combining down to one row per document; resubstitution guarantees
    * every pair hits the model, so the join is inner with no smoothing
    * branch in the scorer (out-of-corpus scoring would add the same
    * `1·10⁶ DIV (ctx1+V)` miss arm both engines can evaluate). */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    val b = docBigrams(docs)
    // p_micro floors to 0 once ctx1+V > 2e6 (rare transitions at corpus
    // scale); log2(0) is NULL in Spark but -inf-ish divergence in the
    // oracle — clamp to 1 micro-unit in BOTH dialects so the filter
    // keeps penalizing exactly the implausible transitions it targets.
    b.join(bigramModelFrom(docs, b), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log2(greatest(col("p_micro"), lit(1L)).cast("double") / 1000000.0)), 4)
          .as("avg_logprob"))
      .withColumn("ppl", round(pow(lit(2.0), -col("avg_logprob")), 4))
  }

  /** The identical model, join, and rounding in the oracle dialect. */
  val lmPerplexitySql: String =
    raw"""WITH d AS (
       |  SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, ws[CAST(i AS INTEGER)] AS w1, ws[CAST(i AS INTEGER) + 1] AS w2
       |  FROM d, unnest(generate_series(1, len(ws) - 1)) AS t(i)
       |  WHERE len(ws) >= 2),
       |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |       FROM b GROUP BY w1, w2),
       |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS ctx1 FROM bc GROUP BY w1),
       |toks AS (
       |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS t
       |  FROM documents),
       |v AS (SELECT count(DISTINCT t) AS v FROM toks WHERE len(t) > 0),
       |model AS (
       |  SELECT w1, w2, CAST((c12 + 1) * 1000000 // (ctx1 + v) AS BIGINT) AS p_micro
       |  FROM bc JOIN ctx USING (w1), v),
       |scored AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    round(avg(log2(CAST(greatest(p_micro, 1) AS DOUBLE) / 1000000.0)), 4) AS avg_logprob
       |  FROM b JOIN model USING (w1, w2)
       |  GROUP BY doc_id)
       |SELECT doc_id, n_bigrams, avg_logprob,
       |  round(pow(2.0, -avg_logprob), 4) AS ppl
       |FROM scored""".stripMargin

  /** The identical count pass and smoothing arithmetic in the oracle
    * dialect (1-based list indexing replaces the zip). */
  val lmBigramSql: String =
    raw"""WITH d AS (
       |  SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
       |  FROM documents),
       |b AS (
       |  SELECT ws[CAST(i AS INTEGER)] AS w1, ws[CAST(i AS INTEGER) + 1] AS w2
       |  FROM d, unnest(generate_series(1, len(ws) - 1)) AS t(i)
       |  WHERE len(ws) >= 2),
       |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |       FROM b GROUP BY w1, w2),
       |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS ctx1 FROM bc GROUP BY w1),
       |toks AS (
       |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS t
       |  FROM documents),
       |v AS (SELECT count(DISTINCT t) AS v FROM toks WHERE len(t) > 0)
       |SELECT w1, w2, c12, ctx1,
       |  CAST((c12 + 1) * 1000000 // (ctx1 + v) AS BIGINT) AS p_micro
       |FROM bc JOIN ctx USING (w1), v
       |ORDER BY c12 DESC, w1, w2 LIMIT 50""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lm_bigram" -> (lmBigram _),
    "lm_perplexity" -> (lmPerplexity _),
    "search_ndcg" -> (searchNdcg _),
    "text_tfidf" -> (textTfidf _),
    "search_bm25" -> ((s: SparkSession, dir: String) => searchBm25(s, dir)),
    "search_bm25_multi" -> ((s: SparkSession, dir: String) => searchBm25Multi(s, dir)),
    "search_rrf" -> ((s: SparkSession, dir: String) => searchRrf(s, dir)),
    "text_stats" -> (textStats _),
    "text_tokens" -> (textTokens _),
    "text_langid" -> (textLangid _),
    "classify_nb" -> (classifyNb _),
    "text_fingerprint" -> (textFingerprint _),
    "text_fingerprint_rolling" -> (textFingerprintRolling _),
    "text_quality" -> (textQuality _),
    "text_repetition" -> (textRepetition _),
    "text_boilerplate" -> (textBoilerplate _),
    "text_vocab" -> (textVocab _),
    "text_lm_score" -> (textLmScore _),
    "text_zipf" -> (textZipf _),
    "text_redact" -> (textRedact _))

  /** The same stopword-hit argmax (ties → lexicographically larger lang)
    * phrased in the oracle dialect: sorted (score, lang) struct list,
    * last element. */
  val textLangidSql: String = {
    val structs = langProfiles.toSeq.sortBy(_._1).map { case (lang, stops) =>
      val set = stops.map(w => s"'$w'").mkString("[", ",", "]")
      s"struct_pack(s := len(list_filter(ws, x -> list_contains($set, x))), l := '$lang')"
    }.mkString(",\n    ")
    s"""WITH w AS (
       |  SELECT doc_id, lang,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
       |  FROM documents)
       |SELECT doc_id, lang AS labeled,
       |  list_sort([
       |    $structs
       |  ])[-1].l AS predicted
       |FROM w""".stripMargin
  }

  /** Gopher/C4-style rule-based quality filter — the curation gate a
    * training-data pipeline runs between stats and dedup: length bounds,
    * word-shape bound, stopword floor, symbol-noise ceiling, folded into
    * per-rule flags, a keep decision, and a score. Every signal is an
    * exact integer ratio compared against a constant, so the decision is
    * bit-identical across engines and cluster sizes; the whole operator
    * is one codegen projection over the scan (no shuffle at any scale). */
  /** The four rule flags over a text column — shared by [[textQuality]]
    * and the curation funnel so the keep definition cannot drift. */
  def qualityFlags(text: Column): Seq[Column] = {
    val ws = words(text)
    val nw = size(ws).cast("double")
    val awl = aggregate(transform(ws, w => length(w)), lit(0),
      (acc, x) => acc + x).cast("double") / nw
    val stopRatio = size(filter(ws,
      w => w.isin(Seq("the", "a", "of", "and", "to", "in", "is").map(lit(_)): _*)))
      .cast("double") / nw
    // NULLIF: an empty-text document has length 0 — ANSI mode (Spark 4
    // default) would crash the division; DuckDB's double/0 is NULL, so
    // the guard also keeps the two engines' keep-flag semantics aligned
    val symRatio = length(regexp_replace(lower(text), "[a-z0-9 ]", ""))
      .cast("double") / nullif(length(text), lit(0))
    Seq(nw >= 20, awl <= 4.75, stopRatio >= 0.05, symRatio <= 0.1)
  }

  /** Duplicate-trigram fraction over a text column (NULL below 3 words)
    * — the funnel's repetition gate; the same trigram construction and
    * NULLIF-guarded division as [[repetitionOf]]. */
  def dupTrigramFrac(text: Column): Column = {
    import graft.functions.{GraftFunctions => G}
    // let-bind the split and the trigram list: referenced from lambda
    // bodies, an unbound `words(text)` re-evaluates per element —
    // measured 32 s vs 0.9 s over sf0.1 (see GraftFunctions.bind)
    G.bind(words(text)) { ws =>
      G.bind(when(size(ws) >= 3,
        transform(sequence(lit(1), size(ws) - 2),
          i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1),
            element_at(ws, i + 2))))
        .otherwise(array().cast("array<string>"))) { tg =>
        (size(tg).cast("long") - size(array_distinct(tg)).cast("long"))
          .cast("double") / nullif(size(tg).cast("long"), lit(0L))
      }
    }
  }

  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val Seq(okLen, okShape, okStop, okSym) = qualityFlags(col("text"))
    Tables.t(s, dir, "documents").select(
      col("doc_id"),
      okLen.as("ok_len"), okShape.as("ok_shape"),
      okStop.as("ok_stop"), okSym.as("ok_sym"),
      (okLen && okShape && okStop && okSym).as("keep"),
      ((okLen.cast("int") + okShape.cast("int") + okStop.cast("int")
        + okSym.cast("int")).cast("double") / 4).as("score"))
  }

  val textQualitySql: String =
    raw"""SELECT doc_id, ok_len, ok_shape, ok_stop, ok_sym,
       |  (ok_len AND ok_shape AND ok_stop AND ok_sym) AS keep,
       |  CAST(CAST(ok_len AS INTEGER) + CAST(ok_shape AS INTEGER)
       |    + CAST(ok_stop AS INTEGER) + CAST(ok_sym AS INTEGER) AS DOUBLE) / 4 AS score
       |FROM (
       |  SELECT doc_id,
       |    len(ws) >= 20 AS ok_len,
       |    CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum') AS DOUBLE) / len(ws) <= 4.75 AS ok_shape,
       |    CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(ws) >= 0.05 AS ok_stop,
       |    CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) <= 0.1 AS ok_sym
       |  FROM (SELECT doc_id, text,
       |          string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
       |        FROM documents) base) flags""".stripMargin

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    * Models", Table A1: duplicate word/n-gram fractions and top-n-gram
    * dominance) — the redundancy gate a curation pipeline applies next to
    * [[textQuality]]'s shape rules: boilerplate-heavy and loop-generated
    * documents show high duplicate-n-gram fractions long before exact or
    * near dedup can catch them (those compare ACROSS documents; this
    * measures repetition WITHIN one).
    *
    * Every signal is an exact integer-derived ratio (one division at the
    * end), so the values are bit-identical across engines and cluster
    * sizes. Scale posture: one codegen projection over the scan — the
    * per-distinct-element occurrence count is O(d·n) per DOCUMENT,
    * bounded by document length, never by corpus size; no shuffle at any
    * scale. */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    repetitionOf(Tables.t(s, dir, "documents"))

  /** doc_id + text → repetition signals (split out for unit tests). */
  def repetitionOf(df: DataFrame): DataFrame = {
    // staged selects: each stage aliases the expensive list expressions
    // once, and CollapseProject declines to inline a non-trivial alias
    // referenced more than once downstream — so the words/grams/fold
    // trees are evaluated once per row instead of once per REFERENCE
    // (the single-select spelling re-derived the fold for each of its
    // three output columns)
    val staged = df
      .select(col("doc_id"), words(col("text")).as("ws"))
    val ws = col("ws")
    // word k-grams as strings; sequence() would count DOWN for start >
    // stop, so short documents take the explicit empty branch
    def ngrams(k: Int): Column =
      when(size(ws) >= k,
        transform(sequence(lit(1), size(ws) - (k - 1)),
          i => concat_ws(" ", (0 until k).map(o => element_at(ws, i + o)): _*)))
        .otherwise(array().cast("array<string>"))
    val grams = staged.select(col("doc_id"), ws,
      ngrams(2).as("bg"), ngrams(3).as("tg"))
    val bg = col("bg")
    val tg = col("tg")
    val nbg = size(bg).cast("long")
    val ntg = size(tg).cast("long")
    // argmax via a run-length fold over the SORTED bigram list — O(n log n)
    // per document. The obvious transform(distinct, b -> count(filter(bg)))
    // spelling is O(n²) comparisons AND re-evaluates the bigram
    // construction inside the lambda body per element (higher-order
    // function arguments are bound once, lambda-body subtrees are not) —
    // measured 140 s vs ~2 s on the sf0.01 corpus. Tie-break: at equal
    // run length the later (lexicographically larger) gram wins, which in
    // a sorted list is simply "take the current gram on ties".
    val folded = aggregate(
      array_sort(bg),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("c"), lit(null).cast("string").as("b")),
      (st, x) => {
        val newRun = when(x === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(1L)
        struct(x.as("prev"), newRun.as("run"),
          greatest(newRun, st.getField("c")).as("c"),
          when(newRun >= st.getField("c"), x)
            .otherwise(st.getField("b")).as("b"))
      })
    // empty list: the fold returns its (0, null) init — map the count
    // back to NULL so short documents agree with the oracle's outer join
    val withTop = grams.select(col("doc_id"), ws, bg, tg, folded.as("folded"))
    val top = struct(nullif(col("folded").getField("c"), lit(0L)).as("c"),
      col("folded").getField("b").as("b"))
    withTop.select(
      col("doc_id"),
      size(ws).cast("long").as("n_words"),
      (lit(1.0) - size(array_distinct(ws)).cast("double") / size(ws))
        .as("dup_word_frac"),
      nbg.as("n_bigrams"),
      ((nbg - size(array_distinct(bg)).cast("long")).cast("double") /
        nullif(nbg, lit(0L))).as("dup_bigram_frac"),
      top.getField("c").as("top_bigram_count"),
      (top.getField("c").cast("double") / nullif(nbg, lit(0L)))
        .as("top_bigram_frac"),
      top.getField("b").as("top_bigram"),
      ((ntg - size(array_distinct(tg)).cast("long")).cast("double") /
        nullif(ntg, lit(0L))).as("dup_trigram_frac"))
  }

  /** Same signals in the oracle dialect: 1-indexed `range(1, len)` n-gram
    * construction (empty below k words, matching the guarded Spark
    * branch), the argmax phrased RELATIONALLY (unnest → count → struct
    * max, the same (count, gram) lexicographic comparison as the engine's
    * sorted-run fold), NULLIF-guarded divisions. Verified: DuckDB
    * `range(1, 0)` is `[]`, and the LEFT JOIN leaves short documents'
    * top-gram columns NULL, matching the fold's nullified init. */
  val textRepetitionSql: String =
    raw"""WITH base AS (
       |  SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, ws,
       |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg,
       |    list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tg
       |  FROM base),
       |tops AS (
       |  SELECT doc_id, max(struct_pack(c := CAST(cnt AS BIGINT), b := b)) AS tp
       |  FROM (SELECT doc_id, b, count(*) AS cnt
       |        FROM (SELECT doc_id, unnest(bg) AS b FROM grams)
       |        GROUP BY doc_id, b)
       |  GROUP BY doc_id)
       |SELECT g.doc_id,
       |  CAST(len(ws) AS BIGINT) AS n_words,
       |  1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac,
       |  CAST(len(bg) AS BIGINT) AS n_bigrams,
       |  CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
       |    / nullif(len(bg), 0) AS dup_bigram_frac,
       |  tp.c AS top_bigram_count,
       |  CAST(tp.c AS DOUBLE) / nullif(len(bg), 0) AS top_bigram_frac,
       |  tp.b AS top_bigram,
       |  CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE)
       |    / nullif(len(tg), 0) AS dup_trigram_frac
       |FROM grams g LEFT JOIN tops USING (doc_id)""".stripMargin

  /** Cross-document boilerplate removal (CCNet-style, Wenzek et al.
    * 2020): segment every document into fixed 8-word windows over the
    * normalized text, count each segment's DOCUMENT frequency across the
    * corpus, and strip segments appearing in ≥ 3 documents — the
    * sub-document dedup that catches shared headers/footers/templates
    * which whole-document dedup (same hash) and near-dup (still below
    * threshold) both miss. Output per document: segment counts and the
    * normalized text reassembled without boilerplate (order-preserving).
    *
    * Scale posture: the same explode → groupBy(segment) shape as the
    * shingle pipelines — one corpus-scale exchange for the DF count, one
    * join back (both on the segment string), one per-doc reassembly
    * aggregate; every stage map-side combines. The df ≥ 3 threshold and
    * 8-word window are the CCNet defaults scaled to the fixture corpus. */
  /** Fixed-width word segments over the normalized text: (doc_id, pos,
    * s) — shared by [[textBoilerplate]] and the contamination audit so
    * the window definition cannot drift. */
  def segmentsOf(docs: DataFrame, segWords: Int = 8): DataFrame =
    docs.select(col("doc_id"),
      split(Dedup.normalized(col("text")), " ").as("w"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), ceil(size(col("w")) / lit(segWords.toDouble)).cast("int")),
          i => concat_ws(" ", slice(col("w"), (i - 1) * segWords + 1, lit(segWords)))))
          .as(Seq("pos", "s")))

  def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    val segs = segmentsOf(docs)
    val dfreq = segs.groupBy(col("s"))
      .agg(countDistinct(col("doc_id")).as("df"))
    segs.join(dfreq, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_boiler"),
        concat_ws(" ", transform(
          filter(
            array_sort(collect_list(struct(col("pos"),
              col("s").as("seg"), (col("df") < 3).as("k")))),
            x => x.getField("k")),
          x => x.getField("seg"))).as("clean_text"))
  }

  /** Oracle twin: DuckDB's zipped parallel unnest enumerates segment
    * ordinals, 1-based inclusive list slicing builds the same windows
    * (both slicers clamp the final partial window), and the reassembly
    * is the same sort-filter-join over (pos, seg, keep) structs. The
    * all-boilerplate edge needs the coalesce: DuckDB's
    * `array_to_string([], ' ')` is NULL where Spark's concat_ws is ''
    * (caught by the sf1 sweep — only the inflated corpus produces
    * fully-boilerplate documents). */
  val textBoilerplateSql: String =
    raw"""WITH ws AS (
       |  SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, i AS pos, array_to_string(w[(i-1)*8+1:i*8], ' ') AS s
       |  FROM ws, unnest(range(1, CAST(ceil(len(w)/8.0) AS INT)+1)) t(i)),
       |dfreq AS (SELECT s, count(DISTINCT doc_id) AS df FROM seg GROUP BY s),
       |j AS (SELECT doc_id, pos, s, df FROM seg JOIN dfreq USING (s))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg,
       |  CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  coalesce(array_to_string(list_transform(list_filter(
       |    list_sort(list(struct_pack(p := pos, seg := s, k := df < 3))),
       |    x -> x.k), x -> x.seg), ' '), '') AS clean_text
       |FROM j GROUP BY doc_id""".stripMargin

  /** Vocabulary induction — the corpus statistics pass before tokenizer
    * training: top-k tokens by DOCUMENT frequency (one vote per document
    * via array_distinct, so a single spammy document cannot dominate),
    * computed with the Space-Saving sketch
    * (`GraftFunctions.approx_top_k`) — O(capacity) memory per partition
    * at any corpus size, where an exact GROUP BY over a web-scale token
    * domain would not fit. The fixture vocabulary (≈40 tokens) sits far
    * below capacity 4096, the provably-exact regime, so the oracle is
    * the plain relational twin. */
  def textVocab(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{GraftFunctions => G}
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("w"))
      .agg(G.approx_top_k(col("w"), capacity = 4096, k = 20).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.value").as("value"),
        col("h.count_est").as("doc_freq"),
        col("h.max_err").as("max_err"))
  }

  val textVocabSql: String =
    raw"""SELECT w AS value, count(*) AS doc_freq, CAST(0 AS BIGINT) AS max_err
       |FROM (
       |  SELECT doc_id,
       |    unnest(list_distinct(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS w
       |  FROM documents) t
       |GROUP BY w
       |ORDER BY doc_freq DESC, value
       |LIMIT 20""".stripMargin

  /** Fixed-point integer log2 in 1/65536ths — Mitchell's (1961)
    * exponent-plus-mantissa approximation with a quadratic interpolation
    * correction (log2(1+f) ≈ f + 0.343·f·(1−f), max error 0.0082 bits vs
    * Mitchell's 0.086): `b·2¹⁶ + f + (f·(2¹⁶−f)·22479) DIV 2³²` where
    * b = ⌊log2 x⌋ comes from the binary-string length and
    * f = x·2¹⁶ DIV 2ᵇ − 2¹⁶ is the 16-bit mantissa fraction. Strictly
    * monotone in x (the correction's derivative 1 + 0.343·(1−2f) stays
    * positive on [0,1]) and PURE integer arithmetic — the same BIGINT ops
    * on every engine — so classifiers built on it are bit-deterministic
    * where `ln()` would drift by engine ulps. Emitted as a SQL fragment
    * because both [[classifyNb]] and its oracle inline it verbatim.
    * Overflow: f·(2¹⁶−f)·22479 ≤ 2.42·10¹³ and x·2¹⁶ stays in BIGINT for
    * x ≤ 1.4·10¹⁴ — far above any corpus count here. */
  private[pipeline] def llog2(x: String): String = {
    val b = s"(length(bin(CAST($x AS BIGINT)))-1)"
    val f = s"(CAST($x AS BIGINT)*65536 DIV shiftleft(CAST(1 AS BIGINT), $b) - 65536)"
    s"($b*65536 + $f + ($f*(65536-$f)*22479) DIV 4294967296)"
  }

  /** The identical fragment in the oracle dialect (`//`, `<<`). */
  private[pipeline] def llog2Duck(x: String): String = {
    val b = s"(length(bin(CAST($x AS BIGINT)))-1)"
    val f = s"(CAST($x AS BIGINT)*65536 // (CAST(1 AS BIGINT) << $b) - 65536)"
    s"($b*65536 + $f + ($f*(65536-$f)*22479) // 4294967296)"
  }

  /** Multinomial Naive Bayes language classifier — train AND predict in
    * one query (McCallum & Nigam 1998): class-conditional token counts
    * with add-1 smoothing over the corpus vocabulary, documents scored by
    * `log p(c) + Σ_w tf_w·log p(w|c)` and assigned to the argmax class —
    * the trained counterpart of the stopword-profile heuristic
    * `text_langid`, and the same shape as the fastText/CLD linear
    * classifiers every corpus-curation pipeline runs for language and
    * quality routing. Output is the labeled-vs-predicted confusion
    * matrix (≤ |classes|² rows).
    *
    * Every log goes through [[llog2]], the quadratic-corrected integer
    * fixed-point log2 — so scores are exact BIGINTs and the argmax (ties
    * broken by class name) is bit-deterministic across engines and
    * partitionings; measured at sf0.01 the quantization costs ONE
    * document vs an exact-`ln` twin (234 vs 235 of 500 correct,
    * majority-class floor 218). The smoothed-denominator term factors as
    * `n_tok(d)·llog2(tok_c + V)` so absent (w, c) pairs never need rows.
    *
    * Scale posture: one token explode feeding three map-side-combining
    * aggregates (class-term counts = the MODEL, per-doc tf, per-doc
    * length); scoring joins postings to the model on the term key —
    * V·|classes| rows, term-bucketed at warehouse scale; the class-level
    * scalars broadcast; one per-doc argmax window partitioned by doc_id.
    * No driver-side state: "training" IS the count aggregation, exactly
    * how production NB/fastText label models train at corpus scale. */
  def classifyNb(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.t(s, dir, "documents")
    val tok2 = docs
      .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val v = tok2.agg(countDistinct(col("w")).as("v"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val cls = docs.groupBy(col("lang").as("c")).agg(count(lit(1)).as("n_c"))
    val cwc = tok2.groupBy(col("lang").as("c"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val tokc = cwc.groupBy(col("c")).agg(sum(col("cnt")).as("tok_c"))
    val tf = tok2.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val ndoc = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_tok"))
    val present = tf.join(cwc, Seq("w"))
      .withColumn("t", expr(s"tf * ${llog2("cnt+1")}"))
      .groupBy(col("doc_id"), col("c")).agg(sum(col("t")).as("s_num"))
    val classSide = broadcast(cls.join(tokc, Seq("c")).crossJoin(v).crossJoin(n))
    val base = docs.select(col("doc_id"), col("lang").as("labeled"))
      .join(ndoc, Seq("doc_id"))
      .crossJoin(classSide)
    val scores = base.join(present, Seq("doc_id", "c"), "left")
      .withColumn("score",
        coalesce(col("s_num"), lit(0L))
          - col("n_tok") * expr(llog2("tok_c + v"))
          + expr(llog2("n_c")) - expr(llog2("n_docs")))
    scores.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("c").asc)))
      .filter(col("rn") === 1)
      .groupBy(col("labeled"), col("c").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** The identical counts, smoothing, fixed-point logs, and argmax in
    * the oracle dialect. */
  val classifyNbSql: String = {
    val lCnt = llog2Duck("k.cnt+1")
    val lDen = llog2Duck("b.tok_c + b.v")
    val lNc = llog2Duck("b.n_c")
    val lN = llog2Duck("b.n_docs")
    raw"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS w
       |  FROM documents),
       |tok2 AS (SELECT doc_id, lang, w FROM toks WHERE len(w) > 0),
       |v AS (SELECT count(DISTINCT w) AS v FROM tok2),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |cls AS (SELECT lang AS c, count(*) AS n_c FROM documents GROUP BY lang),
       |cwc AS (SELECT lang AS c, w, count(*) AS cnt FROM tok2 GROUP BY lang, w),
       |tokc AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS tok_c FROM cwc GROUP BY c),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok2 GROUP BY doc_id, w),
       |ndoc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY doc_id),
       |present AS (
       |  SELECT t.doc_id, k.c, CAST(sum(t.tf * $lCnt) AS BIGINT) AS s_num
       |  FROM tf t JOIN cwc k ON k.w = t.w GROUP BY t.doc_id, k.c),
       |base AS (
       |  SELECT d.doc_id, d.lang AS labeled, cl.c, cl.n_c, tc.tok_c, nd.n_tok,
       |         v.v, n.n_docs
       |  FROM documents d, cls cl, tokc tc, ndoc nd, v, n
       |  WHERE tc.c = cl.c AND nd.doc_id = d.doc_id),
       |scores AS (
       |  SELECT b.doc_id, b.labeled, b.c,
       |    coalesce(p.s_num, 0) - b.n_tok * $lDen + ($lNc - $lN) AS score
       |  FROM base b LEFT JOIN present p ON p.doc_id = b.doc_id AND p.c = b.c),
       |pred AS (SELECT doc_id, labeled, c AS predicted,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c ASC) AS rn
       |  FROM scores)
       |SELECT labeled, predicted, CAST(count(*) AS BIGINT) AS n_docs
       |FROM pred WHERE rn = 1 GROUP BY labeled, predicted""".stripMargin
  }

  /** Corpus-LM quality scoring — the CCNet-style language-model filter
    * with the model the engine can actually train in-query: a unigram LM
    * fit on the corpus itself (pass 1: global token counts), then each
    * document scored by its mean token log₂-probability and perplexity
    * (pass 2). Low-probability-mass documents (gibberish, wrong-language,
    * OCR noise) score far below the corpus mode — the same decision
    * CCNet makes with a pretrained KenLM, here self-contained and
    * oracle-checkable. No smoothing is needed: the vocabulary IS the
    * corpus, so every scored token has positive count by construction.
    *
    * Determinism: one `log2(count/total)` per distinct token (division
    * before log, the same op order both engines), averaged per document
    * and rounded to 4 decimals — transcendental libraries may differ in
    * the last ulp, which rounding absorbs (the same policy as
    * `agg_stats`' float statistics); perplexity is derived from the
    * ALREADY-ROUNDED mean so both engines exponentiate the identical
    * input. Scale posture: pass 1 is one token-count exchange; pass 2
    * re-tokenizes and joins on the token string (vocabulary-sized build
    * side — broadcastable for real vocabularies) with the scalar total
    * broadcast; one map-side-combining per-document average. */
  def textLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
    val counts = tok.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val total = counts.agg(sum(col("n_w")).as("n_total"))
    tok.join(counts, Seq("w"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        round(avg(log2(col("n_w").cast("double") / col("n_total"))), 4)
          .as("avg_logprob"))
      .withColumn("ppl", round(pow(lit(2.0), -col("avg_logprob")), 4))
  }

  val textLmScoreSql: String =
    raw"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
       |  FROM documents),
       |counts AS (SELECT w, count(*) AS n_w FROM tok GROUP BY w),
       |tot AS (SELECT sum(n_w) AS n_total FROM counts),
       |scored AS (
       |  SELECT doc_id, count(*) AS n_words,
       |    round(avg(log2(CAST(n_w AS DOUBLE) / n_total)), 4) AS avg_logprob
       |  FROM tok JOIN counts USING (w), tot
       |  GROUP BY doc_id)
       |SELECT doc_id, n_words, avg_logprob,
       |  round(pow(2.0, -avg_logprob), 4) AS ppl
       |FROM scored""".stripMargin

  /** Zipf-fit corpus diagnostic — token frequencies in natural language
    * follow a power law `freq ∝ rank^(-s)` with s ≈ 1 (Zipf 1949); a
    * corpus whose fitted slope or R² departs sharply flags template
    * spam, deduplication damage, or synthetic-generation artifacts. Per
    * language: distinct-token count and the least-squares fit of
    * ln(freq) on ln(rank) (slope + R², both engines' regr_* aggregates).
    * Ranks are total-ordered (count desc, token asc) so the fit is
    * deterministic; the round-4 grain absorbs cross-engine ln/summation
    * drift. Scale posture: one token-count exchange, one per-language
    * rank window, one regression aggregate. */
  def textZipf(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.t(s, dir, "documents")
      .select(col("lang"), explode(words(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
    val ranked = counts.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n").desc, col("w"))))
    ranked.groupBy(col("lang")).agg(
      count(lit(1)).as("n_distinct"),
      round(regr_slope(log(col("n")), log(col("r"))), 4).as("zipf_slope"),
      round(regr_r2(log(col("n")), log(col("r"))), 4).as("zipf_r2"))
  }

  val textZipfSql: String =
    raw"""WITH tok AS (
       |  SELECT lang,
       |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
       |  FROM documents),
       |counts AS (SELECT lang, w, count(*) AS n FROM tok GROUP BY lang, w),
       |ranked AS (
       |  SELECT lang, n,
       |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, w) AS r
       |  FROM counts)
       |SELECT lang, count(*) AS n_distinct,
       |  round(regr_slope(ln(n), ln(r)), 4) AS zipf_slope,
       |  round(regr_r2(ln(n), ln(r)), 4) AS zipf_r2
       |FROM ranked GROUP BY lang""".stripMargin

  /** PII redaction — the scrubbing stage of a training-data pipeline:
    * emails, dotted-quad IPs, and phone-shaped digit runs are replaced
    * with typed placeholders, and the pass is accounted for (counts per
    * category) so the pipeline can audit what it removed. Pure codegen
    * regexp work inside the scan's whole-stage span; the patterns stay in
    * the RE2-compatible subset so the oracle applies them verbatim. */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val phone = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
    Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>").as("redacted"),
        size(regexp_extract_all(col("text"), lit(email), lit(0))).as("n_email"),
        size(regexp_extract_all(col("text"), lit(ip), lit(0))).as("n_ip"),
        size(regexp_extract_all(col("text"), lit(phone), lit(0))).as("n_phone"))
  }

  val textRedactSql: String =
    raw"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
       |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS INTEGER) AS n_email,
       |  CAST(len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}', 0)) AS INTEGER) AS n_ip,
       |  CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{6,}[0-9]', 0)) AS INTEGER) AS n_phone
       |FROM documents""".stripMargin

  /** The rolling hash (h ← h·31 + byte, wrapping 64-bit) reproduced in
    * DuckDB: characters stand in for bytes (fixture text is pure ASCII —
    * asserted — where codepoint == UTF-8 byte), HUGEINT arithmetic mod
    * 2^64 emulates Java Long wraparound, then maps back to signed.
    *
    * EMPTY-input guard: the engine's hash of "" is 0 (empty byte loop),
    * but DuckDB's `string_split('', '')` is `['']`, `unicode('')` is -1,
    * and `list_reduce` returns a single element UNREDUCED — so without
    * the CASE the oracle would emit -1 for an empty (or
    * whitespace-only-normalized) document. */
  val textFingerprintRollingSql: String = {
    def roll(expr: String): String =
      s"""CAST(CASE WHEN hh_$expr < CAST(9223372036854775808 AS HUGEINT) THEN hh_$expr
         |    ELSE hh_$expr - CAST(18446744073709551616 AS HUGEINT) END AS BIGINT)""".stripMargin
    raw"""SELECT doc_id, ${roll("raw")} AS rh_raw, ${roll("norm")} AS rh_norm
       |FROM (
       |  SELECT doc_id,
       |    CASE WHEN text = '' THEN CAST(0 AS HUGEINT)
       |      ELSE list_reduce([CAST(unicode(c) AS HUGEINT) FOR c IN string_split(text, '')],
       |        (h, b) -> (h * 31 + b) % CAST(18446744073709551616 AS HUGEINT)) END AS hh_raw,
       |    CASE WHEN lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) = '' THEN CAST(0 AS HUGEINT)
       |      ELSE list_reduce([CAST(unicode(c) AS HUGEINT)
       |          FOR c IN string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), '')],
       |        (h, b) -> (h * 31 + b) % CAST(18446744073709551616 AS HUGEINT)) END AS hh_norm
       |  FROM documents)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "text_stats" -> textStatsSql,
    "text_tokens" -> textTokensSql,
    "text_langid" -> textLangidSql,
    "classify_nb" -> classifyNbSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_fingerprint_rolling" -> textFingerprintRollingSql,
    "text_quality" -> textQualitySql,
    "text_repetition" -> textRepetitionSql,
    "text_tfidf" -> textTfidfSql,
    "search_bm25" -> searchBm25Sql,
    "search_rrf" -> searchRrfSql,
    "search_bm25_multi" -> searchBm25MultiSql,
    "search_ndcg" -> searchNdcgSql,
    "lm_bigram" -> lmBigramSql,
    "lm_perplexity" -> lmPerplexitySql,
    "text_boilerplate" -> textBoilerplateSql,
    "text_vocab" -> textVocabSql,
    "text_lm_score" -> textLmScoreSql,
    "text_zipf" -> textZipfSql,
    "text_redact" -> textRedactSql)
}
