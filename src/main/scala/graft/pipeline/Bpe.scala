package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Byte-pair-encoding tokenizer TRAINING over the corpus — the pipeline
  * stage that sits between curation and tokenization in every LLM data
  * flow (Sennrich et al. 2016; the reference's scope covers the
  * analytics up to this seam — `TextAnalysis` counts BPE-ish tokens,
  * this trains the merges that define them).
  *
  * The classic algorithm: collapse the corpus to a WORD-COUNT table
  * (vocabulary-sized, orders of magnitude smaller than the corpus —
  * this is the only corpus-wide pass), split each word into character
  * symbols, then repeatedly (a) count adjacent symbol pairs weighted by
  * word count, (b) merge the most frequent pair everywhere. Distributed
  * posture: step (a) is one map-side-combining aggregation over the
  * word table; the driver collects ONLY the argmax pair — O(1) rows per
  * round, never the table; step (b) is a pure Catalyst `aggregate` fold
  * over each word's symbol array (greedy LEFT-to-right, the BPE
  * contract: with pair (a,a), "a a a" → "aa a") — no UDFs, so the whole
  * round stays in codegen. At 100 TB the word table is the standard
  * ~10⁶-row vocabulary: rounds are seconds each regardless of corpus
  * size, because the corpus is touched exactly once.
  *
  * Determinism: argmax ties break on the lexicographically smaller
  * pair, so the merge sequence is a pure function of the word counts
  * under any partitioning.
  */
object Bpe extends graft.EntryModule {

  /** Word-count table of the normalized corpus (words of ≥2 chars —
    * single-char words carry no pairs and never change under merges). */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(Dedup.normalized(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Adjacent-pair weighted counts of a (syms: array<string>, cnt) frame:
    * one explode of the zipped (head, tail) slices. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"), explode(arrays_zip(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1))).as("pq"))
      .groupBy(col("pq").getField("0").as("a"), col("pq").getField("1").as("b"))
      .agg(sum(col("cnt")).as("n"))

  /** Greedy left-to-right application of merge (a, b) → ab to a symbol
    * array, as a Catalyst fold: append each symbol, except when the
    * accumulator ends in `a` and the symbol is `b` — then replace the
    * tail with the merged symbol. Consuming the `a` on merge is what
    * makes overlaps resolve leftmost ("a a a" + (a,a) → ["aa","a"]). */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** One trained merge: (left, right, weighted count). */
  final case class Merge(left: String, right: String, n: Long)

  /** Train `rounds` BPE merges over a word-count frame. Returns the
    * merge sequence and the final symbolized word table. Each round is
    * one aggregation + a 1-row collect; the word table is cached and
    * re-derived functionally (lineage grows by one projection per
    * round — localCheckpoint every 8 rounds cuts it for long trains). */
  def train(wordCnt: DataFrame, rounds: Int): (Seq[Merge], DataFrame) = {
    var words = wordCnt
      .select(split(col("w"), "").as("syms"), col("cnt"))
      .cache()
    val merges = Seq.newBuilder[Merge]
    var done = false
    for (r <- 1 to rounds if !done) {
      val top = pairCounts(words)
        .orderBy(col("n").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += Merge(a, b, n)
        words = words.select(applyMerge(col("syms"), a, b).as("syms"),
          col("cnt"))
        if (r % 8 == 0) words = words.localCheckpoint()
      }
    }
    (merges.result(), words)
  }

  /** Tokenize with a TRAINED merge list — the deployment half of the
    * tokenizer: apply the merges in training order (BPE's encode
    * contract: merge priority = training order, each applied greedily
    * left-to-right) to every word, then join segments back to one
    * token stream per document. K merges = K chained [[applyMerge]]
    * folds composed into ONE projection — a single codegen pass over
    * the corpus, no shuffle, no UDF; the merge list is a plan-time
    * constant exactly like a broadcast vocabulary. Expression size grows
    * linearly in K, so this form is for analysis-sized merge lists
    * (tens; Spark falls back to interpreted projection beyond codegen's
    * method limit) — a production 30k-merge tokenizer applies the SAME
    * greedy fold from a broadcast merge-priority trie in mapPartitions,
    * the one documented seam where expression form stops paying.
    * Output: one row per (doc, token) with the token's position — the
    * relation a token-id lookup (vocab join) consumes. */
  def encode(docs: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    val encodedWords = org.apache.spark.sql.functions.transform(
      split(Dedup.normalized(col(textCol)), " "),
      w => merges.foldLeft(split(w, "")) {
        (acc, m) => applyMerge(acc, m.left, m.right)
      })
    docs
      .withColumn("__tok", flatten(encodedWords))
      .select(col("doc_id"),
        posexplode(col("__tok")).as(Seq("pos", "token")))
  }

  /** PRODUCTION BPE encode of one word against a broadcast merge-rank
    * map — the repeatedly-merge-the-lowest-rank-pair loop every shipped
    * BPE tokenizer runs (GPT-2's encoder; leftmost wins rank ties).
    * Equivalent to [[applyMerge]]'s sequential-by-rank exhaustive form
    * because a merge's output symbol can only participate in LATER-rank
    * merges — BpeSpec pins bit-identity on the fixture and adversarial
    * overlaps, and the `tokenize_bpe` oracle re-derives the sequential
    * form in SQL, so both algorithms are gate-checked against each
    * other. Empty input mirrors the expression form's `split` ([""]). */
  private[pipeline] def encodeWord(w: String,
      rank: Map[(String, String), Int]): Array[String] = {
    if (w.isEmpty) return Array("")
    var syms = w.map(_.toString).toArray
    var continue = true
    while (continue && syms.length >= 2) {
      var best = -1
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; best = i }
        i += 1
      }
      if (best < 0 || bestRank == Int.MaxValue) continue = false
      else {
        val merged = syms(best) + syms(best + 1)
        syms = (syms.take(best) :+ merged) ++ syms.drop(best + 2)
      }
    }
    syms
  }

  private def rankMap(merges: Seq[Merge]): Map[(String, String), Int] =
    merges.zipWithIndex.map { case (m, i) => ((m.left, m.right), i) }.toMap

  /** The PRODUCTION corpus encoder — the seam [[encode]]'s Scaladoc
    * documents: a 30k-merge tokenizer cannot be an expression chain
    * (codegen method limits; K chained folds re-scan every word K
    * times), so the deployment path broadcasts the merge-priority map
    * once and runs the greedy [[encodeWord]] loop in mapPartitions —
    * per-word cost scales with the PAIRS PRESENT in the word (hash
    * lookups), not with K. Same output contract as [[encode]]
    * (doc_id, pos, token), pinned bit-identical in BpeSpec. At 100 TB:
    * one broadcast of O(K) strings, one scan, no shuffle. */
  def encodeBroadcast(docs: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(rankMap(merges))
    docs.select(col("doc_id").cast("long").as("doc_id"),
        split(Dedup.normalized(col(textCol)), " ").as("ws"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val r = bc.value
        it.flatMap { case (id, ws) =>
          // NULL text arrives as a null Seq (split(null) is null); the
          // expression form drops such rows via explode, so match that
          // contract instead of NPE-ing the whole job on one null doc.
          Option(ws).getOrElse(Seq.empty)
            .iterator.flatMap(w => encodeWord(w, r))
            .zipWithIndex.map { case (t, p) => (id, p, t) }
        }
      }.toDF("doc_id", "pos", "token")
  }

  /** Driver-gate entry for the PRODUCTION encoder: a closed-form merge
    * table — the top-16 weighted adjacent character pairs, ranked
    * (n DESC, pair ASC) — applied to the top-100 corpus words through
    * the broadcast [[encodeWord]] loop. Closed-form because a deployed
    * tokenizer ships a FIXED merge list (the trainer's argmax relation
    * is oracled separately as `bpe_pairs`), and because it makes the
    * merges derivable in one SQL aggregation — the oracle then encodes
    * with the SEQUENTIAL-by-rank recursive walk, so the gate
    * cross-checks the two classic BPE encode algorithms against each
    * other on real corpus words at every scale. */
  def tokenizeBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wc = wordCounts(Tables.t(s, dir, "documents"), "text")
    val merges = wc.select(col("cnt"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(16)
      .collect().map(r => Merge(r.getString(0).substring(0, 1),
        r.getString(0).substring(1, 2), r.getLong(1))).toSeq
    val bc = s.sparkContext.broadcast(rankMap(merges))
    wc.orderBy(col("cnt").desc, col("w").asc).limit(100)
      .select(col("w"), col("cnt")).as[(String, Long)]
      .mapPartitions { it =>
        val r = bc.value
        it.map { case (w, cnt) =>
          val toks = encodeWord(w, r)
          (w, cnt, toks.mkString("|"), toks.length.toLong)
        }
      }.toDF("w", "cnt", "tokens", "n_tokens")
  }

  /** The same merge table and the SEQUENTIAL-by-rank exhaustive encode
    * (the [[applyMerge]] algorithm) as one recursive walk in the oracle
    * dialect: state (w, rank, syms, pos, acc) — pos sweeps syms applying
    * merge[rank] greedily left-to-right; a finished sweep promotes acc
    * to syms and advances the rank; rank 17 holds the final symbols. */
  val tokenizeBpeSql: String =
    raw"""WITH RECURSIVE toks AS (
       |  SELECT unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS w
       |  FROM documents),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks WHERE len(w) >= 2 GROUP BY w),
       |prs AS (
       |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, CAST(sum(cnt) AS BIGINT) AS n
       |  FROM wc, unnest(generate_series(1, len(w)-1)) AS t(i) GROUP BY pair),
       |merges AS (
       |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INTEGER) AS rank
       |  FROM (SELECT pair, n FROM prs ORDER BY n DESC, pair LIMIT 16) m),
       |top AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w ASC LIMIT 100),
       |enc AS (
       |  SELECT w, cnt, 1 AS rank, string_split(w,'') AS syms, 1 AS pos,
       |         CAST([] AS VARCHAR[]) AS acc
       |  FROM top
       |  UNION ALL
       |  SELECT e.w, e.cnt,
       |    CASE WHEN e.pos > len(e.syms) THEN e.rank + 1 ELSE e.rank END AS rank,
       |    CASE WHEN e.pos > len(e.syms) THEN e.acc ELSE e.syms END AS syms,
       |    CASE WHEN e.pos > len(e.syms) THEN 1 ELSE e.pos + 1 END AS pos,
       |    CASE WHEN e.pos > len(e.syms) THEN CAST([] AS VARCHAR[])
       |         WHEN len(e.acc) > 0 AND e.acc[-1] = substr(m.pair,1,1)
       |              AND e.syms[e.pos] = substr(m.pair,2,1)
       |           THEN list_append(e.acc[1:len(e.acc)-1], m.pair)
       |         ELSE list_append(e.acc, e.syms[e.pos]) END AS acc
       |  FROM enc e JOIN merges m ON m.rank = e.rank
       |  WHERE e.rank <= 16)
       |SELECT w, cnt, array_to_string(syms,'|') AS tokens,
       |       CAST(len(syms) AS BIGINT) AS n_tokens
       |FROM enc WHERE rank = 17""".stripMargin

  /** Driver-gate entry (the oracled face of the trainer): the weighted
    * adjacent CHARACTER-pair counts of the corpus vocabulary — exactly
    * the argmax relation round 1 of [[train]] consumes — as the top-20
    * with a total-order tie-break. A character pair of a raw word is
    * just its 2-char substring, so the oracle needs no array zip. */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val wc = wordCounts(Tables.t(s, dir, "documents"), "text")
    wc.select(col("cnt"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)
  }

  val bpePairsSql: String =
    raw"""WITH words AS (
       |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
       |  FROM documents),
       |wc AS (SELECT w, count(*) AS cnt FROM words WHERE len(w) >= 2 GROUP BY w),
       |pairs AS (
       |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, cnt
       |  FROM wc, unnest(generate_series(1, len(w) - 1)) AS t(i))
       |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM pairs
       |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin

  // ---- WordPiece (maximal munch) ----------------------------------------

  /** All substrings of `w` with lengths 2–4 — the WordPiece vocabulary
    * candidate set (Schuster & Nakajima 2012 cap the piece length; 4
    * here keeps the fixture vocab discriminative). */
  private def wpGrams(w: Column): Column =
    flatten(transform(sequence(lit(2), lit(4)), l =>
      when(length(w) >= l,
        transform(sequence(lit(1), length(w) - l + 1), i => w.substr(i, l)))
        .otherwise(array().cast("array<string>"))))

  /** Top-`topK` subword vocabulary by occurrence-weighted gram count
    * (count desc, gram asc — total order). The ONLY driver-side state in
    * the WordPiece path: O(topK) strings, the direct analog of
    * [[train]]'s O(1)-per-round argmax collect. */
  def wordpieceVocab(wordCnt: DataFrame, topK: Int): Seq[String] =
    wordCnt.select(col("cnt"), explode(wpGrams(col("w"))).as("g"))
      .groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("g").asc).limit(topK)
      .select("g").collect().map(_.getString(0)).toIndexedSeq

  /** Greedy longest-match-first (maximal munch) segmentation of one word
    * against a literal vocabulary — WordPiece INFERENCE (the algorithm
    * Song et al. 2021 call MaxMatch), as a pure Catalyst fold: walk the
    * positions left to right; at the cursor take the longest 4→3→2-char
    * vocab piece, else fall back to the single character (so segmentation
    * is total without an [UNK] sink). No UDF — the whole walk stays in
    * codegen, one row at a time, shuffle-free. */
  def wordpieceSegment(w: Column, vocab: Seq[String]): Column = {
    val vl = array(vocab.map(lit(_)): _*)
    aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("pos"), array().cast("array<string>").as("pieces")),
      (st, i) => {
        val pos = st.getField("pos")
        val tok = coalesce(
          Seq(4, 3, 2).map(l =>
            when(array_contains(vl, w.substr(pos, lit(l))), w.substr(pos, lit(l)))) :+
            w.substr(pos, lit(1)): _*)
        // the fold visits every index once; only the index AT the cursor
        // advances it (a piece of length L consumes L visits)
        when(i =!= pos, st).otherwise(
          struct((pos + length(tok)).as("pos"),
            concat(st.getField("pieces"), array(tok)).as("pieces")))
      }).getField("pieces")
  }

  /** Driver-gate entry: train a 40-piece vocabulary on the corpus word
    * counts, segment the top-100 words with maximal munch. Scale posture:
    * the gram count is one map-side-combining aggregation over the
    * VOCABULARY table (not the corpus); segmentation is a codegen fold
    * per word — at 100 TB you'd segment the corpus itself with the same
    * column, linearly. */
  def tokenizeWordpiece(s: SparkSession, dir: String): DataFrame = {
    val wc = wordCounts(Tables.t(s, dir, "documents"), "text")
    val vocab = wordpieceVocab(wc, topK = 40)
    wc.orderBy(col("cnt").desc, col("w").asc).limit(100)
      .withColumn("pl", wordpieceSegment(col("w"), vocab))
      .select(col("w"), col("cnt"),
        concat_ws("|", col("pl")).as("pieces"),
        size(col("pl")).cast("long").as("n_pieces"))
  }

  /** The identical vocab induction and greedy walk in the oracle dialect
    * — the walk as a recursive CTE (one row per (word, cursor) state). */
  val tokenizeWordpieceSql: String =
    raw"""WITH RECURSIVE toks AS (
       |  SELECT unnest(string_split(lower(trim(regexp_replace(text,'\s+',' ','g'))),' ')) AS w
       |  FROM documents),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks WHERE len(w) >= 2 GROUP BY w),
       |grams AS (
       |  SELECT substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS g,
       |         CAST(sum(cnt) AS BIGINT) AS n
       |  FROM wc, unnest(generate_series(2,4)) AS L(l),
       |       unnest(generate_series(1, len(w)-l+1)) AS I(i)
       |  GROUP BY g),
       |vocab AS (SELECT g FROM grams ORDER BY n DESC, g ASC LIMIT 40),
       |vl AS (SELECT list(g ORDER BY g) AS v FROM vocab),
       |top AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w ASC LIMIT 100),
       |seg AS (
       |  SELECT w, cnt, 1 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM top
       |  UNION ALL
       |  SELECT w, cnt, pos + len(tok) AS pos, list_append(pieces, tok) AS pieces
       |  FROM (
       |    SELECT s.w, s.cnt, s.pos, s.pieces,
       |      CASE WHEN list_contains(vl.v, substr(s.w, s.pos, 4)) THEN substr(s.w, s.pos, 4)
       |           WHEN list_contains(vl.v, substr(s.w, s.pos, 3)) THEN substr(s.w, s.pos, 3)
       |           WHEN list_contains(vl.v, substr(s.w, s.pos, 2)) THEN substr(s.w, s.pos, 2)
       |           ELSE substr(s.w, s.pos, 1) END AS tok
       |    FROM seg s, vl
       |    WHERE s.pos <= len(s.w)) t)
       |SELECT w, cnt, array_to_string(pieces, '|') AS pieces,
       |       CAST(len(pieces) AS BIGINT) AS n_pieces
       |FROM seg WHERE pos > len(w)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_pairs" -> (bpePairs _),
    "tokenize_bpe" -> (tokenizeBpe _),
    "tokenize_wordpiece" -> (tokenizeWordpiece _))

  val oracle: Map[String, String] = Map(
    "bpe_pairs" -> bpePairsSql,
    "tokenize_bpe" -> tokenizeBpeSql,
    "tokenize_wordpiece" -> tokenizeWordpieceSql)
}
