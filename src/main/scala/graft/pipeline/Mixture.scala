package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Domain-mixture rebalancing — the sampling stage a training-data
  * pipeline runs after curation: the raw corpus over-represents some
  * domains (web crawl) and under-represents others (books, code), so
  * documents are down-sampled per domain to hit a target mixture before
  * tokenization. Two published policies:
  *
  *   - uniform cap (`mix_domain_uniform`): every domain down-sampled to
  *     ~the smallest domain's count — the "equal share" mixture;
  *   - temperature sampling (`mix_temperature`): keep rate
  *     `(n_min / n_d)^(1-α)` with α = 0.5, the multilingual-corpus
  *     rebalancing rule of Conneau & Lample (XLM, 2019) / mT5 — α = 1
  *     keeps everything, α = 0 is the uniform cap, between interpolates.
  *
  * The fixture's `source` column is deliberately uniform (equal doc
  * counts per source — a mixture over it would be the vacuous rate 1.0
  * everywhere), so the domain key is derived with a skewing fold,
  * `domain = 'd' ⧺ ⌊√srcnum⌋`, grouping src0..srcN into power-law-ish
  * buckets (25/75/125/175/100 docs at the fixture scales) — the same
  * synthesize-the-missing-column pattern as `cb_url_host_topn`'s
  * referers. sqrt of a small int is exact in IEEE, so the key agrees
  * bitwise across engines.
  *
  * Determinism is the whole design: the keep decision is
  * `hash64(seed, doc_id) % 1e6 < rate_ppm`, with `rate_ppm` computed in
  * integer arithmetic (uniform: `n_min * 1e6 DIV n_d`) or via
  * correctly-rounded double ops with NO cross-domain accumulation
  * (temperature: one division, one sqrt, one multiply, one floor — each
  * IEEE-correctly-rounded, so both engines and any cluster size produce
  * the identical sample). A policy normalizing by `Σ_d w_d` would sum
  * doubles in engine-specific order and flip boundary documents; the
  * per-domain-only form avoids that class entirely.
  *
  * Scale posture: pass 1 aggregates to |domains| rows (a metadata-sized
  * per-domain count — on a cluster this is the only global exchange and
  * it carries ONE row per domain); pass 2 is a single corpus scan with
  * the rate table broadcast back, the keep predicate evaluated in the
  * scan's codegen stage, and a map-side-combining per-domain count. No
  * corpus-sized shuffle anywhere.
  */
object Mixture extends graft.EntryModule {

  private val Ppm = 1000000L

  /** Skewed domain key over the uniform fixture sources (see scaladoc). */
  def domain: Column =
    concat(lit("d"),
      floor(sqrt(regexp_extract(col("source"), "src([0-9]+)", 1).cast("int")))
        .cast("int").cast("string"))

  val domainSql: String =
    "'d' || CAST(CAST(floor(sqrt(CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT))) AS INT) AS VARCHAR)"

  /** hash64(seed, doc_id) % 1e6 — non-negative (the md5-derived hash is
    * 60-bit positive), so plain % agrees across engines. */
  private def u(seed: Int): Column =
    Dedup.hash64(seed, col("doc_id").cast("string")) % Ppm

  private def uSql(seed: Int): String =
    s"${Dedup.hash64Sql(seed.toString, "CAST(doc_id AS VARCHAR)")} % $Ppm"

  /** Shared two-pass frame: per-domain counts + global min → rate_ppm
    * (policy-supplied) → deterministic keep → per-domain audit summary
    * (n_total, rate_ppm, n_kept, achieved keep fraction). */
  private def mix(s: SparkSession, dir: String, seed: Int,
      ratePpm: Column): DataFrame = {
    val docs = Tables.t(s, dir, "documents").withColumn("domain", domain)
    val counts = docs.groupBy(col("domain")).agg(count(lit(1)).as("n_total"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_total")).as("n_min"))))
      .select(col("domain"), col("n_total"), ratePpm.as("rate_ppm"))
    docs.select(col("domain"), u(seed).as("u"))
      .join(broadcast(rates), Seq("domain"))
      .groupBy(col("domain"), col("n_total"), col("rate_ppm"))
      .agg(sum(when(col("u") < col("rate_ppm"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("domain"), col("n_total"), col("rate_ppm"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_total")).as("kept_frac"))
  }

  private def mixSql(seed: Int, ratePpmSql: String): String =
    s"""WITH doms AS (
       |  SELECT doc_id, $domainSql AS domain FROM documents),
       |counts AS (
       |  SELECT domain, count(*) AS n_total FROM doms GROUP BY domain),
       |rates AS (
       |  SELECT domain, n_total, $ratePpmSql AS rate_ppm
       |  FROM counts, (SELECT min(n_total) AS n_min FROM counts) m),
       |hashed AS (
       |  SELECT domain, ${uSql(seed)} AS u FROM doms)
       |SELECT domain, n_total, rate_ppm,
       |  CAST(sum(CASE WHEN u < rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN u < rate_ppm THEN 1 ELSE 0 END) AS DOUBLE)
       |    / n_total AS kept_frac
       |FROM hashed JOIN rates USING (domain)
       |GROUP BY domain, n_total, rate_ppm""".stripMargin

  /** Uniform cap: every domain down-sampled to ~n_min documents.
    * `rate_ppm = n_min * 1e6 DIV n_total` — pure integer arithmetic
    * (n_min ≤ 2^33 before the product leaves BIGINT range). */
  def mixDomainUniform(s: SparkSession, dir: String): DataFrame =
    mix(s, dir, seed = 7, expr(s"n_min * $Ppm DIV n_total"))

  val mixDomainUniformSql: String =
    mixSql(seed = 7, s"(n_min * $Ppm) // n_total")

  /** Temperature sampling, α = 0.5: `rate_ppm =
    * floor(sqrt(n_min / n_total) * 1e6)` — division, sqrt, multiply,
    * floor are each correctly rounded over doubles, so the ppm threshold
    * is bit-identical on both engines. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame =
    mix(s, dir, seed = 11,
      floor(sqrt(col("n_min").cast("double") / col("n_total")) * Ppm)
        .cast("long"))

  val mixTemperatureSql: String =
    mixSql(seed = 11,
      s"CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_total) * $Ppm) AS BIGINT)")

  /** The kept documents themselves (the pipeline's actual output; the
    * audit entries above are what the oracle pins). */
  def sampleUniform(s: SparkSession, dir: String, seed: Int = 7): DataFrame = {
    val docs = Tables.t(s, dir, "documents").withColumn("domain", domain)
    val counts = docs.groupBy(col("domain")).agg(count(lit(1)).as("n_total"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_total")).as("n_min"))))
      .select(col("domain"),
        expr(s"n_min * $Ppm DIV n_total").as("rate_ppm"))
    docs.join(broadcast(rates), Seq("domain"))
      .filter(u(seed) < col("rate_ppm"))
      .drop("rate_ppm")
  }

  /** Deterministic train/val/test split (90/5/5) — the assignment every
    * training pipeline needs to be REPRODUCIBLE and LEAK-FREE: membership
    * is a pure function of doc_id (`hash64(19, doc_id) % 1e6` against ppm
    * boundaries), so re-runs, backfills, and incremental ingests place
    * every document in the same split without coordination, and a
    * document can never drift between train and eval. Audit output:
    * per-(domain, split) counts. Scale posture: one scan, the split is a
    * scan-stage codegen CASE, one map-side-combining aggregate to
    * |domains|×3 rows. */
  def mixSplit(s: SparkSession, dir: String): DataFrame = {
    val split = when(u(19) < 900000L, "train")
      .when(u(19) < 950000L, "val").otherwise("test")
    Tables.t(s, dir, "documents")
      .select(domain.as("domain"), split.as("split"))
      .groupBy(col("domain"), col("split"))
      .agg(count(lit(1)).as("n"))
  }

  val mixSplitSql: String =
    s"""WITH assigned AS (
       |  SELECT $domainSql AS domain,
       |    CASE WHEN u < 900000 THEN 'train'
       |         WHEN u < 950000 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id, source, ${uSql(19)} AS u FROM documents) h)
       |SELECT domain, split, count(*) AS n
       |FROM assigned GROUP BY domain, split""".stripMargin

  /** Train/test contamination audit — decontamination's measurement
    * step: with the SAME deterministic split as [[mixSplit]] and the
    * SAME 8-word segments as `text_boilerplate`
    * ([[TextAnalysis.segmentsOf]]), count the distinct segments that
    * appear in BOTH a train and a test document. Overlapping n-grams
    * between train data and eval sets silently inflate benchmark scores,
    * so pipelines measure (and then scrub) exactly this set. Output: one
    * audit row — distinct train segments, distinct test segments, the
    * overlap, and overlap/test (the contaminated fraction of the eval
    * vocabulary). Scale posture: one exchange on the segment string with
    * max/sum flags folded map-side; no join — presence in each split is
    * a per-segment aggregate, not a self-join. */
  def mixContamination(s: SparkSession, dir: String): DataFrame = {
    val splitCol = when(u(19) < 900000L, "train")
      .when(u(19) < 950000L, "val").otherwise("test")
    TextAnalysis.segmentsOf(Tables.t(s, dir, "documents"))
      .select(col("s"), splitCol.as("split"))
      .filter(col("split").isin("train", "test"))
      .groupBy(col("s"))
      .agg(max(when(col("split") === "train", 1).otherwise(0)).as("in_tr"),
        max(when(col("split") === "test", 1).otherwise(0)).as("in_te"))
      .agg(sum(col("in_tr")).as("n_train_segs"),
        sum(col("in_te")).as("n_test_segs"),
        sum(col("in_tr") * col("in_te")).as("n_overlap"))
      .select(col("n_train_segs"), col("n_test_segs"), col("n_overlap"),
        // NULLIF: a corpus whose every segment lands in train has zero
        // test segments — contamination is undefined, not an ANSI
        // divide-by-zero crash (caught by the one-row adversarial sweep)
        (col("n_overlap").cast("double") /
          nullif(col("n_test_segs"), lit(0L))).as("contamination"))
  }

  val mixContaminationSql: String =
    raw"""WITH ws AS (
       |  SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
       |  FROM documents),
       |seg AS (
       |  SELECT doc_id, array_to_string(w[(i-1)*8+1:i*8], ' ') AS s
       |  FROM ws, unnest(range(1, CAST(ceil(len(w)/8.0) AS INT)+1)) t(i)),
       |assigned AS (
       |  SELECT s.s,
       |    CASE WHEN u < 900000 THEN 'train'
       |         WHEN u < 950000 THEN 'val' ELSE 'test' END AS split
       |  FROM seg s JOIN (SELECT doc_id, ${uSql(19)} AS u FROM documents) h
       |    USING (doc_id)),
       |flags AS (
       |  SELECT s, max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_tr,
       |         max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_te
       |  FROM assigned WHERE split IN ('train', 'test') GROUP BY s)
       |SELECT CAST(sum(in_tr) AS BIGINT) AS n_train_segs,
       |       CAST(sum(in_te) AS BIGINT) AS n_test_segs,
       |       CAST(sum(in_tr * in_te) AS BIGINT) AS n_overlap,
       |       CAST(sum(in_tr * in_te) AS DOUBLE)
       |         / nullif(sum(in_te), 0) AS contamination
       |FROM flags""".stripMargin

  /** The full curation funnel in one entry — the composition a
    * training-data pipeline actually runs, each stage reusing the SAME
    * column builders its standalone entry pins:
    *
    *   1. quality gate: [[TextAnalysis.qualityFlags]] ∧ duplicate-trigram
    *      fraction ≤ 0.3 ([[TextAnalysis.dupTrigramFrac]]);
    *   2. exact dedup: canonical representative = min doc_id per
    *      normalized-md5 fingerprint (dedup_exact's hash);
    *   3. uniform mixture cap over the SURVIVING per-domain counts.
    *
    * Audit output per domain: n_raw → n_quality → n_unique → (rate_ppm)
    * → n_final. Scale posture: stage 1 is one codegen scan projection;
    * stage 2 is the single corpus-sized exchange (groupBy fingerprint —
    * dedup cannot avoid it); stages 3+ run on metadata-sized per-domain
    * counts with broadcast joins back. The `uniq` frame feeds two
    * consumers (counts + final sample) — at cluster scale you'd persist
    * it; here it recomputes one cheap aggregate. */
  def mixCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val keepQ = TextAnalysis.qualityFlags(col("text")).reduce(_ && _) &&
      coalesce(TextAnalysis.dupTrigramFrac(col("text")), lit(0.0)) <= 0.3
    // flagged feeds three consumers (raw counts, the dedup groupBy, and
    // the final sample); the persist evaluates the quality/trigram/md5
    // projection once instead of once per consumer. The persisted rows
    // are (id, domain, fp, keep): a small fixed-width projection of the
    // corpus — exactly what a production funnel materializes here.
    // (The funnel's former 27 s at sf0.1 was NOT this: dupTrigramFrac
    // re-derived the word split per lambda element — GraftFunctions.bind
    // fixed that, 27 s → 2.0 s measured.)
    val flagged = Tables.t(s, dir, "documents").select(
      col("doc_id"), domain.as("domain"),
      md5(Dedup.normalized(col("text")).cast("binary")).as("fp"),
      keepQ.as("keep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = flagged.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"))
    val uniq = flagged.filter(col("keep"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        expr("min_by(domain, doc_id)").as("domain"))
    val counts = uniq.groupBy(col("domain")).agg(count(lit(1)).as("n_unique"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_unique")).as("n_min"))))
      .select(col("domain"), col("n_unique"),
        expr(s"n_min * $Ppm DIV n_unique").as("rate_ppm"))
    val finals = uniq.select(col("domain"), u(13).as("u"))
      .join(broadcast(rates), Seq("domain"))
      .groupBy(col("domain"))
      .agg(sum(when(col("u") < col("rate_ppm"), 1L).otherwise(0L)).as("n_final"))
    raw.join(broadcast(rates), Seq("domain"), "left")
      .join(broadcast(finals), Seq("domain"), "left")
      .select(col("domain"), col("n_raw"), col("n_quality"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        col("rate_ppm"),
        coalesce(col("n_final"), lit(0L)).as("n_final"))
  }

  val mixCurationFunnelSql: String =
    raw"""WITH base AS (
       |  SELECT doc_id, text, $domainSql AS domain,
       |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id, domain,
       |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
       |    (len(ws) >= 20
       |     AND CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum') AS DOUBLE)
       |         / len(ws) <= 4.75
       |     AND CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
       |         / len(ws) >= 0.05
       |     AND CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
       |         / length(text) <= 0.1
       |     AND coalesce(CAST(len(tgl) - len(list_distinct(tgl)) AS DOUBLE)
       |         / nullif(len(tgl), 0), 0) <= 0.3) AS keep
       |  FROM (SELECT *, list_transform(range(1, len(ws) - 1),
       |          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tgl
       |        FROM base)),
       |raw AS (
       |  SELECT domain, count(*) AS n_raw,
       |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
       |  FROM sig GROUP BY domain),
       |uniq AS (
       |  SELECT fp, min(doc_id) AS doc_id, arg_min(domain, doc_id) AS domain
       |  FROM sig WHERE keep GROUP BY fp),
       |counts AS (SELECT domain, count(*) AS n_unique FROM uniq GROUP BY domain),
       |rates AS (
       |  SELECT domain, n_unique, (n_min * 1000000) // n_unique AS rate_ppm
       |  FROM counts, (SELECT min(n_unique) AS n_min FROM counts) m),
       |finals AS (
       |  SELECT domain,
       |    CAST(sum(CASE WHEN ${uSql(13)} < rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_final
       |  FROM uniq JOIN rates USING (domain) GROUP BY domain)
       |SELECT r.domain, n_raw, n_quality,
       |  coalesce(n_unique, 0) AS n_unique, rate_ppm,
       |  coalesce(n_final, 0) AS n_final
       |FROM raw r LEFT JOIN rates USING (domain) LEFT JOIN finals USING (domain)""".stripMargin

  /** Token-budget-equalizing importance sampling — the per-DOCUMENT
    * weighting policy (vs the per-domain policies above): each document
    * is kept with probability min(1, B / n_chars) for a fixed char
    * budget B = 500, so every kept document's expected char
    * contribution is ≈ B and long documents stop dominating the token
    * mix (the inverse-length reweighting used when equalizing per-doc
    * token budgets). The keep threshold is pure integer arithmetic —
    * `keep_ppm = least(1e6, 5e8 DIV max(n_chars, 1))` — and the decision
    * is the standard `hash64(seed, doc_id) % 1e6 < keep_ppm`, so the
    * sample is reproducible on any engine or cluster size with NO
    * per-corpus statistics pass at all (B is config, not data). Audit
    * output per lang: doc and char totals before/after — chars_kept
    * flattens toward n_kept·B while short docs pass untouched. Scale
    * posture: one scan, keep decision in the scan's codegen stage, one
    * map-side-combining aggregate to |langs| rows. */
  def mixImportance(s: SparkSession, dir: String): DataFrame = {
    val keepPpm = least(lit(Ppm),
      expr("500000000 DIV greatest(n_chars, 1)"))
    val kept = u(23) < keepPpm
    Tables.t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(kept, col("n_chars")).otherwise(0L)).as("chars_kept"))
      .withColumn("kept_frac",
        round(col("n_kept").cast("double") / col("n_total"), 4))
  }

  val mixImportanceSql: String =
    s"""WITH d AS (
       |  SELECT lang, n_chars,
       |    ${uSql(23)} < least($Ppm, 500000000 // greatest(n_chars, 1)) AS kept
       |  FROM documents)
       |SELECT lang, count(*) AS n_total,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
       |  CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
       |  round(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 4) AS kept_frac
       |FROM d GROUP BY lang""".stripMargin

  /** Data Selection via Importance Resampling (DSIR, Xie et al. 2023) —
    * the published upgrade of the char-budget heuristic [[mixImportance]]:
    * score every raw document by the log importance weight
    * `log p_target(x) − log p_raw(x)` under two bag-of-hashed-bigram
    * models (the paper's exact feature space: n-grams hashed into B
    * buckets — B = 1024 here), where the TARGET distribution is fit on
    * the `lang = 'en'` slice (the stand-in for "looks like the target
    * domain") and the RAW distribution on the whole corpus, both add-1
    * smoothed. Per document:
    *
    *   w(d) = Σ_f [llog2(ct_f+1) − llog2(cr_f+1)]
    *        + n_f(d)·[llog2(T_raw+B) − llog2(T_tgt+B)]
    *
    * with every log through [[TextAnalysis.llog2]] — the whole weight is
    * an exact BIGINT, so the selection it induces is bit-deterministic
    * (DSIR's Gumbel-noise sampling step is the one part deliberately
    * replaced: a deterministic weight-rank is reproducible on any
    * cluster, the same substitution the repo's other samplers make).
    * Output: per-source audit — document counts, exact weight sums, and
    * how many documents each source would contribute above the w > 0
    * cut (raw-typical sources drown, target-like sources survive).
    *
    * Scale posture: features are CAPPED at B buckets by construction
    * (the paper's own trick), so both models broadcast; the corpus-sized
    * work is one bigram explode + two map-side-combining aggregates +
    * one broadcast-join scoring pass — linear, shuffle only on doc_id. */
  def mixDsir(s: SparkSession, dir: String): DataFrame = {
    val B = 1024
    val docs = Tables.t(s, dir, "documents")
    val ws = split(Dedup.normalized(col("text")), " ")
    val pairs = docs
      .select(col("doc_id"), col("source"), col("lang"), ws.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("source"), col("lang"), explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("pq"))
      .select(col("doc_id"), col("source"), col("lang"),
        (Dedup.hash64(7, concat(col("pq.0"), lit(" "), col("pq.1"))) % B).as("f"))
    val cr = pairs.groupBy(col("f")).agg(count(lit(1)).as("cr"))
    val ct = pairs.filter(col("lang") === "en")
      .groupBy(col("f")).agg(count(lit(1)).as("ct"))
    val tot = broadcast(cr.agg(sum(col("cr")).as("tr"))
      .crossJoin(ct.agg(sum(col("ct")).as("tt"))))
    val perDoc = pairs
      .join(broadcast(cr), Seq("f"))
      .join(broadcast(ct), Seq("f"), "left")
      .withColumn("ct0", coalesce(col("ct"), lit(0L)))
      .withColumn("t", expr(
        s"${TextAnalysis.llog2("ct0 + 1")} - ${TextAnalysis.llog2("cr + 1")}"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_f"), sum(col("t")).as("s1"))
    perDoc.crossJoin(tot)
      .withColumn("w", col("s1") + col("n_f") *
        expr(s"${TextAnalysis.llog2(s"tr + $B")} - ${TextAnalysis.llog2(s"tt + $B")}"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("sum_w"),
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_selected"))
  }

  /** The identical hashed-bigram models, fixed-point logs, and weight
    * in the oracle dialect (the shared md5 hash64 primitive). */
  val mixDsirSql: String = {
    val h = Dedup.hash64Sql("7", "(w1 || ' ' || w2)")
    val lCt = TextAnalysis.llog2Duck("ct0 + 1")
    val lCr = TextAnalysis.llog2Duck("cr + 1")
    val lTr = TextAnalysis.llog2Duck("tr + 1024")
    val lTt = TextAnalysis.llog2Duck("tt + 1024")
    raw"""WITH d AS (
       |  SELECT doc_id, source, lang,
       |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, source, lang,
       |    ws[CAST(i AS INTEGER)] AS w1, ws[CAST(i AS INTEGER) + 1] AS w2
       |  FROM d, unnest(generate_series(1, len(ws) - 1)) AS t(i)
       |  WHERE len(ws) >= 2),
       |f AS (SELECT doc_id, source, lang, $h % 1024 AS f FROM p),
       |cr AS (SELECT f, CAST(count(*) AS BIGINT) AS cr FROM f GROUP BY f),
       |ct AS (SELECT f, CAST(count(*) AS BIGINT) AS ct FROM f WHERE lang = 'en' GROUP BY f),
       |tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM cr) AS tr,
       |               (SELECT CAST(sum(ct) AS BIGINT) FROM ct) AS tt),
       |perdoc AS (
       |  SELECT x.doc_id, x.source, CAST(count(*) AS BIGINT) AS n_f,
       |    CAST(sum($lCt - $lCr) AS BIGINT) AS s1
       |  FROM (SELECT f.doc_id, f.source, r.cr, coalesce(c.ct, 0) AS ct0
       |        FROM f JOIN cr r USING (f) LEFT JOIN ct c ON c.f = f.f) x
       |  GROUP BY x.doc_id, x.source),
       |w AS (
       |  SELECT doc_id, source, s1 + n_f * ($lTr - $lTt) AS w
       |  FROM perdoc, tot)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(w) AS BIGINT) AS sum_w,
       |  CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
       |FROM w GROUP BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mix_dsir" -> (mixDsir _),
    "mix_importance" -> (mixImportance _),
    "mix_domain_uniform" -> (mixDomainUniform _),
    "mix_temperature" -> (mixTemperature _),
    "mix_split" -> (mixSplit _),
    "mix_contamination" -> (mixContamination _),
    "mix_curation_funnel" -> (mixCurationFunnel _))

  val oracle: Map[String, String] = Map(
    "mix_dsir" -> mixDsirSql,
    "mix_importance" -> mixImportanceSql,
    "mix_domain_uniform" -> mixDomainUniformSql,
    "mix_temperature" -> mixTemperatureSql,
    "mix_split" -> mixSplitSql,
    "mix_contamination" -> mixContaminationSql,
    "mix_curation_funnel" -> mixCurationFunnelSql)
}
