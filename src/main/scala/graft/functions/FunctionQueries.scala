package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{GraftFunctions => G}

/** Scalar/function-surface queries covering the reference's function
  * library by category (reference `src/core_functions/scalar/` — string,
  * math, date, generic; `extension/json/`; the §2.7 gap list implemented as
  * custom expressions in this package). Every query is oracle-checked.
  */
object FunctionQueries extends graft.EntryModule {

  /** String functions (reference `src/core_functions/scalar/string/`). */
  def fnString(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer").filter(col("c_custkey") < 50)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        substring(col("c_name"), 1, 8).as("pre"),
        length(col("c_name")).cast("long").as("len"),
        reverse(col("c_name")).as("rev"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("pad"),
        regexp_replace(col("c_name"), "Customer", "C").as("rep"),
        concat(col("c_name"), lit("_"), col("c_mktsegment")).as("cat"),
        instr(col("c_name"), "#").cast("long").as("pos"),
        element_at(split(col("c_name"), "#"), 2).as("part2"),
        col("c_name").startsWith("Customer").as("sw"),
        col("c_name").endsWith("5").as("ew"),
        format_string("%d-%s", col("c_custkey"), col("c_mktsegment")).as("fmt"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("tr"),
        ascii(col("c_name")).as("cp"))

  val fnStringSql: String =
    """SELECT c_custkey, upper(c_name) AS up, lower(c_mktsegment) AS lo,
      |  substr(c_name, 1, 8) AS pre, CAST(length(c_name) AS BIGINT) AS len,
      |  reverse(c_name) AS rev,
      |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS pad,
      |  replace(c_name, 'Customer', 'C') AS rep,
      |  concat(c_name, '_', c_mktsegment) AS cat,
      |  CAST(strpos(c_name, '#') AS BIGINT) AS pos,
      |  split_part(c_name, '#', 2) AS part2,
      |  starts_with(c_name, 'Customer') AS sw,
      |  ends_with(c_name, '5') AS ew,
      |  printf('%d-%s', c_custkey, c_mktsegment) AS fmt,
      |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr,
      |  CAST(unicode(c_name) AS INTEGER) AS cp
      |FROM customer WHERE c_custkey < 50""".stripMargin

  /** Math functions (reference `src/core_functions/scalar/math/numeric.cpp`).
    * Transcendentals rounded — libm vs JVM may differ in the last ulp. */
  def fnMath(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem").filter(col("l_orderkey") < 200)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_quantity") - 25).as("ab"),
        ceil(col("l_extendedprice") / 1000).cast("double").as("ce"),
        floor(col("l_discount") * 100).cast("double").as("fl"),
        round(col("l_quantity") / 2.0, 1).as("half"),
        round(sqrt(col("l_quantity")), 6).as("sq"),
        round(log(col("l_extendedprice")), 6).as("lg"),
        round(pow(col("l_quantity"), 1.5), 6).as("pw"),
        signum(col("l_discount") - 0.05).cast("int").as("sg"),
        (col("l_orderkey") % 97).as("md"),
        greatest(col("l_quantity"), lit(30.0)).as("gr"),
        least(col("l_tax"), col("l_discount")).as("le"),
        col("l_orderkey").bitwiseAND(255).as("band"),
        col("l_orderkey").bitwiseOR(16).as("bor"),
        col("l_orderkey").bitwiseXOR(col("l_linenumber")).as("bxor"),
        shiftleft(col("l_linenumber"), 3).cast("long").as("shl"),
        shiftright(col("l_orderkey"), 2).as("shr"),
        G.gcd(col("l_orderkey"), col("l_linenumber").cast("long") * 6).as("g"),
        G.lcm(col("l_linenumber").cast("long"), lit(4L)).as("lc"))

  val fnMathSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  abs(l_quantity - 25) AS ab,
      |  CAST(ceil(l_extendedprice / 1000) AS DOUBLE) AS ce,
      |  CAST(floor(l_discount * 100) AS DOUBLE) AS fl,
      |  round(l_quantity / 2.0, 1) AS half,
      |  round(sqrt(l_quantity), 6) AS sq,
      |  round(ln(l_extendedprice), 6) AS lg,
      |  round(pow(l_quantity, 1.5), 6) AS pw,
      |  CAST(sign(l_discount - 0.05) AS INTEGER) AS sg,
      |  l_orderkey % 97 AS md,
      |  greatest(l_quantity, 30.0) AS gr,
      |  least(l_tax, l_discount) AS le,
      |  l_orderkey & 255 AS band,
      |  l_orderkey | 16 AS bor,
      |  xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS bxor,
      |  CAST(l_linenumber << 3 AS BIGINT) AS shl,
      |  l_orderkey >> 2 AS shr,
      |  gcd(l_orderkey, CAST(l_linenumber AS BIGINT) * 6) AS g,
      |  lcm(CAST(l_linenumber AS BIGINT), 4) AS lc
      |FROM lineitem WHERE l_orderkey < 200""".stripMargin

  /** Date/time functions (reference `src/core_functions/scalar/date/`). */
  def fnDate(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders").filter(col("o_orderkey") < 200)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("d"),
        (weekday(col("o_orderdate")) + 1).as("isodw"),
        date_trunc("month", col("o_orderdate")).as("mstart"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01")))
          .cast("long").as("days_since"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        last_day(col("o_orderdate")).as("eom"),
        (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("plus3"))

  val fnDateSql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INTEGER) AS y,
      |  CAST(month(o_orderdate) AS INTEGER) AS mo,
      |  CAST(day(o_orderdate) AS INTEGER) AS d,
      |  CAST(isodow(o_orderdate) AS INTEGER) AS isodw,
      |  date_trunc('month', o_orderdate) AS mstart,
      |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
      |  strftime(o_orderdate, '%Y-%m-%d') AS fmt,
      |  epoch_us(o_orderdate) AS us,
      |  last_day(CAST(o_orderdate AS DATE)) AS eom,
      |  o_orderdate + INTERVAL 3 DAY AS plus3
      |FROM orders WHERE o_orderkey < 200""".stripMargin

  /** time_bucket: sub-month width on event time (custom composition,
    * reference `time_bucket.cpp`). */
  def fnTimeBucket(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(G.time_bucket("6 hours", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))

  val fnTimeBucketSql: String =
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1""".stripMargin

  /** time_bucket: calendar-month width. */
  def fnTimeBucketMonth(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .groupBy(G.time_bucket("3 months", col("o_orderdate")).as("bucket"))
      .agg(count(lit(1)).as("n"))

  val fnTimeBucketMonthSql: String =
    """SELECT time_bucket(INTERVAL '3 months', o_orderdate) AS bucket,
      |  count(*) AS n
      |FROM orders GROUP BY 1""".stripMargin

  /** LIKE / regex (reference RE2-backed `regexp_*`, LIKE rewrite
    * `src/optimizer/rule/like_optimizations.cpp` — Catalyst's
    * LikeSimplification is the analog). Patterns restricted to the
    * Java/RE2-common subset. */
  def fnLikeRegex(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "part").filter(col("p_partkey") < 500)
      .select(
        col("p_partkey"),
        col("p_name").like("%wi%").as("has_wi"),
        col("p_name").startsWith("red").as("is_red"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("novowel"),
        col("p_name").rlike("^(red|blue) ").as("primary_color"))

  val fnLikeRegexSql: String =
    """SELECT p_partkey,
      |  p_name LIKE '%wi%' AS has_wi,
      |  starts_with(p_name, 'red') AS is_red,
      |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
      |  regexp_replace(p_name, '[aeiou]', '', 'g') AS novowel,
      |  regexp_matches(p_name, '^(red|blue) ') AS primary_color
      |FROM part WHERE p_partkey < 500""".stripMargin

  /** CASE / CAST / COALESCE / NULLIF (reference
    * `src/execution/expression_executor/execute_case.cpp`, casts
    * `src/function/cast/`). Double→int casts go through floor() — the
    * engines disagree on bare cast rounding (truncate vs round). */
  def fnCaseCast(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders").filter(col("o_orderkey") < 300)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("st"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        col("o_orderkey").cast("string").as("key_str"),
        lit("42").cast("int").as("answer"))

  val fnCaseCastSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 300000 THEN 'high'
      |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket,
      |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS st,
      |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |  CAST(o_orderkey AS VARCHAR) AS key_str,
      |  CAST('42' AS INTEGER) AS answer
      |FROM orders WHERE o_orderkey < 300""".stripMargin

  /** Cryptographic digests (reference `md5.cpp`, `sha256.cpp`). */
  def fnHash(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer").filter(col("c_custkey") < 100)
      .select(
        col("c_custkey"),
        md5(col("c_name").cast("binary")).as("m"),
        sha2(col("c_name").cast("binary"), 256).as("s256"),
        base64(col("c_name").cast("binary")).as("b64"),
        upper(hex(col("c_name").cast("binary"))).as("hx"))

  val fnHashSql: String =
    """SELECT c_custkey, md5(c_name) AS m, sha256(c_name) AS s256,
      |  to_base64(encode(c_name)) AS b64,
      |  upper(hex(c_name)) AS hx
      |FROM customer WHERE c_custkey < 100""".stripMargin

  /** Human-readable formatting scalars (reference `format_bytes.cpp`,
    * `to_base.cpp`, `bar.cpp` — see [[Formatting]] for the two
    * documented version skews vs the oracle engine: binary-unit bytes,
    * rtrim'd bars). The cents→bytes scaling spans the bytes/KiB/MiB
    * unit range and both signs. */
  def fnFormat(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    Tables.t(s, dir, "orders").filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        G.format_bytes(cents).as("fb"),
        G.format_bytes(cents - 25000000L).as("fb_signed"),
        G.format_bytes(cents % 1024).as("fb_small"),
        G.to_base(col("o_orderkey"), lit(16)).as("hex16"),
        G.to_base(col("o_orderkey"), lit(2), lit(16)).as("bin_pad"),
        G.to_base(col("o_orderkey"), lit(36)).as("b36"),
        G.bar(col("o_totalprice"), lit(0), lit(500000), lit(12)).as("price_bar"))
  }

  val fnFormatSql: String =
    """SELECT o_orderkey,
      |  format_bytes(CAST(round(o_totalprice * 100) AS BIGINT)) AS fb,
      |  format_bytes(CAST(round(o_totalprice * 100) AS BIGINT) - 25000000) AS fb_signed,
      |  format_bytes(CAST(round(o_totalprice * 100) AS BIGINT) % 1024) AS fb_small,
      |  to_base(o_orderkey, 16) AS hex16,
      |  to_base(o_orderkey, 2, 16) AS bin_pad,
      |  to_base(o_orderkey, 36) AS b36,
      |  rtrim(bar(o_totalprice, 0, 500000, 12)) AS price_bar
      |FROM orders WHERE o_orderkey < 500""".stripMargin

  /** Calendar-name and ISO-week scalars (reference date part library:
    * dayname/monthname/dayofyear/weekofyear/quarter/decade/century/
    * yearweek). ISO week-year has no direct Spark function; it derives
    * from the year of the week's THURSDAY (d + 4 − isodow), the ISO-8601
    * definition — probed: matches the oracle at both year boundaries
    * (1995-01-01 → 199452, 1997-12-29 → 199801). Century is the ordinal
    * ((y−1) DIV 100 + 1: year 2000 is century 20), decade is y DIV 10. */
  def fnDatenames(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders").filter(col("o_orderkey") < 300)
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "EEEE").as("dn"),
        date_format(col("o_orderdate"), "MMMM").as("mn"),
        dayofyear(col("o_orderdate")).as("doy"),
        weekofyear(col("o_orderdate")).as("wk"),
        quarter(col("o_orderdate")).as("q"),
        expr("year(o_orderdate) DIV 10").cast("int").as("dec"),
        expr("(year(o_orderdate) - 1) DIV 100 + 1").cast("int").as("cent"),
        (year(date_add(col("o_orderdate"),
          lit(4) - (weekday(col("o_orderdate")) + 1))) * 100 +
          weekofyear(col("o_orderdate"))).as("yw"))

  val fnDatenamesSql: String =
    """SELECT o_orderkey,
      |  dayname(o_orderdate) AS dn,
      |  monthname(o_orderdate) AS mn,
      |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
      |  CAST(weekofyear(o_orderdate) AS INTEGER) AS wk,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
      |  CAST(decade(o_orderdate) AS INTEGER) AS dec,
      |  CAST(century(o_orderdate) AS INTEGER) AS cent,
      |  CAST(yearweek(o_orderdate) AS INTEGER) AS yw
      |FROM orders WHERE o_orderkey < 300""".stripMargin

  /** Temporal constructors (reference `make_date.cpp` + the epoch
    * conversion family): every constructor is pinned as a ROUND-TRIP of
    * the event timestamp — make_date over extracted parts equals the
    * date cast, make_timestamp(µs) reproduces the timestamp at full
    * micros precision, the parts form reproduces its second truncation
    * (integer seconds only: the two engines' double→micros rounding at
    * fractional boundaries is not a shared contract), and epoch_ms/epoch
    * are an exact integer and a single shared IEEE division. */
  def fnConstruct(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events").filter(col("event_id") < 400)
      .select(
        col("event_id"),
        make_date(year(col("ts")), month(col("ts")), dayofmonth(col("ts")))
          .as("d"),
        timestamp_micros(unix_micros(col("ts"))).as("mts"),
        expr("""make_timestamp(year(ts), month(ts), day(ts),
                hour(ts), minute(ts), second(ts))""").as("msec"),
        unix_millis(col("ts")).as("em"),
        (unix_micros(col("ts")) / lit(1000000.0)).as("ep"))

  val fnConstructSql: String =
    """SELECT event_id,
      |  make_date(CAST(year(ts) AS BIGINT), CAST(month(ts) AS BIGINT),
      |            CAST(day(ts) AS BIGINT)) AS d,
      |  make_timestamp(epoch_us(ts)) AS mts,
      |  make_timestamp(CAST(year(ts) AS BIGINT), CAST(month(ts) AS BIGINT),
      |    CAST(day(ts) AS BIGINT), CAST(hour(ts) AS BIGINT),
      |    CAST(minute(ts) AS BIGINT),
      |    CAST(CAST(second(ts) AS BIGINT) AS DOUBLE)) AS msec,
      |  epoch_ms(ts) AS em,
      |  epoch_us(ts) / 1000000.0 AS ep
      |FROM events WHERE event_id < 400""".stripMargin

  /** ENUM function family over a modeled ordered domain
    * ([[GraftFunctions.EnumDomain]]) — the oracle runs DuckDB's REAL
    * anonymous ENUM type, so code assignment, domain metadata, boundary
    * slices, and CODE-ORDER comparison (deliberately ≠ string order:
    * the domain places 'error' after 'purchase') are pinned against the
    * genuine ENUM semantics, not against another model. */
  def fnEnum(s: SparkSession, dir: String): DataFrame = {
    val dom = G.EnumDomain(Seq("click", "view", "purchase", "error", "signup"))
    Tables.t(s, dir, "events").filter(col("event_id") < 300)
      .select(
        col("event_id"), col("event_type"),
        dom.code(col("event_type")).as("code"),
        dom.first.as("efirst"),
        dom.last.as("elast"),
        concat_ws(",", dom.range).as("erange"),
        concat_ws(",", dom.rangeBoundary("view", "error")).as("ebound"),
        dom.lt(col("event_type"), "purchase").as("lt_purchase"))
  }

  val fnEnumSql: String = {
    val e = "ENUM('click','view','purchase','error','signup')"
    s"""SELECT event_id, event_type,
       |  CAST(enum_code(CAST(event_type AS $e)) AS INTEGER) AS code,
       |  enum_first(CAST(event_type AS $e)) AS efirst,
       |  enum_last(CAST(event_type AS $e)) AS elast,
       |  array_to_string(enum_range(CAST(event_type AS $e)), ',') AS erange,
       |  array_to_string(enum_range_boundary(
       |    CAST('view' AS $e), CAST('error' AS $e)), ',') AS ebound,
       |  CAST(event_type AS $e) < CAST('purchase' AS $e) AS lt_purchase
       |FROM events WHERE event_id < 300""".stripMargin
  }

  /** UNION-type family (reference `src/core_functions/scalar/union/`:
    * union_value/union_tag/union_extract) over the TAGGED-STRUCT model —
    * a discriminator column plus one nullable physical column per
    * member, which is exactly the reference engine's own storage layout
    * for unions. union_value ≡ constructing the struct with the chosen
    * member set, union_tag ≡ the discriminator, union_extract ≡ the
    * member column (NULL when the tag differs, the probed semantics).
    * The oracle constructs REAL DuckDB UNION(big DOUBLE, label VARCHAR)
    * values, so the model is pinned against genuine union behavior. */
  def fnUnionType(s: SparkSession, dir: String): DataFrame = {
    val isBig = col("value") > 10
    Tables.t(s, dir, "events").filter(col("event_id") < 300)
      .select(col("event_id"),
        when(isBig, lit("big")).otherwise(lit("label")).as("tag"),
        when(isBig, col("value")).as("big"),
        when(!isBig, col("event_type")).as("label"))
  }

  val fnUnionTypeSql: String =
    """WITH t AS (
      |  SELECT event_id,
      |    CASE WHEN value > 10
      |      THEN CAST(union_value(big := value) AS UNION(big DOUBLE, label VARCHAR))
      |      ELSE CAST(union_value(label := event_type) AS UNION(big DOUBLE, label VARCHAR))
      |    END AS u
      |  FROM events WHERE event_id < 300)
      |SELECT event_id, CAST(union_tag(u) AS VARCHAR) AS tag,
      |  union_extract(u, 'big') AS big,
      |  union_extract(u, 'label') AS label
      |FROM t""".stripMargin

  /** BIT + BLOB function families (reference
    * `src/core_functions/scalar/bit/bitstring.cpp` and `blob/` —
    * get_bit/set_bit/bit_position/bit_count/bit_length;
    * encode/decode/base64 round-trip/octet_length). The bitstring model
    * is the 0/1 digit string (`bin(key)`), and the oracle CASTs the SAME
    * digits to DuckDB's REAL BIT type, so indexing convention (0-based
    * from the left), bitwise NOT, popcount, and length are pinned
    * against genuine BIT semantics (bit_position is deliberately NOT
    * pinned: the oracle engine's 1.0.0 implementation only reports
    * pattern positions at padding-aligned offsets — probed: strpos and
    * bit_position disagree on 70/292 fixture keys — so the portable
    * position idiom is the string strpos, already pinned by fn_string); the BLOB side
    * round-trips encode→decode and base64→from_base64 on real BLOBs
    * (fixture strings are ASCII, where VARCHAR↔BLOB is total). */
  def fnBitBlob(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer")
      // >= 8 keeps bin(key) at least 4 digits: get_bit(..., 2) is in
      // range on both engines (DuckDB errors on out-of-range positions)
      .filter(col("c_custkey") >= 8 && col("c_custkey") < 300)
      .withColumn("b", bin(col("c_custkey")))
      .select(
        col("c_custkey"), col("b"),
        substring(col("b"), 3, 1).cast("int").as("gb"),
        expr("overlay(b placing '0' from 1 for 1)").as("sb"),
        translate(col("b"), "01", "10").as("nb"),
        (length(col("b")) -
          length(regexp_replace(col("b"), "1", ""))).cast("int").as("bc"),
        length(col("b")).cast("int").as("bl"),
        col("c_name").as("dec_rt"),
        octet_length(col("c_name")).cast("int").as("olen"),
        unbase64(base64(col("c_name").cast("binary"))).cast("string")
          .as("b64_rt"))

  val fnBitBlobSql: String =
    """SELECT c_custkey, bin(c_custkey) AS b,
      |  CAST(get_bit(CAST(bin(c_custkey) AS BIT), 2) AS INTEGER) AS gb,
      |  CAST(set_bit(CAST(bin(c_custkey) AS BIT), 0, 0) AS VARCHAR) AS sb,
      |  CAST(~CAST(bin(c_custkey) AS BIT) AS VARCHAR) AS nb,
      |  CAST(bit_count(CAST(bin(c_custkey) AS BIT)) AS INTEGER) AS bc,
      |  CAST(bit_length(CAST(bin(c_custkey) AS BIT)) AS INTEGER) AS bl,
      |  decode(encode(c_name)) AS dec_rt,
      |  CAST(octet_length(encode(c_name)) AS INTEGER) AS olen,
      |  CAST(from_base64(base64(encode(c_name))) AS VARCHAR) AS b64_rt
      |FROM customer WHERE c_custkey >= 8 AND c_custkey < 300""".stripMargin

  /** String-similarity metrics — built-in levenshtein + the custom
    * expressions (verified against the reference semantics). */
  def fnStrsim(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "customer").filter(col("c_custkey") < 200)
      .select(
        col("c_custkey"),
        levenshtein(col("c_name"), lit("Customer#000000100")).cast("long").as("lev"),
        G.jaccard(col("c_name"), lit("Customer#000000100")).as("jac"),
        round(G.jaro_winkler_similarity(col("c_name"), lit("Customer#000000100")), 6).as("jw"),
        G.damerau_levenshtein(col("c_mktsegment"), lit("MACHINES")).as("dl"),
        G.hamming(substring(col("c_name"), 1, 8), lit("Customer")).as("ham"))

  val fnStrsimSql: String =
    """SELECT c_custkey,
      |  levenshtein(c_name, 'Customer#000000100') AS lev,
      |  jaccard(c_name, 'Customer#000000100') AS jac,
      |  round(jaro_winkler_similarity(c_name, 'Customer#000000100'), 6) AS jw,
      |  damerau_levenshtein(c_mktsegment, 'MACHINES') AS dl,
      |  hamming(substr(c_name, 1, 8), 'Customer') AS ham
      |FROM customer WHERE c_custkey < 200""".stripMargin

  /** Vector similarity between consecutive embeddings — custom codegen
    * expressions, expected bit-identical to the oracle (float32 math). */
  def fnVector(s: SparkSession, dir: String): DataFrame = {
    val e1 = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("emb1"))
    val e2 = Tables.t(s, dir, "embeddings")
      .select((col("vec_id") - 1).as("vid2"), col("embedding").as("emb2"))
    e1.join(e2, col("vec_id") === col("vid2"))
      .select(
        col("vec_id"),
        G.list_cosine_similarity(col("emb1"), col("emb2")).as("cos"),
        G.list_inner_product(col("emb1"), col("emb2")).as("ip"),
        G.list_distance(col("emb1"), col("emb2")).as("dist"))
  }

  val fnVectorSql: String =
    """SELECT a.vec_id,
      |  list_cosine_similarity(a.embedding, b.embedding) AS cos,
      |  list_inner_product(a.embedding, b.embedding) AS ip,
      |  list_distance(a.embedding, b.embedding) AS dist
      |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin

  /** Shannon entropy via the custom Aggregator (reference `entropy.cpp`). */
  def aggEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(G.entropy(col("l_quantity").cast("long").cast("string")), 6).as("ent"),
        count(lit(1)).as("n"))

  val aggEntropySql: String =
    """SELECT l_returnflag, round(entropy(CAST(l_quantity AS BIGINT)), 6) AS ent,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Collection functions — list/struct/map surface with scalar outputs
    * (reference `src/core_functions/scalar/list/`, `struct/`, `map/`:
    * list_sort, list_transform/list_filter lambdas, flatten,
    * struct_extract, map_keys). */
  def fnCollection(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents").filter(col("doc_id") < 100)
      .withColumn("w", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n"),
        concat_ws("|", slice(col("w"), 1, 3)).as("first3"),
        element_at(array_sort(col("w")), 1).as("smallest"),
        size(flatten(array(col("w"), col("w")))).cast("long").as("n2"),
        array_contains(col("w"), "spark").as("has_spark"),
        array_max(transform(col("w"), x => length(x))).cast("long").as("max_len"),
        size(filter(col("w"), x => length(x) > 4)).cast("long").as("n_long"),
        element_at(map(lit("a"), lit(1), lit("b"), lit(2)), lit("a")).as("ma"),
        size(map_keys(map(lit("a"), lit(1), lit("b"), lit(2)))).cast("long").as("n_keys"),
        struct(col("doc_id").as("id"), col("n_chars").as("nc"))
          .getField("nc").as("st_chars"))

  val fnCollectionSql: String =
    """SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n,
      |  array_to_string(w[1:3], '|') AS first3,
      |  list_sort(w)[1] AS smallest,
      |  CAST(len(flatten([w, w])) AS BIGINT) AS n2,
      |  list_contains(w, 'spark') AS has_spark,
      |  CAST(list_max(list_transform(w, x -> length(x))) AS BIGINT) AS max_len,
      |  CAST(len(list_filter(w, x -> length(x) > 4)) AS BIGINT) AS n_long,
      |  CAST(map(['a','b'],[1,2])['a'][1] AS INTEGER) AS ma,
      |  CAST(len(map_keys(map(['a','b'],[1,2]))) AS BIGINT) AS n_keys,
      |  struct_pack(id := doc_id, nc := n_chars).nc AS st_chars
      |FROM (SELECT *, string_split(text, ' ') AS w FROM documents)
      |WHERE doc_id < 100""".stripMargin

  /** MAP type surface over DATA-DRIVEN maps (reference
    * `src/core_functions/scalar/map/`: map construction, extraction,
    * map_keys/map_values, map_concat, map_from_entries;
    * `benchmark/micro/map/`). Semantics pinned across engines:
    * missing-key lookup is NULL (Spark `try_element_at` — plain
    * element_at THROWS under ANSI; DuckDB `m['k']` yields a LIST, so the
    * oracle takes `[1]` of it), key/value order is insertion order on
    * both engines, and map_concat appends disjoint key sets. */
  def fnMapOps(s: SparkSession, dir: String): DataFrame = {
    val m = map_from_arrays(
      array(lit("pri"), lit("stat")),
      array(col("o_orderpriority"), col("o_orderstatus")))
    val m2 = map_concat(m, map(lit("ok"), col("o_orderkey").cast("string")))
    Tables.t(s, dir, "orders").filter(col("o_orderkey") < 100)
      .select(col("o_orderkey"),
        try_element_at(m, lit("pri")).as("v_pri"),
        try_element_at(m, lit("zz")).as("v_miss"),
        size(m).cast("long").as("n"),
        array_join(map_keys(m2), ",").as("ks"),
        array_join(map_values(m2), ",").as("vs"),
        size(m2).cast("long").as("n3"),
        try_element_at(
          map_from_entries(array(
            struct(lit("a").as("k"), col("o_custkey").as("v")),
            struct(lit("b").as("k"), (col("o_custkey") * 2).as("v")))),
          lit("b")).as("mfe_b"))
  }

  val fnMapOpsSql: String =
    """SELECT o_orderkey,
      |  m['pri'][1] AS v_pri,
      |  m['zz'][1] AS v_miss,
      |  CAST(cardinality(m) AS BIGINT) AS n,
      |  array_to_string(map_keys(m2), ',') AS ks,
      |  array_to_string(map_values(m2), ',') AS vs,
      |  CAST(cardinality(m2) AS BIGINT) AS n3,
      |  map_from_entries([{'k': 'a', 'v': o_custkey},
      |                    {'k': 'b', 'v': o_custkey * 2}])['b'][1] AS mfe_b
      |FROM (SELECT o_orderkey, o_custkey,
      |        map(['pri', 'stat'], [o_orderpriority, o_orderstatus]) AS m,
      |        map_concat(map(['pri', 'stat'], [o_orderpriority, o_orderstatus]),
      |                   map(['ok'], [CAST(o_orderkey AS VARCHAR)])) AS m2
      |      FROM orders WHERE o_orderkey < 100)""".stripMargin

  /** Timezone conversion (reference `extension/icu/icu-timezones.cpp` —
    * the reference bundles ICU; DuckDB's `timezone(tz, TIMESTAMP)`
    * interprets a naive timestamp in tz and returns the instant, which
    * is exactly Spark's `to_utc_timestamp`, and `timezone(tz,
    * TIMESTAMPTZ)` renders an instant as tz-local wall time, which is
    * `from_utc_timestamp`). Instants compare as epoch seconds (BIGINT —
    * timezone-setting-independent on both engines); wall times compare
    * as formatted strings. The January/June fixture spread inside one
    * month is widened with a +150-day shift so the DST boundary is
    * actually exercised. */
  def fnTimezone(s: SparkSession, dir: String): DataFrame = {
    val t = col("ts2")
    Tables.t(s, dir, "events").filter(col("event_id") < 500)
      // second grain: epoch() keeps microseconds as a fractional DOUBLE
      // and DuckDB's double->BIGINT cast ROUNDS while unix_timestamp
      // floors — truncate before converting so both are integral
      .withColumn("ts2", date_trunc("second", col("ts") + expr("INTERVAL 150 DAYS")))
      .select(col("event_id"),
        unix_timestamp(to_utc_timestamp(t, "America/New_York")).as("ny_utc_s"),
        unix_timestamp(to_utc_timestamp(t, "Asia/Tokyo")).as("tokyo_utc_s"),
        date_format(from_utc_timestamp(to_utc_timestamp(t, "America/New_York"),
          "Europe/Berlin"), "yyyy-MM-dd HH:mm:ss").as("ny_as_berlin"))
  }

  val fnTimezoneSql: String =
    """SELECT event_id,
      |  CAST(epoch(timezone('America/New_York', ts2)) AS BIGINT) AS ny_utc_s,
      |  CAST(epoch(timezone('Asia/Tokyo', ts2)) AS BIGINT) AS tokyo_utc_s,
      |  strftime(timezone('Europe/Berlin', timezone('America/New_York', ts2)),
      |           '%Y-%m-%d %H:%M:%S') AS ny_as_berlin
      |FROM (SELECT event_id, date_trunc('second', ts + INTERVAL 150 DAY) AS ts2
      |      FROM events WHERE event_id < 500)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fn_map_ops" -> (fnMapOps _),
    "fn_timezone" -> (fnTimezone _),
    "fn_collection" -> (fnCollection _),
    "fn_string" -> (fnString _),
    "fn_math" -> (fnMath _),
    "fn_date" -> (fnDate _),
    "fn_time_bucket" -> (fnTimeBucket _),
    "fn_time_bucket_month" -> (fnTimeBucketMonth _),
    "fn_like_regex" -> (fnLikeRegex _),
    "fn_case_cast" -> (fnCaseCast _),
    "fn_hash" -> (fnHash _),
    "fn_strsim" -> (fnStrsim _),
    "fn_format" -> (fnFormat _),
    "fn_datenames" -> (fnDatenames _),
    "fn_construct" -> (fnConstruct _),
    "fn_enum" -> (fnEnum _),
    "fn_union_type" -> (fnUnionType _),
    "fn_bit_blob" -> (fnBitBlob _),
    "fn_vector" -> (fnVector _),
    "agg_entropy" -> (aggEntropy _))

  val oracle: Map[String, String] = Map(
    "fn_map_ops" -> fnMapOpsSql,
    "fn_timezone" -> fnTimezoneSql,
    "fn_collection" -> fnCollectionSql,
    "fn_string" -> fnStringSql,
    "fn_math" -> fnMathSql,
    "fn_date" -> fnDateSql,
    "fn_time_bucket" -> fnTimeBucketSql,
    "fn_time_bucket_month" -> fnTimeBucketMonthSql,
    "fn_like_regex" -> fnLikeRegexSql,
    "fn_case_cast" -> fnCaseCastSql,
    "fn_hash" -> fnHashSql,
    "fn_strsim" -> fnStrsimSql,
    "fn_format" -> fnFormatSql,
    "fn_datenames" -> fnDatenamesSql,
    "fn_construct" -> fnConstructSql,
    "fn_enum" -> fnEnumSql,
    "fn_union_type" -> fnUnionTypeSql,
    "fn_bit_blob" -> fnBitBlobSql,
    "fn_vector" -> fnVectorSql,
    "agg_entropy" -> aggEntropySql)
}
