package graft.analytics

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational-surface completions: unpivot/melt, the regex scalar family,
  * and the array higher-order-function family — operators a reference user
  * reaches for constantly that deserve first-class oracle coverage rather
  * than incidental use inside other queries.
  */
object SurfaceQueries {

  // --- P13: unpivot / melt ----------------------------------------------

  /** Wide→long reshape via the native `Dataset.unpivot` operator (Spark's
    * melt — plans as a Generate, one pass, no shuffle until the aggregate):
    * the four lineitem measures melt into (measure, value) rows summed per
    * return flag in exact DECIMAL. */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice",
        $"l_discount", $"l_tax")
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy($"l_returnflag", $"measure")
      .agg(count(lit(1)).as("n"),
        sum(Ops.money($"value")).cast(DoubleType).as("sum_value"))
      .orderBy($"l_returnflag", $"measure")
  }

  val unpivotMeasuresSql: String =
    """SELECT l_returnflag, measure, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM (UNPIVOT (SELECT l_returnflag, l_quantity, l_extendedprice,
      |                      l_discount, l_tax FROM lineitem)
      |      ON l_quantity, l_extendedprice, l_discount, l_tax
      |      INTO NAME measure VALUE value)
      |GROUP BY 1, 2 ORDER BY l_returnflag, measure""".stripMargin

  // --- P14: regex scalar family -----------------------------------------

  /** The regex surface in one audited pass per language: global match
    * extraction (`regexp_extract_all`), global replacement
    * (`regexp_replace` — vowel census by length delta), and predicate
    * matching (`rlike` anchor). Patterns stay in the RE2 ∩ java.util.regex
    * dialect intersection (classes, bounded repeats, \b, anchors) so both
    * engines read them identically. All outputs are integers. */
  def regexSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(regexp_extract_all($"text", lit("\\b[a-z]{4}\\b"), lit(0))))
          .as("n_four"),
        sum(length($"text") - length(regexp_replace($"text", "[aeiou]", "")))
          .as("n_vowels"),
        sum(when($"text".rlike("^[a-z]"), 1L).otherwise(0L))
          .as("n_lower_start"))
      .orderBy($"lang")
  }

  val regexSuiteSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(text, '\b[a-z]{4}\b'))) AS BIGINT) AS n_four,
      |  CAST(SUM(len(text) - len(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT) AS n_vowels,
      |  CAST(SUM(CASE WHEN regexp_matches(text, '^[a-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_lower_start
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  // --- P15: array higher-order-function family --------------------------

  /** The array HOF surface — transform, filter, aggregate (fold), sort +
    * slice, zip_with + reverse — over the embedding vectors, all on
    * integer-quantized components (floor(x·1e6), the proven cross-engine
    * embedding contract) so every result is an exact BIGINT. Entirely
    * narrow: no shuffle except the presentation sort. */
  def arraySuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qv = transform($"embedding",
      x => floor(x.cast(DoubleType) * 1000000L))
    Tables.embeddings(s, dir)
      .select($"vec_id", qv.as("qv"))
      .select(
        $"vec_id",
        size($"qv").cast(LongType).as("n_dims"),
        size(filter($"qv", x => x > 0L)).cast(LongType).as("n_pos"),
        aggregate($"qv", lit(0L), (a, x) => a + abs(x)).as("sum_abs"),
        aggregate(slice(sort_array($"qv", asc = false), 1, 3),
          lit(0L), (a, x) => a + x).as("top3_sum"),
        aggregate(zip_with($"qv", reverse($"qv"), (x, y) => x * y),
          lit(0L), (a, x) => a + x).as("rev_dot"))
      .orderBy($"vec_id")
  }

  val arraySuiteSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings)
      |SELECT vec_id, CAST(len(qv) AS BIGINT) AS n_dims,
      |  CAST(len(list_filter(qv, x -> x > 0)) AS BIGINT) AS n_pos,
      |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS sum_abs,
      |  CAST(list_sum(list_slice(list_sort(qv, 'DESC'), 1, 3)) AS BIGINT) AS top3_sum,
      |  CAST(list_sum(list_transform(generate_series(1, len(qv)),
      |    i -> qv[i] * qv[len(qv)+1-i])) AS BIGINT) AS rev_dot
      |FROM q ORDER BY vec_id""".stripMargin

  // --- J7: correlated lateral join --------------------------------------

  /** Top-2 orders per customer via a correlated LATERAL subquery — the
    * "for each row, run this parameterized query" operator. Catalyst
    * decorrelates the lateral (ORDER BY + LIMIT inside the correlation)
    * into a ranked window join, so the executed plan is one shuffle on the
    * correlation key — per-row re-execution never happens. */
  def lateralTopN(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("lat_customer")
    Tables.orders(s, dir).createOrReplaceTempView("lat_orders")
    s.sql("""SELECT c.c_custkey, t.o_orderkey,
        CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_price
      FROM lat_customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM lat_orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      WHERE c.c_custkey < 50
      ORDER BY c.c_custkey, o_price DESC, t.o_orderkey""")
  }

  val lateralTopNSql: String =
    """SELECT c.c_custkey, t.o_orderkey,
      |  CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_price
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c.c_custkey < 50
      |ORDER BY c.c_custkey, o_price DESC, t.o_orderkey""".stripMargin

  // --- A5b: grouping metadata -------------------------------------------

  /** Rollup with `grouping()` / `grouping_id()` — the metadata columns
    * that make subtotal rows distinguishable from genuine NULL groups
    * (both engines use the same bit order: first grouping expression is
    * the high bit). */
  def rollupGrouping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(grouping($"l_returnflag").cast("long").as("g_flag"),
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("flag"),
        coalesce($"l_linestatus", lit("ALL")).as("status"),
        $"g_flag", $"gid", $"n")
      .orderBy($"gid", $"flag", $"status")
  }

  val rollupGroupingSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      |  COALESCE(l_linestatus, 'ALL') AS status,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, flag, status""".stripMargin

  // --- XP6: PII redaction audit -------------------------------------------

  /** PII scrubbing with a per-segment audit — the pass every training-data
    * pipeline runs before text leaves quarantine. The PII-bearing contact
    * string is constructed deterministically from customer keys (the test
    * tables carry no real PII), then masked in two codegen regex passes:
    * email-shaped tokens → `<EMAIL>`, long digit runs (phones, ids) →
    * `<NUM>`. Patterns stay in the RE2 ∩ java.util.regex intersection and
    * replacements carry no backreferences, so both engines rewrite
    * identically. The audit reports counts and masked-character volume —
    * what a compliance reviewer actually signs off on.
    *
    * Scale: fully narrow (two regexp_replace per row) + one hash
    * aggregate; regex state machines are per-row constant memory. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+"
    val numRe = "[0-9][0-9-]{5,}[0-9]"
    Tables.customer(s, dir)
      .select($"c_mktsegment",
        concat(
          $"c_name", lit(" <"),
          lower(replace($"c_name", lit("Customer#"), lit("user"))),
          lit("@example.org> +1-555-"),
          lpad(($"c_custkey" % 10000).cast(StringType), 4, "0")).as("contact"))
      .withColumn("n_emails",
        size(regexp_extract_all($"contact", lit(emailRe), lit(0))).cast(LongType))
      .withColumn("pass1", regexp_replace($"contact", emailRe, "<EMAIL>"))
      .withColumn("n_nums",
        size(regexp_extract_all($"pass1", lit(numRe), lit(0))).cast(LongType))
      .withColumn("redacted", regexp_replace($"pass1", numRe, "<NUM>"))
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).as("n_rows"),
        sum($"n_emails").as("emails_masked"),
        sum($"n_nums").as("nums_masked"),
        sum(length($"contact")).as("chars_in"),
        sum(length($"redacted")).as("chars_out"),
        countDistinct($"redacted").as("n_distinct_redacted"))
      .orderBy($"c_mktsegment")
  }

  val piiRedactSql: String =
    """WITH c AS (
      |  SELECT c_mktsegment,
      |    c_name || ' <' || lower(replace(c_name, 'Customer#', 'user'))
      |      || '@example.org> +1-555-'
      |      || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
      |  FROM customer),
      |r AS (
      |  SELECT c_mktsegment, contact,
      |    CAST(len(regexp_extract_all(contact,
      |      '[A-Za-z0-9._]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_emails,
      |    regexp_replace(contact,
      |      '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g') AS pass1
      |  FROM c),
      |r2 AS (
      |  SELECT *,
      |    CAST(len(regexp_extract_all(pass1,
      |      '[0-9][0-9-]{5,}[0-9]')) AS BIGINT) AS n_nums,
      |    regexp_replace(pass1, '[0-9][0-9-]{5,}[0-9]', '<NUM>', 'g') AS redacted
      |  FROM r)
      |SELECT c_mktsegment, COUNT(*) AS n_rows,
      |  CAST(SUM(n_emails) AS BIGINT) AS emails_masked,
      |  CAST(SUM(n_nums) AS BIGINT) AS nums_masked,
      |  CAST(SUM(len(contact)) AS BIGINT) AS chars_in,
      |  CAST(SUM(len(redacted)) AS BIGINT) AS chars_out,
      |  COUNT(DISTINCT redacted) AS n_distinct_redacted
      |FROM r2 GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // --- P16: URL parsing census --------------------------------------------

  /** Structured URL decomposition (host / path / keyed query param) —
    * the click-log normalization scalar. URLs are built deterministically
    * from order columns (priority → path segment, customer → query param;
    * spaces dashed so the URI stays valid), then decomposed back and
    * audited per path, with the SAME anchored regexes the oracle uses.
    *
    * r20 optimization (guide §1.2 per-task work + §2.3 shuffle bytes),
    * both legs A/B-measured at sf0.1/local[32] with a noop sink:
    *
    *  1. `parse_url` ×4 → anchored `regexp_extract` ×4. The ParseUrl
    *     expression constructs a `java.net.URI` per CALL (four full URI
    *     parses per row, ~5 µs/row); the anchored extracts are ~6× faster
    *     (0.97 s → 0.29 s for the scalar stage) and the two engines now
    *     run the IDENTICAL decomposition. The parse_url-vs-regex
    *     agreement pin this query used to carry cross-engine lives on as
    *     a suite spec (CoreQueriesSpec "parse_url agrees with the
    *     anchored-regex reading") so a parser/regex divergence still
    *     fails the build.
    *  2. Flat 4-aggregate multi-distinct → dedup-first branch plan. The
    *     flat form triggers the Expand rewrite (×3 rows) and, because
    *     `min(cust)` is a STRING min riding every expanded row, the whole
    *     aggregate falls off HashAggregate onto Sort+SortAggregate ×4.
    *     Shape D below keeps every aggregate hash-based: one map-side-
    *     combined dedup on (host,path,cust,status), then two narrow
    *     branches (per-cust rollup carrying n/min_cust; status distinct),
    *     broadcast-joined on the 5-row group key. Full query measured
    *     2.00 s → 1.19 s; no Sort/SortAggregate/Expand left in the plan.
    *
    * Scale: narrow scalar work + hash aggregates whose exchanges carry
    * pre-combined (host,path,cust,status) rows instead of ×3 Expand
    * replicas of the raw scan. */
  /** Order-preserving long encoding of a no-leading-zero digit string
    * (≤ 17 digits). Lexicographic order on such strings is the order of
    * the decimal fraction 0.d1d2…dk, so left-align the digits in a fixed
    * 17-digit field: v = toLong(c) · 10^(17−len). Two values collide in v
    * only when one is the other plus trailing zeros ("12" vs "120"), and
    * lexicographically the shorter (prefix) string is smaller — packing
    * the length into the low 5 bits breaks exactly that tie the right
    * way. Range: v < 10^17, so (v << 5) + len < 3.3·10^18 < 2^63 — exact.
    * 10^k is double-exact for k ≤ 22, so the power/cast is exact too.
    * "0" is in the contract (it encodes to the smallest value). Inputs
    * outside it (empty, leading zero, 18+ digits, any non-digit) encode to
    * null rather than to a mis-ordered long. */
  private[graft] def digitStrEnc(c: Column): Column =
    when(c.rlike("^(0|[1-9][0-9]{0,16})$"),
      shiftleft(c.cast(LongType) *
        pow(lit(10.0), lit(17) - length(c)).cast(LongType), 5) +
        length(c).cast(LongType))

  /** Exact inverse of [[digitStrEnc]] without integer division: the
    * left-aligned value v = enc >> 5 always renders as exactly 17 digits
    * (its leading digit is the string's, which is non-zero), so the
    * original string is v's first `len = enc & 31` characters. */
  private[graft] def digitStrDec(enc: Column): Column =
    shiftright(enc, 5).cast(StringType)
      .substr(lit(1), enc.bitwiseAND(lit(31L)).cast(IntegerType))

  def urlParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parsed = Tables.orders(s, dir)
      .select(concat(
        lit("https://shop.example.com/"),
        lower(replace($"o_orderpriority", lit(" "), lit("-"))),
        lit("/item?cust="), $"o_custkey".cast(StringType),
        lit("&status="), $"o_orderstatus").as("url"))
      .select(
        regexp_extract($"url", "^https://([^/]+)", 1).as("host"),
        regexp_extract($"url", "^https://[^/]+([^?]*)", 1).as("path"),
        regexp_extract($"url", "cust=([0-9]+)", 1).as("cust"),
        regexp_extract($"url", "status=([A-Z]+)", 1).as("status"))
    val lvl1 = parsed.groupBy($"host", $"path", $"cust", $"status")
      .agg(count(lit(1)).as("c"))
    // r21 (verdict r20 item 6): min over a STRING buffer demotes the whole
    // per-cust rollup to Sort+SortAggregate (HashAggregateExec requires
    // every aggregation-buffer field to be a mutable fixed-width type).
    // `cust` is a digit string without leading zeros (rendered from
    // o_custkey), so encoding it through [[digitStrEnc]] gives ONE long
    // whose numeric order IS the string's lexicographic order — min()
    // stays on a codegen'd HashAggregate and [[digitStrDec]] restores the
    // exact string. CoreQueriesSpec pins agreement with the string min on
    // the real population and on the adversarial pairs ("9" vs "10",
    // prefix-plus-trailing-zero ties, the 17-digit boundary).
    val perCust = lvl1.groupBy($"host", $"path", $"cust")
      .agg(sum($"c").as("c2"))
      .select($"host", $"path", $"c2", digitStrEnc($"cust").as("enc"))
      .groupBy($"host", $"path")
      .agg(sum($"c2").as("n"), count(lit(1)).as("n_custs"),
        min($"enc").as("min_enc"))
      .withColumn("min_cust", digitStrDec($"min_enc"))
    val perStatus = lvl1.select($"host", $"path", $"status").distinct()
      .groupBy($"host", $"path").agg(count(lit(1)).as("n_statuses"))
    perCust.join(perStatus, Seq("host", "path"))
      .select($"host", $"path", $"n", $"n_custs", $"n_statuses", $"min_cust")
      .orderBy($"path")
  }

  val urlParseSql: String =
    """WITH u AS (
      |  SELECT 'https://shop.example.com/'
      |    || lower(replace(o_orderpriority, ' ', '-'))
      |    || '/item?cust=' || CAST(o_custkey AS VARCHAR)
      |    || '&status=' || o_orderstatus AS url
      |  FROM orders),
      |p AS (
      |  SELECT
      |    regexp_extract(url, '^https://([^/]+)', 1) AS host,
      |    regexp_extract(url, '^https://[^/]+([^?]*)', 1) AS path,
      |    regexp_extract(url, 'cust=([0-9]+)', 1) AS cust,
      |    regexp_extract(url, 'status=([A-Z]+)', 1) AS status
      |  FROM u)
      |SELECT host, path, COUNT(*) AS n,
      |  COUNT(DISTINCT cust) AS n_custs,
      |  COUNT(DISTINCT status) AS n_statuses,
      |  MIN(cust) AS min_cust
      |FROM p GROUP BY 1, 2 ORDER BY path""".stripMargin

  // --- P17: URL canonicalization dedup ------------------------------------

  /** Web-crawl URL canonicalization — the dedup primitive every crawl
    * pipeline runs before content dedup: scheme-case, host-case, `www.`
    * prefix, default `:443` port, trailing slash, tracking parameters
    * (`utm_*`), and query-parameter ORDER are all surface noise that makes
    * one page look like many. Raw URLs are synthesized from orders in
    * three deliberately-divergent surface forms per logical page;
    * canonicalization is pure narrow string work (regexp extracts + an
    * array filter/sort for the query string — RE2∩Java patterns, the
    * q_regex_suite dialect discipline), and the rollup reports how many
    * raw forms collapsed per path.
    *
    * Scale: fully narrow until one hash agg on the canonical key — the
    * exact shape a 100-TB crawl frontier dedup needs (the canonical URL
    * then becomes the exact-dedup key of X1). */
  def urlCanonical(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = Tables.orders(s, dir)
      .select($"o_orderkey".as("k"), $"o_custkey".as("cust"),
        lower(replace($"o_orderpriority", lit(" "), lit("-"))).as("cat"))
      .select(concat(
        when($"k" % 3 === 0, lit("HTTPS://WWW.Shop.Example.com:443"))
          .when($"k" % 3 === 1, lit("https://shop.example.com"))
          .otherwise(lit("https://Shop.example.COM")),
        lit("/cat/"), $"cat",
        when($"k" % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?"),
        when($"k" % 3 === 0, lit("utm_source=ad&")).otherwise(lit("")),
        lit("cust="), $"cust".cast(StringType),
        when($"k" % 5 === 0, lit("&utm_campaign=x")).otherwise(lit("")))
        .as("url"))
    // hoist the sorted non-utm query string into ONE projected column so
    // the `\?(.*)$` extract + split/filter/sort runs once per row — the
    // guard and the value branch below both reuse `qs`
    val canon = raw
      .withColumn("qs", expr("array_join(array_sort(filter(split(" +
        "regexp_extract(url, '\\\\?(.*)$', 1), '&'), " +
        "p -> substring(p, 1, 4) != 'utm_')), '&')"))
      .select($"url",
        concat(lit("https://"),
          regexp_replace(regexp_replace(
            lower(regexp_extract($"url", "^[hH][tT][tT][pP][sS]://([^/?]+)", 1)),
            "^www\\.", ""), ":443$", ""),
          regexp_replace(
            regexp_extract($"url", "^[hH][tT][tT][pP][sS]://[^/?]+([^?]*)", 1),
            "/+$", ""),
          when($"qs" =!= "", concat(lit("?"), $"qs"))
            .otherwise(lit(""))).as("canonical"))
    // two-level aggregate: dedup the (url, canonical) forms FIRST, then
    // count over the small form table — two countDistincts directly over
    // the raw stream would Expand every long URL string row ×2
    canon
      .select(regexp_extract($"canonical", "^https://[^/]+(/[^/?]+/[^/?]+)", 1)
        .as("path"), $"url", $"canonical")
      .groupBy($"path", $"url", $"canonical")
      .agg(count(lit(1)).as("c"))
      .groupBy($"path")
      .agg(sum($"c").as("n_raw"),
        count(lit(1)).as("n_raw_forms"),
        countDistinct($"canonical").as("n_canonical"))
      .select($"path", $"n_raw", $"n_raw_forms", $"n_canonical",
        ($"n_raw_forms" - $"n_canonical").as("n_collapsed"))
      .orderBy($"path")
  }

  val urlCanonicalSql: String =
    """WITH raw AS (
      |  SELECT
      |    (CASE WHEN o_orderkey % 3 = 0 THEN 'HTTPS://WWW.Shop.Example.com:443'
      |          WHEN o_orderkey % 3 = 1 THEN 'https://shop.example.com'
      |          ELSE 'https://Shop.example.COM' END)
      |    || '/cat/' || lower(replace(o_orderpriority, ' ', '-'))
      |    || (CASE WHEN o_orderkey % 2 = 0 THEN '/' ELSE '' END)
      |    || '?'
      |    || (CASE WHEN o_orderkey % 3 = 0 THEN 'utm_source=ad&' ELSE '' END)
      |    || 'cust=' || CAST(o_custkey AS VARCHAR)
      |    || (CASE WHEN o_orderkey % 5 = 0 THEN '&utm_campaign=x' ELSE '' END)
      |      AS url
      |  FROM orders),
      |canon AS (
      |  SELECT url,
      |    'https://'
      |    || regexp_replace(regexp_replace(
      |         lower(regexp_extract(url, '^[hH][tT][tT][pP][sS]://([^/?]+)', 1)),
      |         '^www\.', ''), ':443$', '')
      |    || regexp_replace(
      |         regexp_extract(url, '^[hH][tT][tT][pP][sS]://[^/?]+([^?]*)', 1),
      |         '/+$', '')
      |    || (CASE WHEN array_to_string(list_sort(list_filter(string_split(
      |           regexp_extract(url, '\?(.*)$', 1), '&'),
      |           p -> substring(p, 1, 4) <> 'utm_')), '&') <> ''
      |         THEN '?' || array_to_string(list_sort(list_filter(string_split(
      |           regexp_extract(url, '\?(.*)$', 1), '&'),
      |           p -> substring(p, 1, 4) <> 'utm_')), '&')
      |         ELSE '' END) AS canonical
      |  FROM raw)
      |SELECT regexp_extract(canonical, '^https://[^/]+(/[^/?]+/[^/?]+)', 1)
      |    AS path,
      |  COUNT(*) AS n_raw,
      |  COUNT(DISTINCT url) AS n_raw_forms,
      |  COUNT(DISTINCT canonical) AS n_canonical,
      |  COUNT(DISTINCT url) - COUNT(DISTINCT canonical) AS n_collapsed
      |FROM canon GROUP BY 1
      |ORDER BY path""".stripMargin

  // --- P18: NULL-semantics suite -------------------------------------------

  /** The ANSI null corner cases pinned as one census — the semantics bugs
    * hide in: null-safe equality (`<=>` / IS NOT DISTINCT FROM, true when
    * BOTH sides are null, where `=` is UNKNOWN), COUNT(*) vs COUNT(col)
    * (the latter skips nulls), COUNT(DISTINCT col) ignoring nulls while
    * GROUP BY makes nulls ONE group, and null placement in ORDER BY
    * (Spark defaults NULLS FIRST asc, DuckDB NULLS LAST — the suite pins
    * it EXPLICITLY, the repo-wide rule). Nullable columns are derived
    * with nullif so both engines see identical null patterns.
    *
    * Scale: one narrow projection + one hash aggregate. */
  def nullSemantics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, dir).select(
      nullif($"o_orderstatus", lit("F")).as("a"),
      nullif($"o_orderstatus", lit("O")).as("b"),
      nullif($"o_orderpriority", lit("1-URGENT")).as("p"))
    base.groupBy($"a")
      .agg(count(lit(1)).as("n_rows"),
        count($"p").as("n_p_nonnull"),
        countDistinct($"p").as("n_p_distinct"),
        sum(when($"a" <=> $"b", 1L).otherwise(0L)).as("n_nullsafe_eq"),
        sum(when($"a" === $"b", 1L).otherwise(0L)).as("n_plain_eq"),
        sum(when(!($"a" <=> $"b"), 1L).otherwise(0L)).as("n_distinct_from"))
      .orderBy($"a".asc_nulls_first)
  }

  val nullSemanticsSql: String =
    """WITH base AS (
      |  SELECT nullif(o_orderstatus, 'F') AS a,
      |    nullif(o_orderstatus, 'O') AS b,
      |    nullif(o_orderpriority, '1-URGENT') AS p
      |  FROM orders)
      |SELECT a, COUNT(*) AS n_rows,
      |  COUNT(p) AS n_p_nonnull,
      |  CAST(COUNT(DISTINCT p) AS BIGINT) AS n_p_distinct,
      |  CAST(SUM(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_nullsafe_eq,
      |  CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_plain_eq,
      |  CAST(SUM(CASE WHEN a IS DISTINCT FROM b THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_distinct_from
      |FROM base GROUP BY a ORDER BY a NULLS FIRST""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_null_semantics", nullSemantics, Some(nullSemanticsSql),
      "P18 ANSI null-semantics census: null-safe eq, null groups, ordering"),
    QueryDef("q_url_canonical", urlCanonical, Some(urlCanonicalSql),
      "P17 URL canonicalization dedup: narrow normalize + one hash agg"),
    QueryDef("q_pii_redact", piiRedact, Some(piiRedactSql),
      "XP6 PII redaction (email/number masking) with per-segment audit"),
    QueryDef("q_url_parse", urlParse, Some(urlParseSql),
      "P16 parse_url host/path/query decomposition census"),
    QueryDef("q_lateral_topn", lateralTopN, Some(lateralTopNSql),
      "J7 correlated LATERAL top-n per row, decorrelated to a window join"),
    QueryDef("q_rollup_grouping", rollupGrouping, Some(rollupGroupingSql),
      "A5b rollup with grouping()/grouping_id() subtotal metadata"),
    QueryDef("q_unpivot_measures", unpivotMeasures, Some(unpivotMeasuresSql),
      "P13 native unpivot/melt of the lineitem measures"),
    QueryDef("q_regex_suite", regexSuite, Some(regexSuiteSql),
      "P14 regex extract-all/replace/match census per language"),
    QueryDef("q_array_suite", arraySuite, Some(arraySuiteSql),
      "P15 array HOF family on integer-quantized embeddings"))
}
