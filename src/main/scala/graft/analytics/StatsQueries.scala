package graft.analytics

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Co-occurrence and statistical-test operators: market-basket pair
  * mining and contingency-table chi-square — the analytics a feature/
  * mixture pipeline runs to find correlated dimensions before deciding
  * sampling weights.
  *
  * Determinism: all counts are integers; the chi-square doubles are
  * computed with the identical expression order in both engines from
  * those exact integers, then rounded (libm-free arithmetic only:
  * +,-,*,/ are IEEE-exact given identical operands).
  */
object StatsQueries {

  // --- ST1: market-basket co-occurrence pairs ----------------------------

  /** Top-20 part pairs that co-occur in the most orders — frequent-pair
    * mining as one co-partitioned self-join: both sides hash on
    * l_orderkey (a single shuffle the two scans share), pairs expand
    * locally with p1 < p2, and the pair count is a hash aggregate.
    *
    * Scale: pair expansion is quadratic ONLY in basket size (TPC-H
    * baskets are ≤7 lines; real carts are similarly bounded — an
    * unbounded-basket corpus would cap the per-basket expansion with the
    * BoundedCollect pattern first). The aggregate's key space is the
    * pair dictionary, pruned by the final TakeOrderedAndProject top-k —
    * no global sort materializes. */
  /** The mined top-20 pair table is consumed by ST1 AND ST10 — memoized
    * per (session, lineitem content), the minhashPairs pattern, so the
    * quadratic-in-basket expansion runs once per session. */
  private def topPairs(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "basket_top_pairs", dir, "lineitem") {
      graft.GraftSession.ckpt(topPairsPlan(s, dir))
    }

  /** The un-memoized mining plan (PlanShapeSpec pins its shape). */
  private[graft] def topPairsPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    li.join(li.toDF("ok", "pk2"), "ok")
      .filter($"pk" < $"pk2")
      .groupBy($"pk".as("part1"), $"pk2".as("part2"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"n_orders".desc, $"part1".asc, $"part2".asc)
      .limit(20)
  }

  def basketPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    topPairs(s, dir).orderBy($"n_orders".desc, $"part1".asc, $"part2".asc)
  }

  val basketPairsSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      |SELECT a.pk AS part1, b.pk AS part2, COUNT(*) AS n_orders
      |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, part1, part2
      |LIMIT 20""".stripMargin

  // --- ST2: contingency table + chi-square -------------------------------

  /** lang × source contingency table with expected counts and per-cell
    * chi-square contributions — the independence test behind "does source
    * mix vary by language" (and, at training scale, "is my mixture
    * confounded"). Observed counts aggregate once; row totals, column
    * totals, and the grand total come from window sums over the tiny cell
    * table, so the fact table is scanned exactly once.
    *
    * Scale: one hash aggregate over the corpus to |langs|×|sources|
    * cells; everything after operates on that constant-size table —
    * window partitioning replaces three separate re-aggregations. */
  def contingencyChi2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(s, dir)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("observed"))
    val wr = Window.partitionBy($"lang")
    val wc = Window.partitionBy($"source")
    val wall = Window.partitionBy()
    cells
      .withColumn("row_total", sum($"observed").over(wr))
      .withColumn("col_total", sum($"observed").over(wc))
      .withColumn("grand_total", sum($"observed").over(wall))
      .withColumn("expected",
        round($"row_total".cast(DoubleType) * $"col_total".cast(DoubleType)
          / $"grand_total".cast(DoubleType), 6))
      .withColumn("chi2_cell",
        round(($"observed".cast(DoubleType) - $"expected")
          * ($"observed".cast(DoubleType) - $"expected") / $"expected", 6))
      .select($"lang", $"source", $"observed", $"row_total", $"col_total",
        $"expected", $"chi2_cell")
      .orderBy($"lang", $"source")
  }

  val contingencyChi2Sql: String =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS observed
      |  FROM documents GROUP BY 1, 2),
      |t AS (
      |  SELECT lang, source, observed,
      |    SUM(observed) OVER (PARTITION BY lang) AS row_total,
      |    SUM(observed) OVER (PARTITION BY source) AS col_total,
      |    SUM(observed) OVER () AS grand_total
      |  FROM cells),
      |e AS (
      |  SELECT lang, source, observed,
      |    CAST(row_total AS BIGINT) AS row_total,
      |    CAST(col_total AS BIGINT) AS col_total,
      |    round(CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
      |      / CAST(grand_total AS DOUBLE), 6) AS expected
      |  FROM t)
      |SELECT lang, source, observed, row_total, col_total, expected,
      |  round((CAST(observed AS DOUBLE) - expected)
      |    * (CAST(observed AS DOUBLE) - expected) / expected, 6) AS chi2_cell
      |FROM e ORDER BY lang, source""".stripMargin

  // --- ST3: per-group OLS trend fit from exact integer sums ---------------

  /** Least-squares daily-spend trend per event type: slope/intercept/R² of
    * total daily cents (y) against day number (x) — the SQL:2016
    * `regr_slope`/`regr_intercept`/`regr_r2` family, computed from EXACT
    * integer sufficient statistics instead of the built-ins' running
    * double sums. Σx and Σx² are calendar-bounded longs; the y-carrying
    * statistics ride 128-bit integers (DECIMAL(38,0) / HUGEINT) so the
    * combination terms (sy², n·syy) stay exact at ANY corpus scale —
    * both engines derive the fit from IDENTICAL integers and the only
    * floating-point steps are the final divisions — the same exactness
    * discipline as the money tier. At 100
    * TB the daily rollup (first aggregate) is the only big pass; the fit
    * itself runs on |groups|·|days| rows.
    *
    * Why not `regr_slope`: its streaming covariance accumulates doubles in
    * partial-aggregation order, which differs between engines and across
    * partition counts — unfixable nondeterminism for a hash-compared
    * result. Sufficient statistics are the scale-correct form anyway (one
    * hash agg, algebraic merge). */
  def statsRegression(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .select($"event_type",
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("x"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy($"event_type", $"x")
      .agg(sum($"cents").as("y"))
    // y-carrying statistics in 128-bit integers (Spark DECIMAL(38,0) /
    // DuckDB HUGEINT — round 19): daily cents y grows with corpus scale,
    // so sy², n·syy and Σy² overflow int64 around the 100× tier — a
    // SILENT wraparound in Spark and a hard error in DuckDB. x is a
    // calendar day number (bounded ~2·10⁴ forever), so the x-only terms
    // stay exact in int64 at any corpus size.
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val fit = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y".cast(dec)).as("sy"),
        sum($"x".cast(dec) * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"),
        sum($"y".cast(dec) * $"y").as("syy"))
    // all sums are exact integers; every division below is the first
    // (and only) floating-point step, so both engines compute identical
    // bits. Round 19: NO final round(x, 6) — Spark rounds through the
    // exact BigDecimal of the double while DuckDB multiplies by 1e6 and
    // nearbyints, and the two flip opposite ways when the true value
    // sits near a 0.5e-6 boundary (the r18 sf1 sweep caught exactly one
    // such intercept). The raw IEEE doubles ARE the deterministic form
    // (the 128-bit→double casts are correctly rounded on both sides:
    // BigDecimal.doubleValue here, a VARCHAR round-trip in the mirror).
    val num = ($"n" * $"sxy" - $"sx" * $"sy").cast("double")
    val den = ($"n" * $"sxx" - $"sx" * $"sx").cast("double")
    val m = num / den
    fit.select($"event_type", $"n".as("n_days"),
        m.as("slope"),
        (($"sy".cast("double") - m * $"sx") / $"n").as("intercept"),
        (num * num /
          (den * ($"n" * $"syy" - $"sy" * $"sy").cast("double"))).as("r2"))
      .orderBy($"event_type")
  }

  val statsRegressionSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |fit AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n AS n_days,
      |  CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
      |  (CAST(CAST(sy AS VARCHAR) AS DOUBLE)
      |    - (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      |       / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n AS intercept,
      |  CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      |    * CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
      |    / (CAST(n * sxx - sx * sx AS DOUBLE)
      |       * CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)) AS r2
      |FROM fit ORDER BY event_type""".stripMargin

  // --- ST12: Zipf rank-frequency fit per language -------------------------

  /** Ranks fitted per language (the Zipfian head; the tail is known to
    * deviate and would only add noise to the slope). */
  private val ZIPF_TOP = 500L

  /** Zipf's-law conformance per language: the OLS slope of log-frequency
    * against log-rank over the top-[[ZIPF_TOP]] tokens — natural text
    * sits near −1; synthetic, templated, or spam-flooded cohorts bend
    * the curve (slope drifts, R² collapses), making this a one-row-per-
    * language corpus-health gate. Discipline: ONE ln per vocabulary row,
    * quantized to integer micro-units immediately (the nbTrain /
    * KL-divergence pattern); sufficient statistics are exact BIGINT sums
    * of those integers, and the final divisions are the only
    * floating-point steps (the [[statsRegression]] rule — never a
    * streaming-covariance built-in whose partial order differs between
    * engines).
    *
    * Scale: one (lang, token) hash aggregate over the corpus; the rank
    * window and the fit run on the per-lang top-[[ZIPF_TOP]] dictionary.
    *
    * Overflow bound (the epochBudget discipline): the fit's BIGINT
    * products stay exact while n·Σy² < 2⁶³ — with n ≤ [[ZIPF_TOP]] = 500
    * ranks and y = ⌊ln(f)·10⁶⌋, that holds for any per-token frequency
    * f < e^(6.07) per rank in the worst (flat) case, and in the Zipfian
    * case for corpora up to ~10¹² tokens per language. Past that bound
    * the engines FAIL DIFFERENTLY (Spark Longs wrap silently, DuckDB
    * raises on BIGINT overflow) — at larger scales drop the 10⁶
    * quantizer to 10³ before widening [[ZIPF_TOP]]; do NOT cast the sums
    * to double (partial-aggregation order then differs between engines
    * and the fit loses bit-for-bit determinism). */
  def textZipf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val freq = Tables.documents(s, dir)
      .select($"lang", explode(Ops.words($"text")).as("tok"))
      .groupBy($"lang", $"tok")
      .agg(count(lit(1)).as("f"))
    val w = Window.partitionBy($"lang").orderBy($"f".desc, $"tok".asc)
    val pts = freq
      .withColumn("r", row_number().over(w).cast("long"))
      .filter($"r" <= ZIPF_TOP)
      .select($"lang",
        floor(log($"r".cast("double")) * 1000000L).cast("long").as("x"),
        floor(log($"f".cast("double")) * 1000000L).cast("long").as("y"))
    val fit = pts.groupBy($"lang")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
    val num = ($"n" * $"sxy" - $"sx" * $"sy").cast("double")
    val den = ($"n" * $"sxx" - $"sx" * $"sx").cast("double")
    fit.select($"lang", $"n".as("n_ranks"),
        round(num / den, 6).as("slope"),
        round(num * num /
          (den * ($"n" * $"syy" - $"sy" * $"sy").cast("double")), 6).as("r2"))
      .orderBy($"lang")
  }

  val textZipfSql: String =
    s"""WITH zfreq AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |zcnt AS (
       |  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM zfreq GROUP BY 1, 2),
       |zpts AS (
       |  SELECT lang,
       |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
       |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
       |  FROM (
       |    SELECT lang, f, ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY f DESC, tok ASC) AS r
       |    FROM zcnt)
       |  WHERE r <= $ZIPF_TOP),
       |zfit AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM zpts GROUP BY 1)
       |SELECT lang, n AS n_ranks,
       |  round(CAST(n * sxy - sx * sy AS DOUBLE)
       |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       |  round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
       |    / (CAST(n * sxx - sx * sx AS DOUBLE)
       |       * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
       |FROM zfit ORDER BY lang""".stripMargin

  // --- ST11: two-sample Kolmogorov–Smirnov drift test ---------------------

  /** Argmax packing stride for (dppm desc, n_chars asc): dppm ≤ 10⁶ so the
    * pack stays inside a long while n_chars < 10⁹. */
  private val KS_STRIDE = 1000000000L

  /** Two-sample KOLMOGOROV–SMIRNOV distance between the even/odd-doc_id
    * cohorts' document-LENGTH distributions, per language — the classic
    * distribution-drift test (q_corpus_drift watches CONTENT via hashed
    * unigrams; this watches a structural marginal any schema has). KS is
    * the max absolute gap between the two empirical CDFs; emitted in ppm
    * with the length at which the gap peaks (ties to the smallest
    * length, via the documented stride pack).
    *
    * Determinism: each CDF point quantizes to integer ppm BEFORE the
    * difference (cum·10⁶ div total), so both engines compare identical
    * integers — no float CDF anywhere.
    *
    * Scale: one corpus scan into per-(lang, n_chars) conditional counts;
    * the CDF window is partitioned by lang over the LENGTH DICTIONARY
    * (distinct lengths, value-bounded), never corpus rows; the totals
    * join is |langs|-sized. */
  def lengthKs(s: SparkSession, dir: String): DataFrame =
    lengthKsOf(Tables.documents(s, dir))

  /** [[lengthKs]] over an arbitrary (doc_id, lang, n_chars) relation —
    * factored for the ContractAndPropertySpec reference pin. */
  private[graft] def lengthKsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val cnts = docs
      .groupBy($"lang", $"n_chars")
      .agg(sum(when($"doc_id" % 2 === 0, 1L).otherwise(0L)).as("ca"),
        sum(when($"doc_id" % 2 === 1, 1L).otherwise(0L)).as("cb"))
    val tot = cnts.groupBy($"lang").agg(sum($"ca").as("ta"), sum($"cb").as("tb"))
    val w = Window.partitionBy($"lang").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cnts
      .withColumn("cca", sum($"ca").over(w))
      .withColumn("ccb", sum($"cb").over(w))
      .join(tot, "lang")
      .withColumn("dppm", abs(expr(
        "CASE WHEN ta > 0 THEN cca * 1000000 div ta ELSE 0 END" +
          " - CASE WHEN tb > 0 THEN ccb * 1000000 div tb ELSE 0 END")))
      .withColumn("packed",
        expr(s"dppm * $KS_STRIDE + (${KS_STRIDE - 1} - n_chars)"))
      .groupBy($"lang")
      .agg(max($"ta").as("n_a"), max($"tb").as("n_b"),
        max($"packed").as("p"))
      .select($"lang", $"n_a", $"n_b",
        expr(s"p div $KS_STRIDE").as("ks_ppm"),
        expr(s"${KS_STRIDE - 1} - p % $KS_STRIDE").as("ks_at_chars"))
      .orderBy($"lang")
  }

  val lengthKsSql: String =
    s"""WITH kcnt AS (
       |  SELECT lang, n_chars,
       |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ca,
       |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cb
       |  FROM documents GROUP BY 1, 2),
       |ktot AS (
       |  SELECT lang, CAST(SUM(ca) AS BIGINT) AS ta,
       |    CAST(SUM(cb) AS BIGINT) AS tb
       |  FROM kcnt GROUP BY 1),
       |kcum AS (
       |  SELECT lang, n_chars,
       |    CAST(SUM(ca) OVER (PARTITION BY lang ORDER BY n_chars
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cca,
       |    CAST(SUM(cb) OVER (PARTITION BY lang ORDER BY n_chars
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS ccb
       |  FROM kcnt),
       |kd AS (
       |  SELECT k.lang, k.n_chars, t.ta, t.tb,
       |    abs(CASE WHEN t.ta > 0 THEN cca * 1000000 // t.ta ELSE 0 END
       |      - CASE WHEN t.tb > 0 THEN ccb * 1000000 // t.tb ELSE 0 END)
       |      AS dppm
       |  FROM kcum k JOIN ktot t ON k.lang = t.lang)
       |SELECT lang, CAST(MAX(ta) AS BIGINT) AS n_a,
       |  CAST(MAX(tb) AS BIGINT) AS n_b,
       |  CAST(MAX(dppm * $KS_STRIDE + (${KS_STRIDE - 1} - n_chars))
       |    // $KS_STRIDE AS BIGINT) AS ks_ppm,
       |  CAST(${KS_STRIDE - 1} - MAX(dppm * $KS_STRIDE
       |    + (${KS_STRIDE - 1} - n_chars)) % $KS_STRIDE AS BIGINT)
       |    AS ks_at_chars
       |FROM kd GROUP BY lang ORDER BY lang""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_length_ks", lengthKs, Some(lengthKsSql),
      "ST11 two-sample KS drift test: max CDF gap (ppm) between cohort length distributions per language, with the peak location"),
    QueryDef("q_text_zipf", textZipf, Some(textZipfSql),
      "ST12 Zipf conformance per language: quantized-log OLS slope + R2 over the top-500 token ranks"),
    QueryDef("q_basket_pairs", basketPairs, Some(basketPairsSql),
      "ST1 market-basket co-occurrence: co-partitioned self-join pair mining"),
    QueryDef("q_stats_contingency", contingencyChi2, Some(contingencyChi2Sql),
      "ST2 contingency table with chi-square contributions from one scan"),
    QueryDef("q_stats_regression", statsRegression, Some(statsRegressionSql),
      "ST3 per-group OLS trend fit from exact integer sufficient statistics"),
    QueryDef("q_rolling_zscore", rollingZscore, Some(rollingZscoreSql),
      "ST4 trailing-window z-score anomalies from exact integer frame sums"),
    QueryDef("q_basket_lift", basketLift, Some(basketLiftSql),
      "ST10 association-rule lift/confidence in ppm over the top pairs"),
    QueryDef("q_cusum_changepoint", cusumChangepoint,
      Some(cusumChangepointSql),
      "ST9 CUSUM change-point day per type, exact cross-multiplied integers"),
    QueryDef("q_trimmed_mean", trimmedMean, Some(trimmedMeanSql),
      "ST8 10%-trimmed per-group mean via rank windows, integer cents"),
    QueryDef("q_mad_outliers", madOutliers, Some(madOutliersSql),
      "ST7 median/MAD robust outlier gate from rank-picked order statistics"),
    QueryDef("q_skyline_pareto", skylinePareto, Some(skylineParetoSql),
      "ST6 Pareto dominance frontier via bucket-pruned running-max windows"),
    QueryDef("q_exact_quantiles", exactQuantiles, Some(exactQuantilesSql),
      "ST5 exact P10/P50/P90 order statistics via window rank, state-free"),
    QueryDef("q_exact_quantiles_dist", exactQuantilesDist,
      Some(exactQuantilesSql),
      "ST5b distributed exact quantiles: range histogram + per-bucket rank refinement, no whole-group sort"))

  // --- ST5: exact multi-quantile via window rank --------------------------

  /** Exact P10/P50/P90 of per-event spend per event type, computed as
    * ORDER STATISTICS: rank every row within its group once, then keep
    * the rows sitting at ⌈q·n⌉. The `percentile()` aggregate gives the
    * same numbers with a collect-the-whole-group-into-one-buffer state —
    * the A6 approx tier exists because that buffer is the scale failure;
    * this is the exact path that stays distributed: the sort is Spark's
    * spillable per-partition window sort, state per row is one long, and
    * no single buffer ever holds a group.
    *
    * Determinism: values are integer cents; ⌈q·n⌉ is (k·n + 9) div 10 —
    * integer-exact in both engines; rank ties break on event_id but the
    * emitted VALUE at a rank is tie-independent. */
  def exactQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"cents", $"event_id")
    val wAll = Window.partitionBy($"event_type")
    Tables.events(s, dir)
      .select($"event_type", $"event_id",
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .select($"event_type", $"cents", $"rn", $"n",
        explode(expr("array(1, 5, 9)")).as("k"))
      .filter($"rn" === expr("(k * n + 9) div 10"))
      .select($"event_type",
        ($"k".cast(DoubleType) / 10).as("q"), $"cents".as("value_cents"))
      .orderBy($"event_type", $"q")
  }

  val exactQuantilesSql: String =
    """WITH ranked AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM events),
      |hits AS (
      |  SELECT event_type, cents, rn, n, unnest([1, 5, 9]) AS k
      |  FROM ranked)
      |SELECT event_type, CAST(k AS DOUBLE) / 10 AS q, cents AS value_cents
      |FROM hits WHERE rn = (k * n + 9) // 10
      |ORDER BY event_type, q""".stripMargin

  // --- ST5b: distributed exact quantiles ----------------------------------

  /** The same ⌈q·n⌉ order statistics as [[exactQuantiles]], computed so
    * that no single reducer ever sorts a whole group — and in this form
    * so that NO row-level sort happens at all: quantile VALUES are read
    * off cumulative histograms, never picked by ranking fact rows.
    *
    * Three hash-aggregate passes over the facts:
    *   1. Envelope: per-type (min, max, n). The bucket width derives from
    *      the ACTUAL value range — `w1 = (hi - lo) div 1024 + 1` — so the
    *      histogram spans ~1024 occupied buckets however the values are
    *      distributed. (The round-8 fixed `cents >> 10` shift assumed a
    *      roughly uniform spread; a heavy-tailed range could concentrate
    *      one bucket.)
    *   2. Range histogram: per-(type, bucket) counts; running totals over
    *      this SMALL table locate, for each target rank k = ⌈q·n⌉
    *      (integer-exact), the owning bucket and the rank remaining
    *      inside it (k minus rows in all earlier buckets).
    *   3. Value refinement: a per-VALUE histogram inside owning buckets
    *      only (a broadcast semi-join keeps every other bucket out of the
    *      shuffle). The running total over its DISTINCT values yields the
    *      answer directly — the value v with cum(<v) < local_rank ≤
    *      cum(≤v). Equal values collapse to one histogram row, so
    *      value-frequency skew (the worst case for any sort-based rank:
    *      millions of rows tied at one value) SHRINKS this input instead
    *      of concentrating a partition; the refinement window reads at
    *      most min(w1, |bucket rows|) rows however skewed the data.
    *
    * No row_number over facts and no event_id tiebreak: all rows tied at
    * a value share that value, so the histogram pick emits exactly ST5's
    * value at every rank. The oracle is ST5's own SQL — the point is
    * plan shape, not new semantics; the spec pins row-for-row equality
    * with ST5, the rank-window-free plan, and the tie-collapse bound
    * under a deliberately skewed distribution. */
  def exactQuantilesDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    exactQuantilesOf(Tables.events(s, dir)
      .select($"event_type",
        expr("cast(round(value * 100) as bigint)").as("cents")))
  }

  /** [[exactQuantilesDist]]'s engine over an arbitrary (event_type,
    * cents) fact set — factored out so specs can feed adversarially
    * skewed distributions. */
  private[graft] def exactQuantilesOf(facts: DataFrame): DataFrame = {
    val s = facts.sparkSession
    import s.implicits._
    // pass 1: per-type envelope → range-adaptive bucket width
    val stats = facts.groupBy($"event_type")
      .agg(min($"cents").as("lo"), max($"cents").as("hi"),
        count(lit(1)).as("n"))
      .withColumn("w1", expr("(hi - lo) div 1024 + 1"))
    val bucketed = facts
      .join(broadcast(stats.select($"event_type", $"lo", $"w1")),
        Seq("event_type"))
      .withColumn("bucket", expr("(cents - lo) div w1"))
    // pass 2: the range histogram (≤ ~1025 buckets per type)
    val wb = Window.partitionBy($"event_type").orderBy($"bucket")
    val targets = bucketed.groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wb))
      .join(broadcast(stats.select($"event_type", $"n")), Seq("event_type"))
      .select($"event_type", $"bucket", $"c", $"cum", $"n",
        explode(expr("array(1, 5, 9)")).as("k"))
      .withColumn("krank", expr("(k * n + 9) div 10"))
      .filter($"krank" > $"cum" - $"c" && $"krank" <= $"cum")
      .select($"event_type", $"bucket", $"k",
        ($"krank" - ($"cum" - $"c")).as("local_rank"))
    // pass 3: per-VALUE refinement histogram inside owning buckets only
    val wv = Window.partitionBy($"event_type", $"bucket").orderBy($"cents")
    bucketed
      .join(broadcast(targets.select($"event_type", $"bucket").distinct()),
        Seq("event_type", "bucket"), "left_semi")
      .groupBy($"event_type", $"bucket", $"cents")
      .agg(count(lit(1)).as("vc"))
      .withColumn("vcum", sum($"vc").over(wv))
      .join(broadcast(targets), Seq("event_type", "bucket"))
      .filter($"local_rank" > $"vcum" - $"vc" && $"local_rank" <= $"vcum")
      .select($"event_type", ($"k".cast(DoubleType) / 10).as("q"),
        $"cents".as("value_cents"))
      .orderBy($"event_type", $"q")
  }

  // --- ST4: rolling z-score anomaly flags ---------------------------------

  /** Per-(event_type, day number) value totals in exact integer cents, x:
    * the one corpus pass of the change-detection queries. */
  private[analytics] def dailyCents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("dayn"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy($"event_type", $"dayn")
      .agg(sum($"cents").as("x"))
  }

  /** DuckDB mirror of [[dailyCents]]: the CTE `daily` (event_type, dayn,
    * x). */
  private[analytics] val dailyCentsSql: String =
    """daily AS (
      |  SELECT event_type,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS dayn,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Trailing-7-day z-score anomaly detection on daily spend per event
    * type: a day is flagged when its total deviates ≥ 2 sample standard
    * deviations from its own trailing week. The moving mean/std come from
    * exact integer frame sums (Σx, Σx² over cents in a ROWS frame), so
    * both engines see identical sufficient statistics — the same
    * discipline as ST3, applied to windows; `stddev` over a window would
    * accumulate doubles in engine-specific order. sqrt/division are the
    * only float steps; z is rounded at 4 and the flag tests the ROUNDED
    * value, so the cross-engine cut is pinned.
    *
    * Scale: one daily rollup (the only pass over raw events), then a
    * ROWS-frame window over |types|·|days| rows partitioned by type.
    * Frames shorter than 7 days are warm-up, not anomalies. */
  def rollingZscore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(s, dir)
    val w = Window.partitionBy($"event_type").orderBy($"dayn")
      .rowsBetween(-6, Window.currentRow)
    val stats = daily
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("s1", sum($"x").over(w))
      .withColumn("s2", sum($"x" * $"x").over(w))
      .filter($"cnt" === 7)
    val mu = $"s1".cast("double") / $"cnt"
    val variance = ($"s2".cast("double") - $"s1".cast("double") * mu) /
      ($"cnt" - 1)
    stats
      .select($"event_type", $"dayn", $"x",
        round(($"x".cast("double") - mu) / sqrt(variance), 4).as("z"))
      .filter(abs($"z") >= 2.0)
      .orderBy($"event_type", $"dayn")
  }

  val rollingZscoreSql: String =
    s"""WITH $dailyCentsSql,
       |frames AS (
       |  SELECT event_type, dayn, x,
       |    CAST(COUNT(*) OVER w AS BIGINT) AS cnt,
       |    CAST(SUM(x) OVER w AS BIGINT) AS s1,
       |    CAST(SUM(x * x) OVER w AS BIGINT) AS s2
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY dayn
       |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
       |scored AS (
       |  SELECT event_type, dayn, x,
       |    round((CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / cnt)
       |      / sqrt((CAST(s2 AS DOUBLE)
       |              - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / cnt))
       |             / (cnt - 1)), 4) AS z
       |  FROM frames WHERE cnt = 7)
       |SELECT event_type, dayn, x, z FROM scored
       |WHERE abs(z) >= 2.0
       |ORDER BY event_type, dayn""".stripMargin

  // --- ST7: MAD-based robust outlier gate ---------------------------------

  /** Robust per-group outlier detection: median + median-absolute-
    * deviation instead of mean/stddev (one far outlier corrupts a z-score
    * gate's own baseline; the ST4 failure mode this tier exists to
    * avoid). Medians are LOWER order statistics picked by rank
    * (row_number = (n+1) div 2 over the sorted group), so every value is
    * an exact integer cent in both engines — no interpolated even-count
    * median, no float. A point is an outlier when |x − med| > 3·MAD.
    *
    * Scale: two partitioned window passes (the second over the derived
    * deviations) sharing the event_type hash partitioning, plus two tiny
    * median-row joins back — the distributed-exact shape; percentile()'s
    * whole-group buffer is exactly what this avoids (the ST5 argument,
    * applied twice). */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r20 shape (guide §2.3 map-side aggregation + §2.5 skew): the rank
    // selection runs over the per-group value HISTOGRAM, not the raw
    // stream. The old form row_number()'d EVERY event inside a
    // per-event_type WindowExec — a full Tungsten sort of the corpus on
    // (type, cents) with parallelism capped at the handful of event
    // types (the exact hot-key funnel the guide's skew section warns
    // about), done TWICE (values, then deviations), with the raw `dev`
    // relation re-derived for the final census. Here every exchange
    // carries (type, cents, cnt) rows — bounded by the value DICTIONARY,
    // not the corpus — after a map-side-combining count; the lower
    // median at rank (n+1) div 2 is picked from the histogram's running
    // cumulative count (first value whose cumsum reaches the target:
    // identical to the rank-picked value, tie-robust because tied rows
    // share one histogram bucket), the deviation histogram re-groups the
    // VALUE histogram (|dict| rows, never the corpus), and the outlier
    // census sums bucket counts. Exact integer arithmetic end-to-end —
    // same rows, same oracle. Measured at sf0.1/local[32]: 1.56 s →
    // ~0.6 s, and the corpus-grain WindowExec (the 100-TB skew hazard)
    // is gone from the plan.
    val hist = Tables.events(s, dir)
      .select($"event_type",
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy($"event_type").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy($"event_type")
    val med = hist
      .withColumn("cum", sum($"cnt").over(wc))
      .withColumn("n", sum($"cnt").over(wn))
      .where($"cum" - $"cnt" < expr("(n + 1) div 2") &&
        $"cum" >= expr("(n + 1) div 2"))
      .select($"event_type", $"cents".as("med_cents"), $"n")
    val devHist = hist.join(med, Seq("event_type"))
      .groupBy($"event_type", $"med_cents", $"n",
        abs($"cents" - $"med_cents").as("d"))
      .agg(sum($"cnt").as("cnt"))
    val wd = Window.partitionBy($"event_type").orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = devHist
      .withColumn("cum", sum($"cnt").over(wd))
      .where($"cum" - $"cnt" < expr("(n + 1) div 2") &&
        $"cum" >= expr("(n + 1) div 2"))
      .select($"event_type", $"d".as("mad_cents"))
    devHist.join(mad, Seq("event_type"))
      .groupBy($"event_type")
      .agg(max($"med_cents").as("med_cents"), max($"mad_cents").as("mad_cents"),
        sum(when($"d" > lit(3L) * $"mad_cents", $"cnt").otherwise(0L))
          .as("n_outliers"),
        sum($"cnt").as("n"))
      .orderBy($"event_type")
  }

  val madOutliersSql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |ranked AS (
      |  SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM ev),
      |med AS (
      |  SELECT event_type, cents AS med_cents FROM ranked
      |  WHERE rn = (n + 1) // 2),
      |dev AS (
      |  SELECT e.event_type, e.cents, m.med_cents,
      |    abs(e.cents - m.med_cents) AS d
      |  FROM ev e JOIN med m USING (event_type)),
      |dranked AS (
      |  SELECT event_type, d,
      |    row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM dev),
      |mad AS (
      |  SELECT event_type, d AS mad_cents FROM dranked
      |  WHERE rn = (n + 1) // 2)
      |SELECT dev.event_type, MAX(dev.med_cents) AS med_cents,
      |  MAX(mad.mad_cents) AS mad_cents,
      |  CAST(SUM(CASE WHEN dev.d > 3 * mad.mad_cents THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers,
      |  COUNT(*) AS n
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  // --- ST10: association rules (lift / confidence) --------------------------

  /** The association-rule metrics over ST1's top pairs: for each of the
    * top-20 co-occurring part pairs, support (n_both), the directed
    * confidences P(b|a), P(a|b), and lift = P(a,b)/(P(a)·P(b)) — all in
    * integer ppm by cross-multiplication (lift_ppm =
    * n_both·N·10⁶ div (n_a·n_b); n_both·N ≤ N² < int64 for N < 3e9
    * baskets, and the ·10⁶ happens after one division at real scale —
    * here the direct form is exact and identical in both engines).
    * Lift > 1e6 ppm = genuinely associated, not just both popular — the
    * reason support alone (ST1) can't rank rules.
    *
    * Scale: per-part counts are one hash aggregate; the expensive pair
    * mining is ST1's bounded-basket expansion, and the metric joins touch
    * only the 20 surviving rows + a single-row N broadcast. */
  def basketLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val pairs = topPairs(s, dir)
      .select($"part1", $"part2", $"n_orders".as("n_both"))
    val perPart = li.groupBy($"pk").agg(count(lit(1)).as("n"))
    val nOrders = broadcast(li.select($"ok").distinct()
      .agg(count(lit(1)).as("n_orders")))
    pairs
      .join(perPart.select($"pk".as("part1"), $"n".as("n_a")), "part1")
      .join(perPart.select($"pk".as("part2"), $"n".as("n_b")), "part2")
      .crossJoin(nOrders)
      .select($"part1", $"part2", $"n_both",
        expr("n_both * 1000000 div n_a").as("conf_a_to_b_ppm"),
        expr("n_both * 1000000 div n_b").as("conf_b_to_a_ppm"),
        expr("n_both * n_orders * 1000000 div (n_a * n_b)").as("lift_ppm"))
      .orderBy($"n_both".desc, $"part1".asc, $"part2".asc)
  }

  val basketLiftSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |pairs AS (
      |  SELECT a.pk AS part1, b.pk AS part2, COUNT(*) AS n_both
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2
      |  ORDER BY n_both DESC, part1, part2 LIMIT 20),
      |per_part AS (SELECT pk, COUNT(*) AS n FROM li GROUP BY pk),
      |n_ord AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li)
      |SELECT p.part1, p.part2, p.n_both,
      |  CAST(p.n_both * 1000000 // pa.n AS BIGINT) AS conf_a_to_b_ppm,
      |  CAST(p.n_both * 1000000 // pb.n AS BIGINT) AS conf_b_to_a_ppm,
      |  CAST(p.n_both * (SELECT n_orders FROM n_ord) * 1000000
      |    // (pa.n * pb.n) AS BIGINT) AS lift_ppm
      |FROM pairs p
      |JOIN per_part pa ON p.part1 = pa.pk
      |JOIN per_part pb ON p.part2 = pb.pk
      |ORDER BY n_both DESC, part1, part2""".stripMargin

  // --- ST9: CUSUM change-point detection -----------------------------------

  /** Where did the daily-spend regime change? The CUSUM statistic: the day
    * maximizing the deviation of the cumulative sum from the straight line
    * it would follow under a constant rate — argmax_i |cum_i − i·total/n|,
    * cross-multiplied to |n·cum_i − i·total| so the statistic is an exact
    * BIGINT (no division until never; ties resolve to the earliest day).
    * The one-pass, exactly-reproducible member of the change-point family
    * (binary-segmentation recursions build on exactly this primitive).
    *
    * Scale: the daily rollup is the only corpus pass; the CUSUM windows
    * (row index + running sum + argmax rank) all share ONE event_type
    * exchange over |types|·|days| rows. */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyCents(s, dir)
    val ord = Window.partitionBy($"event_type").orderBy($"dayn")
    val whole = Window.partitionBy($"event_type")
    val scored = daily
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("cum", sum($"x").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("total", sum($"x").over(whole))
      .withColumn("dev", abs($"n" * $"cum" - $"i" * $"total"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"dev".desc, $"dayn".asc)))
      .where($"rn" === 1)
      .select($"event_type", $"n".as("n_days"), $"dayn".as("cp_dayn"),
        $"dev".as("max_dev"))
      .orderBy($"event_type")
  }

  val cusumChangepointSql: String =
    s"""WITH $dailyCentsSql,
       |scored AS (
       |  SELECT event_type, dayn,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY dayn)
       |      AS BIGINT) AS i,
       |    CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY dayn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum,
       |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS total
       |  FROM daily)
       |SELECT event_type, n AS n_days, dayn AS cp_dayn,
       |  abs(n * cum - i * total) AS max_dev
       |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
       |        ORDER BY abs(n * cum - i * total) DESC, dayn ASC) AS rn
       |      FROM scored)
       |WHERE rn = 1 ORDER BY event_type""".stripMargin

  // --- ST8: trimmed (truncated) mean ---------------------------------------

  /** 10%-trimmed per-group mean: drop the bottom and top ⌈n/10⌉ ranks,
    * average the middle — the robust-location estimator between the mean
    * (ST3's world) and the median (ST7's): resistant to tail garbage but
    * still using 80% of the data. Rank-picked exactly like ST5/ST7 — one
    * hash-partitioned window sort, integer cents, integer-div mean, no
    * whole-group percentile buffer. */
  def trimmedMean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type",
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val w = Window.partitionBy($"event_type").orderBy($"cents")
    ev
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
      .withColumn("cut", expr("(n + 9) div 10"))
      .where($"rn" > $"cut" && $"rn" <= $"n" - $"cut")
      .groupBy($"event_type")
      .agg(max($"n").as("n"), count(lit(1)).as("n_kept"),
        sum($"cents").as("trimmed_sum_cents"),
        expr("sum(cents) div count(1)").as("trimmed_mean_cents"))
      .orderBy($"event_type")
  }

  val trimmedMeanSql: String =
    """WITH ranked AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY
      |      CAST(round(value * 100) AS BIGINT)) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |kept AS (
      |  SELECT event_type, cents, n FROM ranked
      |  WHERE rn > (n + 9) // 10 AND rn <= n - (n + 9) // 10)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, COUNT(*) AS n_kept,
      |  CAST(SUM(cents) AS BIGINT) AS trimmed_sum_cents,
      |  CAST(SUM(cents) // COUNT(*) AS BIGINT) AS trimmed_mean_cents
      |FROM kept GROUP BY 1 ORDER BY event_type""".stripMargin

  // --- ST6: 2-D Pareto skyline (dominance frontier) -----------------------

  /** Pruning bucket width for the skyline's distributed phase: $1000 of
    * account balance (in cents). Constant-bounded bucket count for any
    * corpus (the balance domain, not the row count, sets it). */
  private val SKY_W = 100000L

  /** Pareto frontier of customers on (account balance, lifetime spend):
    * a customer is on the skyline iff no other customer has ≥ balance AND
    * ≥ spend (with the pair distinct) — the dominance query curation uses
    * to pick "best on at least one axis" exemplars.
    *
    * The naive formulation is an O(n²) dominance self-join. The skyline
    * rewrite is: reduce to one row per distinct balance (max spend, via a
    * hash-partitioned window), then one ordered pass computing the running
    * max of spend over strictly-greater balances — a point survives iff
    * its spend exceeds that running max.
    *
    * Scale: the ordered pass is made distribution-safe by bucket pruning:
    * balances hash into constant-width range buckets, per-bucket max
    * spends (tiny aggregate) give a suffix-max per bucket, and only points
    * that beat every higher bucket's max — a vanishingly small candidate
    * set for any data — reach the final exact window. Both windows that
    * touch corpus-sized data are hash-PARTITIONED; the only unpartitioned
    * windows run over the bucket table (constant rows) and the pruned
    * candidates. Money is integer cents throughout. */
  def skylinePareto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
      .select($"c_custkey",
        (Ops.money($"c_acctbal") * 100).cast("long").as("bal_c"))
    val spend = Tables.orders(s, dir)
      .select($"o_custkey",
        (Ops.money($"o_totalprice") * 100).cast("long").as("cents"))
      .groupBy($"o_custkey").agg(sum($"cents").as("spend_c"))
    skylineOf(cust.join(spend, $"c_custkey" === $"o_custkey", "left")
      .select($"bal_c", coalesce($"spend_c", lit(0L)).as("spend_c")))
  }

  /** The skyline engine over an arbitrary per-entity (bal_c, spend_c)
    * relation — factored for the ContractAndPropertySpec brute-dominance
    * pin. */
  private[graft] def skylineOf(points: DataFrame): DataFrame = {
    val s = points.sparkSession
    import s.implicits._
    val pts = points
      .groupBy($"bal_c", $"spend_c").agg(count(lit(1)).as("n_customers"))
    // one row per distinct balance: the max-spend point (keeps its count)
    val perX = pts
      .withColumn("rn", row_number().over(
        Window.partitionBy($"bal_c").orderBy($"spend_c".desc)))
      .where($"rn" === 1).drop("rn")
    // bucket pruning: suffix max over strictly-higher buckets
    val bucketed = perX.withColumn("bkt", expr(s"bal_c div $SKY_W"))
    val bmax = bucketed.groupBy($"bkt").agg(max($"spend_c").as("bym"))
    val sfx = bmax.withColumn("sufmax", max($"bym").over(
      Window.orderBy($"bkt".desc)
        .rowsBetween(Window.unboundedPreceding, -1)))
    val cand = bucketed.join(sfx.select($"bkt", $"sufmax"), Seq("bkt"))
      .where($"sufmax".isNull || $"spend_c" > $"sufmax")
    // exact frontier over the pruned candidates
    cand
      .withColumn("pm", max($"spend_c").over(
        Window.orderBy($"bal_c".desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .where($"pm".isNull || $"spend_c" > $"pm")
      .select($"bal_c".as("bal_cents"), $"spend_c".as("spend_cents"),
        $"n_customers")
      .orderBy($"bal_cents")
  }

  /** DuckDB mirror states the SEMANTICS (per-x max + running max over
    * greater x), not the bucket-pruned mechanics — the hash pins the
    * frontier itself. */
  val skylineParetoSql: String =
    """WITH spend AS (
      |  SELECT c_custkey,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c,
      |    COALESCE(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT), 0) AS spend_c
      |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |pts AS (
      |  SELECT bal_c, spend_c, COUNT(*) AS n_customers
      |  FROM spend GROUP BY 1, 2),
      |perx AS (
      |  SELECT bal_c, spend_c, n_customers, ROW_NUMBER()
      |    OVER (PARTITION BY bal_c ORDER BY spend_c DESC) AS rn
      |  FROM pts),
      |sky AS (
      |  SELECT bal_c, spend_c, n_customers,
      |    MAX(spend_c) OVER (ORDER BY bal_c DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM perx WHERE rn = 1)
      |SELECT bal_c AS bal_cents, spend_c AS spend_cents, n_customers
      |FROM sky WHERE pm IS NULL OR spend_c > pm
      |ORDER BY bal_cents""".stripMargin
}
