package graft.analytics

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral/event-sequence operators beyond the W/T tiers: sequence
  * pattern matching (the MATCH_RECOGNIZE analogue), sliding-window
  * distinct counting, and bitmap presence aggregation.
  *
  * Cross-engine determinism: journeys are built from a totally-ordered
  * (ts_us, event_id) sort; patterns stay in the RE2∩java.util.regex
  * dialect (same discipline as q_regex_suite); bitmaps and counts are
  * pure integer arithmetic.
  */
object BehaviorQueries {

  /** Day number from the event timestamp — same derivation as the W6
    * gap-islands query (integer `div`, trunc/floor caveat guarded there). */
  private val dayNum = "unix_micros(date_trunc('DAY', ts)) div 86400000000"

  // --- B1: sequence pattern matching (MATCH_RECOGNIZE analogue) ----------

  /** Conversion pattern: signup, then any run of clicks/views, then
    * purchase. Initials are unique per event type (c,e,p,s,v). */
  private val CONV = "s[cv]*p"

  /** Per-user journey-string pattern census: each user's events collapse
    * (in total (ts, event_id) order) to a string of event-type initials,
    * then regex engines count non-overlapping conversion paths and flag
    * error-after-purchase sequences — the MATCH_RECOGNIZE-style sequence
    * operator expressed as collapse + codegen regex instead of an NFA over
    * rows.
    *
    * Scale: one hash partition per user (the journey must see all of a
    * user's events — inherent to the semantics), then narrow string work.
    * Journeys are bounded by per-user event counts; a production variant
    * caps the collect with BoundedCollect (X2's capped-bucket pattern) or
    * windows the journey by month. The match itself never leaves the
    * executor: no Expand, no second shuffle. */
  def eventPattern(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val journeys = Tables.events(s, dir)
      .select($"user_id",
        struct(unix_micros($"ts").as("ts_us"), $"event_id",
          substring($"event_type", 1, 1).as("ch")).as("ev"))
      .groupBy($"user_id")
      .agg(array_join(
        transform(array_sort(collect_list($"ev")), x => x.getField("ch")),
        "").as("journey"))
    journeys.select(
        $"user_id",
        length($"journey").cast("long").as("n_events"),
        regexp_count($"journey", lit(CONV)).cast("long").as("n_conversions"),
        when(regexp_like($"journey", lit("p[^p]*e")), 1L).otherwise(0L)
          .as("error_after_purchase"))
      .orderBy($"user_id")
  }

  val eventPatternSql: String =
    s"""WITH j AS (
       |  SELECT user_id,
       |    string_agg(substring(event_type, 1, 1), ''
       |      ORDER BY epoch_us(ts), event_id) AS journey
       |  FROM events GROUP BY user_id)
       |SELECT user_id,
       |  CAST(len(journey) AS BIGINT) AS n_events,
       |  CAST(len(regexp_extract_all(journey, '$CONV')) AS BIGINT)
       |    AS n_conversions,
       |  CAST(CASE WHEN regexp_matches(journey, 'p[^p]*e') THEN 1 ELSE 0 END
       |    AS BIGINT) AS error_after_purchase
       |FROM j ORDER BY user_id""".stripMargin

  // --- B2: trailing-7-day sliding distinct users -------------------------

  /** Distinct active users over a trailing 7-day window, reported for
    * every calendar day with any activity — the sliding-distinct shape
    * that windowed `COUNT(DISTINCT)` cannot express (distinct is not
    * subtractable, so no running-frame trick applies).
    *
    * Scale: the (user, day) grid is one hash aggregate that collapses the
    * raw events before anything slides; each grid row then contributes to
    * exactly 7 window days via a narrow constant-factor explode, an
    * equi-semi-join keeps only real calendar days, and one final aggregate
    * counts distincts per window. Every join is equi (no range join, no
    * BNLJ), every blow-up factor is the constant window length — at 100 TB
    * this is the textbook rewrite of a sliding COUNT DISTINCT. */
  def rollingDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = Tables.events(s, dir)
      .select($"user_id", expr(dayNum).as("dayn"))
      .distinct()
    val cal = days.select($"dayn".as("d")).distinct()
    val contrib = days
      .select($"user_id", $"dayn",
        explode(sequence($"dayn", $"dayn" + 6)).as("d"))
      .join(cal, Seq("d"), "left_semi")
    val u7 = contrib.groupBy($"d")
      .agg(countDistinct($"user_id").as("users_7d"))
    val u1 = days.groupBy($"dayn".as("d"))
      .agg(countDistinct($"user_id").as("users_1d"))
    u7.join(u1, Seq("d"))
      .select($"d".as("dayn"), $"users_1d", $"users_7d")
      .orderBy($"dayn")
  }

  /** DuckDB mirror of [[rollingDistinct]]: distinct users per active day
    * (`users_1d`) and over its trailing 7 days (`users_7d`), one row per
    * active day, then `extraCols`. */
  private def activesSql(extraCols: String): String =
    s"""WITH days AS (
       |  SELECT DISTINCT user_id,
       |    epoch_us(date_trunc('day', ts)) // 86400000000 AS dayn
       |  FROM events),
       |cal AS (SELECT DISTINCT dayn AS d FROM days),
       |contrib AS (
       |  SELECT s.user_id, s.d FROM (
       |    SELECT user_id,
       |      CAST(unnest(generate_series(dayn, dayn + 6)) AS BIGINT) AS d
       |    FROM days) s
       |  WHERE EXISTS (SELECT 1 FROM cal WHERE cal.d = s.d)),
       |u7 AS (SELECT d, COUNT(DISTINCT user_id) AS users_7d
       |  FROM contrib GROUP BY d),
       |u1 AS (SELECT dayn AS d, COUNT(DISTINCT user_id) AS users_1d
       |  FROM days GROUP BY dayn)
       |SELECT u7.d AS dayn, users_1d, users_7d$extraCols
       |FROM u7 JOIN u1 ON u7.d = u1.d
       |ORDER BY dayn""".stripMargin

  val rollingDistinctSql: String = activesSql("")

  // --- B2': sliding distinct via HLL sketch merge (the 100-TB form) ------

  /** The sketch-merge rewrite of [[rollingDistinct]]: one HLL sketch per
    * day (datasketches `hll_sketch_agg`), the trailing window unioned
    * with `hll_union_agg` — mergeable-sketch algebra, so the window
    * combines |window| KB-sized sketches instead of re-touching identity
    * rows. B2's exact explode carries every (user, day) row 7×; this
    * carries 7 sketch rows per day, full stop — the difference between
    * O(users×7) and O(7) bytes per window at 100 TB.
    *
    * Oracle contract (A4 pattern): HLL estimates aren't reproducible in
    * another engine, so the comparable columns are the EXACT counts and
    * `approx_ok` = 1 iff the estimate lands within 5% (or ±2 at tiny
    * cardinalities) of exact; the oracle emits the expected pass value,
    * so estimator degradation fails the hash gate. */
  def rollingSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", expr(dayNum).as("dayn"))
    val daily = ev.groupBy($"dayn")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        countDistinct($"user_id").as("users_1d"))
    val cal = daily.select($"dayn".as("d"))
    val est = daily
      .select($"sk", explode(sequence($"dayn", $"dayn" + 6)).as("d"))
      .join(cal, Seq("d"), "left_semi")
      .groupBy($"d")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact7 = ev.distinct()
      .select($"user_id", explode(sequence($"dayn", $"dayn" + 6)).as("d"))
      .join(cal, Seq("d"), "left_semi")
      .groupBy($"d")
      .agg(countDistinct($"user_id").as("users_7d"))
    est.join(exact7, "d")
      .join(daily.select($"dayn".as("d"), $"users_1d"), "d")
      .select($"d".as("dayn"), $"users_1d", $"users_7d",
        (abs($"est" - $"users_7d") * 100 <= $"users_7d" * 5 ||
          abs($"est" - $"users_7d") <= 2)
          .cast("long").as("approx_ok"))
      .orderBy($"dayn")
  }

  val rollingSketchSql: String = activesSql(", CAST(1 AS BIGINT) AS approx_ok")

  // --- B3: bitmap presence aggregation -----------------------------------

  /** Per-user month-activity bitmap: bit d−1 set iff the user was active
    * on day-of-month d, built with one `bit_or` aggregate; `bit_count`
    * pops the active-day total back out. The bitmap-index idiom: a
    * month of per-user presence collapses to ONE int64 — set algebra
    * (AND for retention, OR for reach) becomes constant-width integer
    * ops per user instead of row-level distinct machinery.
    *
    * Scale: one hash aggregate, 8-byte state per (user, month) group —
    * the cheapest possible presence sketch; map-side combine does almost
    * all the work. */
  def bitmapPresence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"user_id",
        date_format(date_trunc("MONTH", $"ts"), "yyyy-MM-dd").as("month"),
        expr("shiftleft(cast(1 as bigint), dayofmonth(ts) - 1)").as("daybit"))
      .groupBy($"user_id", $"month")
      .agg(expr("bit_or(daybit)").as("day_mask"))
      .select($"user_id", $"month", $"day_mask",
        bit_count($"day_mask").cast("long").as("n_active_days"))
      .orderBy($"user_id", $"month")
  }

  val bitmapPresenceSql: String =
    """WITH b AS (
      |  SELECT user_id,
      |    strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
      |    (CAST(1 AS BIGINT) << (day(ts) - 1)) AS daybit
      |  FROM events)
      |SELECT user_id, month, bit_or(daybit) AS day_mask,
      |  CAST(bit_count(bit_or(daybit)) AS BIGINT) AS n_active_days
      |FROM b GROUP BY user_id, month
      |ORDER BY user_id, month""".stripMargin

  // --- B4: Markov transition matrix over per-user event sequences --------

  /** First-order Markov transition census: for every ordered pair of event
    * types, how often does `next` directly follow `prev` within a user's
    * totally-ordered event stream, and with what conditional probability.
    * The classic next-action model fit — at 100 TB this IS the training
    * job for a baseline sequence model.
    *
    * Scale: one window pass partitioned by user (lag(1) carries 16 bytes
    * of state per row), then a hash aggregate onto at most |types|² groups
    * — the result is a constant-size matrix regardless of corpus size. The
    * per-`prev` normalizer is a second aggregation over |types|² rows, not
    * a second pass over the data.
    *
    * Determinism: probabilities are exact small-integer ratios rounded at
    * 6 places; ordering is the (prev_type, next_type) pair. */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    // per-prev normalizer as a window total over the |types|² aggregate —
    // a groupBy+join here would RECOMPUTE the lag pass for the second
    // branch (two user_id exchanges), the ST2 window-totals idiom avoids it
    val wTot = Window.partitionBy($"prev_type")
    trans
      .select($"prev_type", $"next_type", $"n_trans",
        round($"n_trans".cast("double") /
          sum($"n_trans").over(wTot), 6).as("p"))
      .orderBy($"prev_type", $"next_type")
  }

  val markovTransitionsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |trans AS (
      |  SELECT prev_type, event_type AS next_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_trans
      |  FROM seq WHERE prev_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT prev_type, next_type, n_trans,
      |  round(CAST(n_trans AS DOUBLE) / CAST(SUM(n_trans) OVER (
      |    PARTITION BY prev_type) AS BIGINT), 6) AS p
      |FROM trans
      |ORDER BY prev_type, next_type""".stripMargin

  // --- B5: sweep-line interval concurrency -------------------------------

  /** Peak-concurrency profile: treating each event as a 15-minute active
    * interval [ts, ts+15min), find for each event type the maximum number
    * of simultaneously-active intervals and when that peak first occurs —
    * the sweep-line operator behind "max concurrent sessions/trains/jobs"
    * dashboards, computed WITHOUT an interval self-join.
    *
    * Sweep line: each interval becomes a +1 point at its start and a −1 at
    * its end; a running sum in (time, delta) order IS the concurrency
    * curve. Ends sort before starts at equal timestamps (delta asc), so
    * intervals are half-open — a start that coincides with an end does not
    * double-count.
    *
    * Scale: 2 rows per event through ONE window partition per event type,
    * then a partial-agg max. The window partitions by type only — at 100 TB
    * with few types, partition the sweep further by coarse time bucket and
    * prefix-sum the per-bucket offsets (documented here, not needed at
    * these cardinalities; same trick as the salted-agg tier). */
  def intervalConcurrency(s: SparkSession, dir: String): DataFrame =
    intervalConcurrencyOf(Tables.events(s, dir))

  /** [[intervalConcurrency]] over an arbitrary (event_id, event_type, ts)
    * relation — factored for the ContractAndPropertySpec brute pin of the
    * half-open boundary convention. */
  private[graft] def intervalConcurrencyOf(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    // both boundary points of an interval come from ONE row via a 2-array
    // explode — a union of two selects would scan the parquet twice
    val pts = events
      .select($"event_id", $"event_type", explode(array(
        struct($"ts".as("t"), lit(1).as("delta")),
        struct(($"ts" + expr("INTERVAL 15 MINUTES")).as("t"),
          lit(-1).as("delta")))).as("p"))
      .select($"event_type", $"p.t".as("t"), $"p.delta".as("delta"), $"event_id")
    val w = Window.partitionBy($"event_type").orderBy($"t", $"delta", $"event_id")
    val curve = pts.withColumn("conc", sum($"delta").over(w))
    val peaks = curve.groupBy($"event_type").agg(max($"conc").as("peak"))
    curve.join(peaks, "event_type")
      .filter($"conc" === $"peak")
      .groupBy($"event_type", $"peak")
      .agg(unix_micros(min($"t")).as("first_peak_us"))
      .orderBy($"event_type")
  }

  val intervalConcurrencySql: String =
    """WITH pts AS (
      |  SELECT event_type, ts AS t, 1 AS delta, event_id FROM events
      |  UNION ALL
      |  SELECT event_type, ts + INTERVAL 15 MINUTE, -1, event_id FROM events),
      |curve AS (
      |  SELECT event_type, t,
      |    CAST(SUM(delta) OVER (
      |      PARTITION BY event_type ORDER BY t, delta, event_id) AS BIGINT) AS conc
      |  FROM pts),
      |peaks AS (
      |  SELECT event_type, MAX(conc) AS peak FROM curve GROUP BY 1)
      |SELECT c.event_type, p.peak, epoch_us(MIN(c.t)) AS first_peak_us
      |FROM curve c JOIN peaks p
      |  ON c.event_type = p.event_type AND c.conc = p.peak
      |GROUP BY c.event_type, p.peak
      |ORDER BY c.event_type""".stripMargin

  // --- B7: RFM segmentation census ----------------------------------------

  /** Recency-Frequency-Monetary segmentation: every customer scored into
    * quartiles on each axis (recency = last order day, frequency = order
    * count, monetary = lifetime cents), rolled up into the ≤64-cell
    * segment census with exact money mass — the classic behavioral
    * segmentation, expressed as three ntile windows over ONE per-customer
    * aggregate. Each ntile orders by (metric, c_custkey): the tie-break
    * makes bucket assignment a total order, so both engines cut the
    * population identically (ntile fills the first n mod k buckets with
    * one extra row in both).
    *
    * Scale: one hash aggregate orders→customers, then three global ntile
    * sorts over the CUSTOMER table (dimension-sized, not fact-sized); the
    * census is constant-size. Customers without orders are excluded by
    * the inner join — the population RFM is defined on. */
  /** Exact `ntile(4) OVER (ORDER BY v, ck)` WITHOUT the global window —
    * the rewrite round 12's repo-wide single-partition-window guard
    * forced on this query (three unpartitioned ntiles over the
    * per-customer relation were the guard's one genuine catch).
    * The blocked-rank identity (the `q_global_row_ids` plan): block by
    * fixed-width VALUE ranges (`v div blockW` — block count is
    * value-range-bounded, never customer-bounded), per-block counts
    * prefix-summed over the block dictionary only, offsets broadcast
    * back, in-block rank partitioned by block; then SQL ntile's exact
    * bucket rule from (global rank, total n) — first `n mod 4` buckets
    * hold `ceil(n/4)` rows. The oracle keeps the plain `ntile()` form,
    * so the hash gate PROVES the distributed rewrite equals it. */
  private def blockedNtile4(df: DataFrame, v: String, out: String,
      blockW: Long): DataFrame = {
    import df.sparkSession.implicits._
    val blk = s"__${out}_blk"
    val withBlk = df.withColumn(blk, expr(s"$v div ${blockW}L"))
    val counts = withBlk.groupBy(col(blk)).agg(count(lit(1)).as("__c"))
    val wOff = Window.orderBy(col(blk))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col(blk))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = counts
      .withColumn("__off", coalesce(sum($"__c").over(wOff), lit(0L)))
      .withColumn("__n", sum($"__c").over(wAll))
      .select(col(blk), $"__off", $"__n")
    val wIn = Window.partitionBy(col(blk)).orderBy(col(v), $"ck")
    withBlk.join(broadcast(offs), Seq(blk))
      .withColumn("__rn", $"__off" + row_number().over(wIn))
      .withColumn(out, expr(
        """CASE WHEN __rn <= (__n % 4) * (__n div 4 + 1)
          |  THEN (__rn - 1) div (__n div 4 + 1) + 1
          |  ELSE (__n % 4) +
          |    (__rn - 1 - (__n % 4) * (__n div 4 + 1)) div (__n div 4) + 1
          |END""".stripMargin).cast("long"))
      .drop(blk, "__rn", "__n", "__off")
  }

  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.orders(s, dir)
      .select($"o_custkey".as("ck"),
        // o_orderdate is TIMESTAMP_NTZ; session tz is pinned UTC, so the
        // cast is a pure reinterpretation and matches DuckDB's epoch_us
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("dayn"),
        (Ops.money($"o_totalprice") * 100).cast("long").as("cents"))
      .groupBy($"ck")
      .agg(max($"dayn").as("r"), count(lit(1)).as("f"), sum($"cents").as("m"))
    // block widths: r is a day ordinal (calendar range / 16 blocks), f an
    // order count (value-bounded, width 1), m integer cents (2^20-cent ≈
    // $10k blocks — block count spans the spend range, not the customers).
    // The customer-grain aggregate is checkpointed ONCE and the three
    // ranks computed independently off it (nesting them would re-derive
    // the aggregate exponentially — each level's count branch replays
    // everything below; the plan pin caught 8 parquet scans), then meet
    // on ck equi-joins.
    val base = graft.GraftSession.ckpt(per)
    def quartile(v: String, out: String, w: Long) =
      blockedNtile4(base.select($"ck", col(v)), v, out, w)
        .select($"ck", col(out))
    val seg = base
      .join(quartile("r", "r_q", 16L), Seq("ck"))
      .join(quartile("f", "f_q", 1L), Seq("ck"))
      .join(quartile("m", "m_q", 1L << 20), Seq("ck"))
    seg.groupBy($"r_q", $"f_q", $"m_q")
      .agg(count(lit(1)).as("n_customers"), sum($"m").as("sum_cents"))
      .orderBy($"r_q", $"f_q", $"m_q")
  }

  val rfmSegmentsSql: String =
    """WITH per AS (
      |  SELECT o_custkey AS ck,
      |    MAX(epoch_us(o_orderdate) // 86400000000) AS r,
      |    COUNT(*) AS f,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS m
      |  FROM orders GROUP BY 1),
      |seg AS (
      |  SELECT ck, m,
      |    CAST(ntile(4) OVER (ORDER BY r, ck) AS BIGINT) AS r_q,
      |    CAST(ntile(4) OVER (ORDER BY f, ck) AS BIGINT) AS f_q,
      |    CAST(ntile(4) OVER (ORDER BY m, ck) AS BIGINT) AS m_q
      |  FROM per)
      |SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
      |  CAST(SUM(m) AS BIGINT) AS sum_cents
      |FROM seg GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin

  // --- B8: half-life decay scoring ----------------------------------------

  /** Exponentially time-decayed engagement score per user: each event's
    * cents weigh in at 2^-(days before the corpus' last day) — a one-day
    * half-life — and the decayed mass ranks the top-20 most-recently-
    * engaged spenders. The classic decay formula is pow(λ, Δt) in
    * floating point, which is libm and engine-order dependent; a base-2
    * half-life makes the weight an INTEGER BIT SHIFT (10⁶ div 2^Δdays),
    * so every weight, product, and sum is exact 64-bit arithmetic in both
    * engines. Weights vanish beyond 2^20 — the shift is clamped so the
    * arithmetic never overflows however old the corpus.
    *
    * Scale: one daily per-user rollup (hash agg), one single-row
    * broadcast of the corpus max day (the bounded-BNLJ class), one final
    * hash agg + TakeOrdered 20. No window over corpus-sized data. */
  def decayScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .select($"user_id",
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("dayn"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy($"user_id", $"dayn")
      .agg(sum($"cents").as("cents"))
    val maxDay = broadcast(daily.agg(max($"dayn").as("maxd")))
    daily.crossJoin(maxDay)
      .select($"user_id",
        ($"cents" * expr(
          "1000000 div shiftleft(cast(1 as bigint), cast(least(maxd - dayn, 20) as int))"))
          .as("wcents"))
      .groupBy($"user_id")
      .agg(expr("sum(wcents) div 1000000").as("decayed_cents"))
      .orderBy($"decayed_cents".desc, $"user_id".asc)
      .limit(20)
  }

  val decayScoreSql: String =
    """WITH daily AS (
      |  SELECT user_id,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS dayn,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT user_id,
      |    cents * (1000000 // (CAST(1 AS BIGINT)
      |      << least((SELECT MAX(dayn) FROM daily) - dayn, 20))) AS wcents
      |  FROM daily)
      |SELECT user_id, CAST(SUM(wcents) // 1000000 AS BIGINT) AS decayed_cents
      |FROM w GROUP BY 1
      |ORDER BY decayed_cents DESC, user_id ASC LIMIT 20""".stripMargin

  // --- B9: Gini concentration audit ---------------------------------------

  /** How concentrated is spend across users, per event type? The Gini
    * coefficient from its rank formula
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted user
    * totals — computed as integer BASIS POINTS by cross-multiplication
    * (gini_bp = (2·Σ(rank·x) − (n+1)·Σx)·10⁴ div (n·Σx)), so the only
    * division is the final integer one and both engines produce the
    * identical value. The mixture-design audit: a Gini near 1 says a
    * handful of users dominate the event mass (XP8's top-decile share is
    * the coarse version; this is the full-distribution scalar).
    *
    * Scale: one fact-table hash aggregate to user grain, one
    * hash-partitioned rank window per type, one census row per type.
    * Σ(rank·x) fits int64 while n·max_user_cents < 9.2e18 — beyond that,
    * bucket the rank formula (the XP8 decile path). */
  def giniConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.events(s, dir)
      .select($"event_type", $"user_id",
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy($"event_type", $"user_id")
      .agg(sum($"cents").as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"c".asc, $"user_id".asc)
    per.withColumn("rn", row_number().over(w).cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"), sum($"c").as("sum_cents"),
        sum($"rn" * $"c").as("rc"))
      .select($"event_type", $"n_users", $"sum_cents",
        expr("(2 * rc - (n_users + 1) * sum_cents) * 10000" +
          " div (n_users * sum_cents)").as("gini_bp"))
      .orderBy($"event_type")
  }

  val giniConcentrationSql: String =
    """WITH per AS (
      |  SELECT event_type, user_id,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT event_type, c, row_number() OVER (
      |    PARTITION BY event_type ORDER BY c ASC, user_id ASC) AS rn
      |  FROM per),
      |agg AS (
      |  SELECT event_type, COUNT(*) AS n_users,
      |    CAST(SUM(c) AS BIGINT) AS sum_cents,
      |    CAST(SUM(rn * c) AS BIGINT) AS rc
      |  FROM ranked GROUP BY 1)
      |SELECT event_type, n_users, sum_cents,
      |  CAST((2 * rc - (n_users + 1) * sum_cents) * 10000
      |    // (n_users * sum_cents) AS BIGINT) AS gini_bp
      |FROM agg ORDER BY event_type""".stripMargin

  // --- B10: interval-union coverage ----------------------------------------

  /** Measure of the UNION of intervals per event type: each event opens a
    * 15-minute active window; overlapping and touching windows merge, and
    * the operator reports how many merged blocks remain, how much time
    * they cover, and the uncovered gap inside the observed span — the
    * sweep-line complement of B5 (which asks how DEEP the overlap gets,
    * this asks how WIDE it spreads). ±1 boundary points in one per-type
    * ordered pass; ties process opens before closes (delta DESC) so
    * half-open touching intervals [a,b)∪[b,c) merge, as interval algebra
    * says they must. A block starts where the running sum steps 0→1 and
    * ends where it returns to 0; k-th start pairs with k-th end by rank.
    *
    * Scale: ONE event_type exchange shared by the sweep window and both
    * rank windows (all partitioned); never an interval self-join. */
  def intervalCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dur = 900000000L // 15 min in µs
    val ev = Tables.events(s, dir)
      .select($"event_type", Ops.epochUs($"ts").as("t0"))
    val pts = ev.select($"event_type", $"t0".as("t"), lit(1L).as("delta"))
      .unionByName(ev.select($"event_type", ($"t0" + dur).as("t"),
        lit(-1L).as("delta")))
    val ord = Window.partitionBy($"event_type")
      .orderBy($"t".asc, $"delta".desc)
    val swept = pts.withColumn("cum", sum($"delta").over(
      ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val starts = swept.where($"delta" === 1 && $"cum" === 1)
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"event_type").orderBy($"t", $"delta".desc)))
      .select($"event_type", $"rnk", $"t".as("s_t"))
    val ends = swept.where($"delta" === -1 && $"cum" === 0)
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"event_type").orderBy($"t", $"delta".desc)))
      .select($"event_type", $"rnk", $"t".as("e_t"))
    starts.join(ends, Seq("event_type", "rnk"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_blocks"),
        sum($"e_t" - $"s_t").as("covered_us"),
        (max($"e_t") - min($"s_t")).as("span_us"))
      .select($"event_type", $"n_blocks", $"covered_us",
        ($"span_us" - $"covered_us").as("uncovered_us"))
      .orderBy($"event_type")
  }

  val intervalCoverageSql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS t0 FROM events),
      |pts AS (
      |  SELECT event_type, t0 AS t, CAST(1 AS BIGINT) AS delta FROM ev
      |  UNION ALL
      |  SELECT event_type, t0 + 900000000, -1 FROM ev),
      |swept AS (
      |  SELECT event_type, t, delta,
      |    SUM(delta) OVER (PARTITION BY event_type
      |      ORDER BY t ASC, delta DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM pts),
      |starts AS (
      |  SELECT event_type, t AS s_t, row_number() OVER (
      |    PARTITION BY event_type ORDER BY t, delta DESC) AS rnk
      |  FROM swept WHERE delta = 1 AND cum = 1),
      |ends AS (
      |  SELECT event_type, t AS e_t, row_number() OVER (
      |    PARTITION BY event_type ORDER BY t, delta DESC) AS rnk
      |  FROM swept WHERE delta = -1 AND cum = 0)
      |SELECT s.event_type, COUNT(*) AS n_blocks,
      |  CAST(SUM(e.e_t - s.s_t) AS BIGINT) AS covered_us,
      |  CAST(MAX(e.e_t) - MIN(s.s_t) - SUM(e.e_t - s.s_t) AS BIGINT)
      |    AS uncovered_us
      |FROM starts s JOIN ends e USING (event_type, rnk)
      |GROUP BY 1 ORDER BY s.event_type""".stripMargin

  // --- B11: audience-overlap (Jaccard) matrix ------------------------------

  /** Pairwise audience overlap between event types: for every unordered
    * type pair, |users doing both| / |users doing either| in integer ppm —
    * the co-audience matrix behind "does segment A predict segment B".
    * Computed without any user-level join: ONE aggregate builds each
    * user's distinct type SET (bounded by |types|), a narrow explode
    * emits that set's internal pairs (≤ C(|types|,2) per user), and a
    * constant-size count per pair meets the per-type totals for the
    * union denominator (|A∪B| = |A|+|B|−|A∩B|).
    *
    * Scale: one user_id exchange + constant-size joins — never a
    * fact×fact self-join on user. */
  def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(array_sort(collect_set($"event_type")).as("types"))
    val pairs = perUser.select(explode(expr(
      "flatten(transform(types, a -> " +
        "transform(filter(types, b -> b > a), b -> struct(a AS ta, b AS tb))))"))
      .as("p"))
      .groupBy($"p.ta".as("type_a"), $"p.tb".as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val totals = Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n"))
    pairs
      .join(totals.select($"event_type".as("type_a"), $"n".as("n_a")), "type_a")
      .join(totals.select($"event_type".as("type_b"), $"n".as("n_b")), "type_b")
      .select($"type_a", $"type_b", $"n_both",
        expr("n_both * 1000000 div (n_a + n_b - n_both)").as("jaccard_ppm"))
      .orderBy($"type_a", $"type_b")
  }

  val audienceOverlapSql: String =
    """WITH per_user AS (
      |  SELECT user_id, list_sort(list(DISTINCT event_type)) AS types
      |  FROM events GROUP BY user_id),
      |pairs AS (
      |  SELECT p.ta AS type_a, p.tb AS type_b, COUNT(*) AS n_both
      |  FROM (
      |    SELECT unnest(flatten(list_transform(types, a ->
      |      list_transform(list_filter(types, b -> b > a),
      |                     b -> {'ta': a, 'tb': b})))) AS p
      |    FROM per_user)
      |  GROUP BY 1, 2),
      |totals AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS n
      |  FROM events GROUP BY 1)
      |SELECT p.type_a, p.type_b, p.n_both,
      |  CAST(p.n_both * 1000000 // (ta.n + tb.n - p.n_both) AS BIGINT)
      |    AS jaccard_ppm
      |FROM pairs p
      |JOIN totals ta ON p.type_a = ta.event_type
      |JOIN totals tb ON p.type_b = tb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // --- B12: day-of-week seasonality index -----------------------------------

  /** Seasonality profile: for each (event type, day-of-week), the average
    * daily spend relative to the type's overall daily average, in integer
    * basis points (10000 = flat). idx = (dow_sum/n_dow)/(total/n_days),
    * cross-multiplied to dow_sum·n_days·10⁴ div (n_dow·total) so the only
    * division is the final integer one. The calendar-mixture audit: a
    * weekday-skewed source needs its sampling weights time-balanced.
    *
    * Scale: one daily rollup pass, then constant-size (|types|·7) math.
    * ISO dow from the day number: epoch day 0 = Thursday = ISO 4.
    * dow_sum·n_days·10⁴ fits int64 up to ~$170B per type-year; past that,
    * divide the basis points in two stages in BOTH engines. */
  def seasonalIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = StatsQueries.dailyCents(s, dir)
      .withColumn("dow", expr("(dayn + 3) % 7 + 1")) // ISO 1=Mon … 7=Sun
    val perDow = daily.groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("n_dow"), sum($"x").as("dow_sum"))
    val perType = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"x").as("total"))
    perDow.join(perType, Seq("event_type"))
      .select($"event_type", $"dow", $"n_dow",
        expr("dow_sum * n_days * 10000 div (n_dow * total)").as("index_bp"))
      .orderBy($"event_type", $"dow")
  }

  val seasonalIndexSql: String =
    s"""WITH ${StatsQueries.dailyCentsSql},
       |d2 AS (SELECT event_type, x, (dayn + 3) % 7 + 1 AS dow FROM daily),
       |per_dow AS (
       |  SELECT event_type, dow, COUNT(*) AS n_dow,
       |    CAST(SUM(x) AS BIGINT) AS dow_sum
       |  FROM d2 GROUP BY 1, 2),
       |per_type AS (
       |  SELECT event_type, COUNT(*) AS n_days, CAST(SUM(x) AS BIGINT) AS total
       |  FROM d2 GROUP BY 1)
       |SELECT p.event_type, p.dow, p.n_dow,
       |  CAST(p.dow_sum * t.n_days * 10000 // (p.n_dow * t.total) AS BIGINT)
       |    AS index_bp
       |FROM per_dow p JOIN per_type t USING (event_type)
       |ORDER BY event_type, dow""".stripMargin

  // --- B14: DAU/MAU stickiness ----------------------------------------------

  /** Stickiness per calendar month: mean daily active users over monthly
    * active users, in integer ppm — stickiness_ppm = Σ_day DAU_day · 10⁶
    * div (n_days · MAU). 10⁶ ppm = every monthly user active every
    * observed day. The product-analytics engagement scalar, exact in both
    * engines (distinct counts and one final integer division).
    *
    * Scale: DAU is one (day, user) dedup aggregate, MAU one (month, user)
    * dedup — both map-side-combinable hash aggs; the ratio math runs on
    * |months| rows. */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(date_format($"ts", "yyyy-MM").as("month"),
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("dayn"),
        $"user_id")
    val dau = ev.select($"month", $"dayn", $"user_id").distinct()
      .groupBy($"month", $"dayn").agg(count(lit(1)).as("dau"))
      .groupBy($"month")
      .agg(count(lit(1)).as("n_days"), sum($"dau").as("sum_dau"))
    val mau = ev.select($"month", $"user_id").distinct()
      .groupBy($"month").agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("month"))
      .select($"month", $"n_days", $"mau",
        expr("sum_dau * 1000000 div (n_days * mau)").as("stickiness_ppm"))
      .orderBy($"month")
  }

  val stickinessSql: String =
    """WITH ev AS (
      |  SELECT strftime(ts, '%Y-%m') AS month,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS dayn,
      |    user_id
      |  FROM events),
      |dau AS (
      |  SELECT month, COUNT(*) AS n_days,
      |    CAST(SUM(dau) AS BIGINT) AS sum_dau
      |  FROM (SELECT month, dayn, COUNT(DISTINCT user_id) AS dau
      |        FROM ev GROUP BY 1, 2)
      |  GROUP BY month),
      |mau AS (
      |  SELECT month, COUNT(DISTINCT user_id) AS mau FROM ev GROUP BY 1)
      |SELECT d.month, d.n_days, m.mau,
      |  CAST(d.sum_dau * 1000000 // (d.n_days * m.mau) AS BIGINT)
      |    AS stickiness_ppm
      |FROM dau d JOIN mau m USING (month)
      |ORDER BY month""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_stickiness", stickiness, Some(stickinessSql),
      "B14 DAU/MAU stickiness per month in exact integer ppm"),
    QueryDef("q_seasonal_index", seasonalIndex, Some(seasonalIndexSql),
      "B12 day-of-week seasonality index in exact integer basis points"),
    QueryDef("q_audience_overlap", audienceOverlap, Some(audienceOverlapSql),
      "B11 pairwise audience Jaccard matrix from per-user type sets"),
    QueryDef("q_interval_coverage", intervalCoverage,
      Some(intervalCoverageSql),
      "B10 interval-union coverage: merged blocks + covered/uncovered time"),
    QueryDef("q_gini_concentration", giniConcentration,
      Some(giniConcentrationSql),
      "B9 exact-integer Gini concentration of user spend per event type"),
    QueryDef("q_decay_score", decayScore, Some(decayScoreSql),
      "B8 half-life decayed engagement score via exact integer bit-shift weights"),
    QueryDef("q_rfm_segments", rfmSegments, Some(rfmSegmentsSql),
      "B7 RFM quartile segmentation census via tie-broken ntile windows"),
    QueryDef("q_event_pattern", eventPattern, Some(eventPatternSql),
      "B1 sequence pattern matching: journey-string collapse + regex census"),
    QueryDef("q_rolling_distinct", rollingDistinct, Some(rollingDistinctSql),
      "B2 trailing-7-day sliding distinct users via constant-factor explode"),
    QueryDef("q_rolling_sketch", rollingSketch, Some(rollingSketchSql),
      "B2' sliding distinct via mergeable HLL sketches (bounded-error oracle)"),
    QueryDef("q_bitmap_presence", bitmapPresence, Some(bitmapPresenceSql),
      "B3 per-user month bitmap presence via bit_or + bit_count"),
    QueryDef("q_markov_transitions", markovTransitions, Some(markovTransitionsSql),
      "B4 first-order Markov transition matrix: one lag pass + |types|^2 agg"),
    QueryDef("q_interval_concurrency", intervalConcurrency, Some(intervalConcurrencySql),
      "B5 sweep-line peak concurrency of 15-min intervals, no self-join"),
    QueryDef("q_cumulative_distinct", cumulativeDistinct, Some(cumulativeDistinctSql),
      "B6 cumulative reach via first-occurrence flag + running sum"))

  // --- B6: cumulative distinct (reach curve) ------------------------------

  /** Daily cumulative reach per event type: how many DISTINCT users have
    * EVER done this action by day d. `COUNT(DISTINCT) OVER (ORDER BY …)`
    * is the textbook spelling and is unimplementable at scale (the window
    * state is the identity set itself — Spark rejects it outright). The
    * linear rewrite: a user's FIRST occurrence per type (one row_number
    * pass) marks +1 on that day; daily new-user counts then accumulate
    * with a running sum over the tiny |types|·|days| rollup. Same
    * first-touch trick as the W5 attribution tier, pointed at distinct
    * counting.
    *
    * Scale: one exchange on (event_type, user_id) for the first-seen
    * pass, one hash agg, and a running sum over a constant-size table. */
  def cumulativeDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wFirst = Window.partitionBy($"event_type", $"user_id")
      .orderBy($"ts", $"event_id")
    val firstSeen = Tables.events(s, dir)
      .select($"event_type", $"user_id", $"ts", $"event_id")
      .withColumn("rn", row_number().over(wFirst))
      .filter($"rn" === 1)
      .select($"event_type",
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("dayn"))
    val daily = firstSeen.groupBy($"event_type", $"dayn")
      .agg(count(lit(1)).as("new_users"))
    val wRun = Window.partitionBy($"event_type").orderBy($"dayn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .select($"event_type", $"dayn", $"new_users",
        sum($"new_users").over(wRun).as("cum_users"))
      .orderBy($"event_type", $"dayn")
  }

  val cumulativeDistinctSql: String =
    """WITH first_seen AS (
      |  SELECT event_type,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS dayn
      |  FROM (
      |    SELECT event_type, ts,
      |      row_number() OVER (PARTITION BY event_type, user_id
      |        ORDER BY ts, event_id) AS rn
      |    FROM events)
      |  WHERE rn = 1),
      |daily AS (
      |  SELECT event_type, dayn, CAST(COUNT(*) AS BIGINT) AS new_users
      |  FROM first_seen GROUP BY 1, 2)
      |SELECT event_type, dayn, new_users,
      |  CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY dayn
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM daily
      |ORDER BY event_type, dayn""".stripMargin
}
