package graft.analytics

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-series / window / temporal-join queries over the `events` table.
  *
  * These realize the reference's intended access patterns: the keyed
  * time-series "latest state per train" design (DynamoDB hash=TrainId
  * range=UpdatedTimestamp, reference main.tf:25-43) and trend analysis over
  * per-minute observations (reference README.md:2). Coverage: W1-W3 windows,
  * J5 as-of join, J6 range join, P5 datetime scalars, P8/P9 JSON scalars,
  * T3/T4 tumbling + sliding windows as batch aggregations.
  */
/** One gap-based session per (user, island) — output row of
  * [[EventQueries.sessionizeBatch]]. */
final case class SessionStat(
    user_id: Long, session_start_us: Long, session_end_us: Long,
    n_events: Long, total_value: Double)

object EventQueries {
  import Ops._

  // --- W1: latest state per key (row_number dedup) -----------------------
  def latestState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", epochUs($"ts").as("ts_us"), $"event_type", $"value", $"event_id")
      .orderBy($"user_id")
  }

  val latestStateSql: String =
    """SELECT user_id, epoch_us(ts) AS ts_us, event_type, value, event_id FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // --- W2: lag — inter-event gaps per key --------------------------------
  def lagGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.events(s, dir)
      .withColumn("prev_us", lag(epochUs($"ts"), 1).over(w))
      .withColumn("gap_us", epochUs($"ts") - $"prev_us")
      .groupBy($"user_id")
      .agg(
        count($"gap_us").as("n_gaps"),
        sum($"gap_us").as("total_gap_us"),
        max($"gap_us").as("max_gap_us"),
        min($"gap_us").as("min_gap_us"))
      .orderBy($"user_id")
  }

  val lagGapsSql: String =
    """SELECT user_id, COUNT(gap_us) AS n_gaps,
      |  CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
      |  MAX(gap_us) AS max_gap_us, MIN(gap_us) AS min_gap_us FROM (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
      |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- W3: frame-spec rolling aggregate (last 10 rows per key) -----------
  def rollingFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(-9, 0)
    Tables.events(s, dir)
      .withColumn("roll_sum", sum(money($"value")).over(w).cast(DoubleType))
      .withColumn("roll_n", count(lit(1)).over(w))
      .groupBy($"user_id")
      .agg(
        max($"roll_sum").as("max_roll_sum"),
        min($"roll_sum").as("min_roll_sum"),
        max($"roll_n").as("max_roll_n"))
      .orderBy($"user_id")
  }

  val rollingFrameSql: String =
    """SELECT user_id, MAX(roll_sum) AS max_roll_sum, MIN(roll_sum) AS min_roll_sum,
      |  MAX(roll_n) AS max_roll_n FROM (
      |  SELECT user_id,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE) AS roll_sum,
      |    COUNT(*) OVER w AS roll_n
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- W3b: RANGE frame (time-based window, not row-count) ---------------
  /** Events in the trailing 10 minutes per user — a range frame over event
    * time, the time-based sibling of the rows-frame rolling aggregate. */
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy(epochUs($"ts"))
      .rangeBetween(-600000000L, 0L)
    Tables.events(s, dir)
      .withColumn("n_10m", count(lit(1)).over(w))
      .withColumn("sum_10m", sum(money($"value")).over(w).cast(DoubleType))
      .groupBy($"user_id")
      .agg(
        max($"n_10m").as("max_burst"),
        sum($"n_10m").as("total_window_rows"),
        max($"sum_10m").as("max_burst_value"))
      .orderBy($"user_id")
  }

  val rangeFrameSql: String =
    """SELECT user_id, MAX(n_10m) AS max_burst,
      |  CAST(SUM(n_10m) AS BIGINT) AS total_window_rows,
      |  MAX(sum_10m) AS max_burst_value FROM (
      |  SELECT user_id, COUNT(*) OVER w AS n_10m,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE) AS sum_10m
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Every (user_id, day) pair of the events' users and days. */
  private def userDayGrid(e: DataFrame): DataFrame = {
    val days = e.select(to_date(col("ts")).as("day")).distinct()
    e.select(col("user_id")).distinct().crossJoin(broadcast(days))
  }

  /** Each user's last event of each day (by ts, then event_id), as
    * (user_id, day, ts, event_id, v, rn). */
  private def lastOfDay(e: DataFrame, v: Column): DataFrame = {
    val wDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    e.select(col("user_id"), to_date(col("ts")).as("day"), col("ts"), col("event_id"), v)
      .withColumn("rn", row_number().over(wDay)).filter(col("rn") === 1)
  }

  // --- J5: as-of join — per-user end-of-day state, forward-filled --------
  // The DynamoDB latest-state pattern generalized to "state as of each day".
  // Spark-first rewrite: per-(key,day) last value, then a dense key×day grid
  // forward-filled with last(ignoreNulls) — no per-checkpoint scan, a single
  // shuffle on the key. Scales: grid is |keys|×|days|, not |events|.
  def asOfDailyState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    val grid = userDayGrid(e)
    val dayLast = lastOfDay(e, $"value")
      .select($"user_id", $"day", $"value".as("day_last"))
    val wFill = Window.partitionBy($"user_id").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(dayLast, Seq("user_id", "day"), "left")
      .withColumn("state_value", last($"day_last", ignoreNulls = true).over(wFill))
      .select($"user_id", date_format($"day", "yyyy-MM-dd").as("day"), $"state_value")
      .orderBy($"user_id", $"day")
  }

  val asOfDailyStateSql: String =
    """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      |users AS (SELECT DISTINCT user_id FROM events),
      |grid AS (SELECT user_id, day FROM users CROSS JOIN days),
      |day_last AS (
      |  SELECT user_id, day, value AS day_last FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS day, value,
      |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1)
      |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
      |  last_value(d.day_last IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state_value
      |FROM grid g LEFT JOIN day_last d ON g.user_id = d.user_id AND g.day = d.day
      |ORDER BY g.user_id, day""".stripMargin

  // --- J6: range join, bucketized ----------------------------------------
  // "Events followed by another event of the same user within 10 minutes."
  // Naive non-equi join degenerates to a per-key cross product; the scale
  // path buckets time into window-sized cells so the join is equi on
  // (user_id, bucket) and the range predicate only filters adjacent cells.
  /** Each event (event_id, user_id, event_type, us) against the same
    * user's events of the following 10 minutes (r_id, r_us), joined
    * equi on (user, 10-minute bucket): the left side probes its own
    * bucket and the next one, the right side keeps one. */
  private def rangeFollowerPairs(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    import s.implicits._
    val windowUs = 600L * 1000 * 1000 // 10 minutes
    val e = Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", epochUs($"ts").as("us"))
    val left = e.withColumn("bucket",
      explode(array(floor($"us" / windowUs), floor($"us" / windowUs) + 1)))
    val right = e.select($"user_id".as("r_user"), $"event_id".as("r_id"),
      floor($"us" / windowUs).as("bucket"), $"us".as("r_us"))
    left.join(right,
        $"user_id" === $"r_user" && left("bucket") === right("bucket") &&
          $"r_us" > $"us" && $"r_us" - $"us" <= windowUs,
        joinType)
  }

  def rangeJoinFollowers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rangeFollowerPairs(s, dir, "inner")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct($"event_id").as("n_with_follower"))
      .orderBy($"event_type")
  }

  val rangeJoinFollowersSql: String =
    """SELECT a.event_type, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT a.event_id) AS n_with_follower
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND epoch_us(b.ts) > epoch_us(a.ts)
      | AND epoch_us(b.ts) - epoch_us(a.ts) <= 600000000
      |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin

  // --- J6b: LEFT OUTER range join -----------------------------------------
  // "Every event, WITH its followers when they exist" — the enrichment-
  // with-maybe-missing-events fusion of J3 (left outer) and J6 (range),
  // and the batch anchor of the streaming left-outer interval join
  // ([[graft.streaming.StreamJobs.followerJoinOuter]]). Same bucketized
  // equi-join scale path as [[rangeJoinFollowers]]; the left-outer twist
  // is that the 2-bucket probe explode makes PER-BUCKET null rows
  // meaningless (a matched event still gets a null row from its other
  // bucket), so match verdicts are settled by a per-event aggregate
  // FIRST — count(r_id) ignores the null bucket rows — before the
  // per-type rollup. Two hash aggregates, no extra shuffle vs the inner
  // form (the first agg reuses the join's (user_id,bucket) exchange only
  // one key off; both are narrow relative to the join output).
  def rangeJoinOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rangeFollowerPairs(s, dir, "left_outer")
      .groupBy($"event_id", $"event_type")
      .agg(count($"r_id").as("n_followers"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum($"n_followers").as("n_pairs"),
        count(when($"n_followers" > 0, 1)).as("n_with_follower"),
        count(when($"n_followers" === 0, 1)).as("n_lonely"))
      .orderBy($"event_type")
  }

  /** Mirror bucketized EXACTLY like the Spark plan (r19 verdict item 3):
    * the naive non-equi LEFT JOIN form cost 233.8 s of the sf1 sweep
    * (DuckDB plans it as a per-user loop over the range predicates); the
    * window-cell equi-join is semantics-identical — a follower within W
    * lands in the probe's own or next cell, never elsewhere — and the
    * hash gate proves the equivalence at every sweep scale. */
  val rangeJoinOuterSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |matched AS (
      |  SELECT a.event_id, COUNT(*) AS n_followers
      |  FROM (SELECT event_id, user_id, us, us // 600000000 + off AS bucket
      |        FROM e CROSS JOIN (VALUES (0), (1)) t(off)) a
      |  JOIN (SELECT user_id, us // 600000000 AS bucket, us AS r_us
      |        FROM e) b
      |    ON a.user_id = b.user_id AND a.bucket = b.bucket
      |   AND b.r_us > a.us AND b.r_us - a.us <= 600000000
      |  GROUP BY a.event_id),
      |per_event AS (
      |  SELECT e.event_id, e.event_type,
      |    COALESCE(m.n_followers, 0) AS n_followers
      |  FROM e LEFT JOIN matched m ON e.event_id = m.event_id)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(n_followers) AS BIGINT) AS n_pairs,
      |  COUNT(*) FILTER (WHERE n_followers > 0) AS n_with_follower,
      |  COUNT(*) FILTER (WHERE n_followers = 0) AS n_lonely
      |FROM per_event GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- P5: datetime scalar suite -----------------------------------------
  def datetimeScalars(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(to_date($"ts").as("day_d"))
      .agg(
        count(lit(1)).as("n_events"),
        min(hour($"ts")).cast(LongType).as("min_hr"),
        max(hour($"ts")).cast(LongType).as("max_hr"),
        countDistinct(date_trunc("hour", $"ts")).as("active_hours"))
      .select(
        date_format($"day_d", "yyyy-MM-dd").as("day"),
        date_format(date_add($"day_d", 1), "yyyy-MM-dd").as("next_day"),
        dayofweek($"day_d").cast(LongType).as("dow"),
        $"n_events", $"min_hr", $"max_hr", $"active_hours")
      .orderBy($"day")
  }

  val datetimeScalarsSql: String =
    """SELECT strftime(day_d, '%Y-%m-%d') AS day,
      |  strftime(day_d + 1, '%Y-%m-%d') AS next_day,
      |  CAST(dayofweek(day_d) + 1 AS BIGINT) AS dow,
      |  n_events, min_hr, max_hr, active_hours
      |FROM (
      |  SELECT CAST(ts AS DATE) AS day_d, COUNT(*) AS n_events,
      |    CAST(MIN(EXTRACT(hour FROM ts)) AS BIGINT) AS min_hr,
      |    CAST(MAX(EXTRACT(hour FROM ts)) AS BIGINT) AS max_hr,
      |    COUNT(DISTINCT date_trunc('hour', ts)) AS active_hours
      |  FROM events GROUP BY 1)
      |ORDER BY day""".stripMargin

  // --- P9: JSON parse scalar (events.props is a JSON string) -------------
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        get_json_object($"props", "$.k").cast(LongType).as("k"))
      .groupBy($"event_type")
      .agg(sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"),
        count($"k").as("n_k"))
      .orderBy($"event_type")
  }

  val jsonExtractSql: String =
    """SELECT event_type, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k,
      |  COUNT(k) AS n_k FROM (
      |  SELECT event_type,
      |    CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
      |  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- P8: JSON serialize scalar -----------------------------------------
  def jsonSerialize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter($"event_id" < 100)
      .select($"event_id",
        to_json(struct($"user_id", $"event_type")).as("js"))
      .orderBy($"event_id")
  }

  val jsonSerializeSql: String =
    """SELECT event_id,
      |  '{"user_id":' || user_id || ',"event_type":"' || event_type || '"}' AS js
      |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin

  // --- T3: tumbling daily window as batch agg ----------------------------
  def tumblingDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sumMoney($"value").as("total_value"))
      .select(epochUs($"w.start").as("w_start_us"), $"event_type", $"n", $"total_value")
      .orderBy($"w_start_us", $"event_type")
  }

  val tumblingDailySql: String =
    s"""SELECT epoch_us(date_trunc('day', ts)) AS w_start_us, event_type,
       |  COUNT(*) AS n,
       |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY w_start_us, event_type""".stripMargin

  // --- T4: sliding window (1 hour, slide 15 min) as batch agg ------------
  // Spark's window() assigns each event to length/slide overlapping windows;
  // the oracle reproduces that with an explicit generate_series unnest.
  def slidingHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sumMoney($"value").as("total_value"))
      .select(epochUs($"w.start").as("w_start_us"), $"n", $"total_value")
      .orderBy($"w_start_us")
  }

  val slidingHourlySql: String =
    """SELECT w_start_us, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM (
      |  SELECT epoch_us(date_trunc('minute', ts))
      |      - (epoch_us(date_trunc('minute', ts)) % 900000000)
      |      - (s.g * 900000000) AS w_start_us,
      |    value
      |  FROM events, (SELECT unnest(generate_series(0, 3)) AS g) s
      |  WHERE epoch_us(ts) - (epoch_us(date_trunc('minute', ts))
      |      - (epoch_us(date_trunc('minute', ts)) % 900000000)
      |      - (s.g * 900000000)) < 3600000000)
      |GROUP BY w_start_us ORDER BY w_start_us""".stripMargin

  // --- T4b: session windows (gap-based) as batch agg ---------------------
  // session_window(ts, gap): events of one key closer than `gap` merge into
  // one session. Oracle = classic islands: new session when gap exceeded,
  // session id = running sum of boundaries.
  def sessionWindows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), sumMoney($"value").as("total_value"))
      .select($"user_id", epochUs($"w.start").as("session_start_us"),
        $"n_events", $"total_value")
      .orderBy($"user_id", $"session_start_us")
  }

  val sessionWindowsSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts) >= 1800000000
      |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, epoch_us(MIN(ts)) AS session_start_us,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  // --- J5b: NATIVE as-of join (custom LogicalPlan/Strategy/SparkPlan) ----
  /** Each event probes for the user's latest value as of 5 minutes earlier,
    * via [[graft.plans.NativeAsOfJoin]] — the tier-(c) custom operator.
    * Oracle: DuckDB's built-in ASOF JOIN, i.e. our custom exec is checked
    * against an independent native implementation of the same semantics. */
  def asOfNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    val probe = e.select($"user_id", (epochUs($"ts") - 300000000L).as("ts_us"),
      $"event_id", $"event_type")
    val build = e.select($"user_id", epochUs($"ts").as("ts_us"), $"value")
    graft.plans.NativeAsOfJoin.join(probe, build, "user_id", "ts_us", "value", "state")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_total"),
        count($"state").as("n_matched"),
        sum(money($"state")).cast(org.apache.spark.sql.types.DoubleType).as("sum_state"))
      .orderBy($"event_type")
  }

  val asOfNativeSql: String =
    """WITH probe AS (
      |  SELECT user_id, epoch_us(ts) - 300000000 AS ts_us, event_id, event_type
      |  FROM events),
      |build AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events)
      |SELECT p.event_type, COUNT(*) AS n_total, COUNT(b.value) AS n_matched,
      |  CAST(CAST(SUM(CAST(b.value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_state
      |FROM probe p ASOF LEFT JOIN build b
      |  ON p.user_id = b.user_id AND b.ts_us <= p.ts_us
      |GROUP BY p.event_type ORDER BY p.event_type""".stripMargin

  // --- J5c: as-of join with TOLERANCE (bounded lookback) ------------------

  /** Staleness bound for [[asOfTolerance]]: a matched state older than
    * this (1 day in µs) is reported stale, not used. */
  private val ASOF_TOL_US = 86400000000L

  /** As-of join with a TOLERANCE bound — merge_asof-STYLE semantics with
    * a last-known-NON-NULL state carry, the form a feature-store read
    * enforces: the latest value-bearing state AT the probe time counts
    * only if it is no older than the freshness SLA; a staler match is
    * surfaced (n_stale) but its value is not consumed. One deliberate
    * deviation from pandas merge_asof proper: a NULL-value build row is
    * SKIPPED by the carry (s_ts tracks the row that supplied s_val), not
    * matched-and-suppressing — a feature store treats a null write as
    * "no observation", never as "forget the last observation". Expressed
    * as the single-shuffle union + carry-forward window (the J5 rewrite)
    * carrying BOTH the state value and the state's own event time, so
    * the age test is one subtraction per probe row.
    *
    * Determinism: the carry order (ts, build-before-probe, event_id) is a
    * TOTAL order mirrored verbatim in the oracle's window (not DuckDB's
    * ASOF operator, whose tie choice among equal timestamps is not
    * contractually the same) — both engines replay the identical merge. */
  def asOfTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    val probe = e.select($"user_id", (epochUs($"ts") - 300000000L).as("ts_us"),
      lit(1).as("is_probe"), $"event_id", $"event_type",
      lit(null).cast(org.apache.spark.sql.types.DoubleType).as("value"))
    val build = e.select($"user_id", epochUs($"ts").as("ts_us"),
      lit(0).as("is_probe"), $"event_id",
      lit(null).cast("string").as("event_type"), $"value")
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts_us", $"is_probe", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probe.unionByName(build)
      .withColumn("s_val", last($"value", ignoreNulls = true).over(w))
      // s_ts must come from the SAME rows that feed s_val: a build row
      // with a NULL value is skipped by last(value, ignoreNulls), so its
      // timestamp must not advance the freshness clock either — otherwise
      // the age test measures against a timestamp whose state was never
      // carried. (is_probe === 0 alone would admit such rows.)
      .withColumn("s_ts",
        last(when($"is_probe" === 0 && $"value".isNotNull, $"ts_us"),
          ignoreNulls = true).over(w))
      .filter($"is_probe" === 1)
      .withColumn("fresh",
        $"s_val".isNotNull && ($"ts_us" - $"s_ts" <= ASOF_TOL_US))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"fresh", 1L).otherwise(0L)).as("n_fresh"),
        sum(when($"s_val".isNotNull && !$"fresh", 1L).otherwise(0L))
          .as("n_stale"),
        sum(when($"fresh", money($"s_val")))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_fresh"))
      .orderBy($"event_type")
  }

  val asOfToleranceSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
       |  FROM events),
       |u AS (
       |  SELECT user_id, ts_us - 300000000 AS ts_us, 1 AS is_probe,
       |    event_id, event_type, NULL::DOUBLE AS value
       |  FROM e
       |  UNION ALL
       |  SELECT user_id, ts_us, 0, event_id, NULL, value FROM e),
       |c AS (
       |  SELECT *,
       |    last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, is_probe, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_val,
       |    last_value(CASE WHEN is_probe = 0 AND value IS NOT NULL
       |        THEN ts_us END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, is_probe, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_ts
       |  FROM u)
       |SELECT event_type, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN s_val IS NOT NULL
       |    AND ts_us - s_ts <= $ASOF_TOL_US THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_fresh,
       |  CAST(SUM(CASE WHEN s_val IS NOT NULL
       |    AND ts_us - s_ts > $ASOF_TOL_US THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_stale,
       |  CAST(CAST(SUM(CASE WHEN s_val IS NOT NULL
       |    AND ts_us - s_ts <= $ASOF_TOL_US
       |    THEN CAST(s_val AS DECIMAL(18,2)) END) AS VARCHAR) AS DOUBLE) AS sum_fresh
       |FROM c WHERE is_probe = 1
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- W6: conversion-latency log2 histogram ------------------------------

  /** Time-to-convert DISTRIBUTION — the funnel census (below) reports the
    * 7-day conversion rate and mean latency; this reports the shape: every
    * purchase after the user's first signup, bucketed by latency in
    * doubling (log₂) minute bands. The bucket is EXACT integer both
    * engines: `length(bin(minutes + 1))` — the bit-length of the latency,
    * no libm log anywhere (Spark's `bin` and DuckDB's `bin` both render
    * without leading zeros). Per band: purchases, distinct converting
    * users, and the observed min/max latency (the band's occupied edges).
    *
    * Scale: one aggregate for first-signups, one equi-join on user_id,
    * one ≤40-band census — the funnel's own shape with a histogram
    * aggregate instead of a scalar. */
  def conversionLag(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    val firstSignup = e.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min(epochUs($"ts")).as("signup_us"))
    e.filter($"event_type" === "purchase")
      .select($"user_id", epochUs($"ts").as("p_us"))
      .join(firstSignup, Seq("user_id"))
      .filter($"p_us" >= $"signup_us")
      .withColumn("lat_min", expr("(p_us - signup_us) div 60000000"))
      .withColumn("lat_bucket",
        expr("CAST(length(bin(lat_min + 1)) AS BIGINT)"))
      .groupBy($"lat_bucket")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct($"user_id").as("n_users"),
        min($"lat_min").as("min_lat_min"),
        max($"lat_min").as("max_lat_min"))
      .orderBy($"lat_bucket")
  }

  val conversionLagSql: String =
    """WITH fs AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS signup_us
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |lat AS (
      |  SELECT e.user_id,
      |    (epoch_us(e.ts) - f.signup_us) // 60000000 AS lat_min
      |  FROM events e JOIN fs f ON e.user_id = f.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= f.signup_us)
      |SELECT CAST(length(bin(lat_min + 1)) AS BIGINT) AS lat_bucket,
      |  COUNT(*) AS n_purchases,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(MIN(lat_min) AS BIGINT) AS min_lat_min,
      |  CAST(MAX(lat_min) AS BIGINT) AS max_lat_min
      |FROM lat GROUP BY 1 ORDER BY lat_bucket""".stripMargin

  // --- Funnel: signup → purchase conversion within 7 days ----------------
  // The "trend analysis" archetype over the event stream; all-integer
  // outputs so the oracle hash is exact.
  def funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    val weekUs = 7L * 24 * 3600 * 1000 * 1000
    val firstSignup = e.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min(epochUs($"ts")).as("signup_us"))
    val latency = e.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), epochUs($"ts").as("p_us"))
      .join(firstSignup, $"p_user" === $"user_id" && $"p_us" >= $"signup_us")
      .groupBy($"user_id").agg(min($"p_us" - $"signup_us").as("latency_us"))
    firstSignup.join(latency, Seq("user_id"), "left")
      .agg(
        count(lit(1)).as("n_signup_users"),
        sum(when($"latency_us" <= weekUs, 1L).otherwise(0L)).as("n_converted"),
        coalesce(sum(when($"latency_us" <= weekUs, $"latency_us")), lit(0L))
          .as("total_latency_us"))
  }

  val funnelSql: String =
    """WITH first_signup AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS signup_us
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |latency AS (
      |  SELECT f.user_id, MIN(epoch_us(e.ts) - f.signup_us) AS latency_us
      |  FROM events e JOIN first_signup f
      |    ON e.user_id = f.user_id AND epoch_us(e.ts) >= f.signup_us
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY f.user_id)
      |SELECT COUNT(*) AS n_signup_users,
      |  CAST(SUM(CASE WHEN latency_us <= 604800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
      |  CAST(COALESCE(SUM(CASE WHEN latency_us <= 604800000000 THEN latency_us END), 0) AS BIGINT) AS total_latency_us
      |FROM first_signup LEFT JOIN latency USING (user_id)""".stripMargin

  // --- Cohort retention by signup week -----------------------------------
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    val cohort = e.groupBy($"user_id")
      .agg(min(date_trunc("week", $"ts")).as("cohort_wk"))
    val active = e.select($"user_id", date_trunc("week", $"ts").as("wk")).distinct()
    active.join(cohort, Seq("user_id"))
      .select($"cohort_wk",
        (datediff($"wk", $"cohort_wk") / 7).cast(LongType).as("week_offset"),
        $"user_id")
      .groupBy(dayStr($"cohort_wk").as("cohort_week"), $"week_offset")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val cohortRetentionSql: String =
    """WITH cohort AS (
      |  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_wk
      |  FROM events GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
      |SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
      |  CAST(datediff('day', cohort_wk, wk) // 7 AS BIGINT) AS week_offset,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM active JOIN cohort USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  // --- J5c: time-series resample + LINEAR interpolation ------------------
  /** Daily resample of each user's value series with linear interpolation
    * between observations (ends clamp to the nearest observation) — the
    * missing sibling of [[asOfDailyState]]'s forward fill and the standard
    * gap-repair step before feeding a time series to a model. Same scale
    * shape as the as-of grid: |keys|×|days| rows, one shuffle on the key,
    * two window passes (preceding / following). Determinism: values walk
    * as exact integer cents; the interpolation is double arithmetic over
    * exact ints in an expression order mirrored token-for-token in the
    * oracle, so both engines produce identical IEEE doubles. */
  def tsInterpolate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    val grid = userDayGrid(e)
    val dayLast = lastOfDay(e, (money($"value") * 100).cast(LongType).as("c"))
      .select($"user_id", $"day", $"c")
    val wPrev = Window.partitionBy($"user_id").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy($"user_id").orderBy($"day".asc)
      .rowsBetween(0, Window.unboundedFollowing)
    val g = grid.join(dayLast, Seq("user_id", "day"), "left")
      .withColumn("pv", last($"c", ignoreNulls = true).over(wPrev))
      .withColumn("pd",
        last(when($"c".isNotNull, $"day"), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first($"c", ignoreNulls = true).over(wNext))
      .withColumn("nd",
        first(when($"c".isNotNull, $"day"), ignoreNulls = true).over(wNext))
    val interp = when($"pv".isNull, $"nv".cast(DoubleType))
      .when($"nv".isNull || $"nd" === $"pd", $"pv".cast(DoubleType))
      .otherwise($"pv".cast(DoubleType) +
        ($"nv" - $"pv").cast(DoubleType) *
          datediff($"day", $"pd") / datediff($"nd", $"pd"))
    g.select($"user_id", date_format($"day", "yyyy-MM-dd").as("day"),
        (interp / 100.0).as("interp_value"))
      .orderBy($"user_id", $"day")
  }

  val tsInterpolateSql: String =
    """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      |users AS (SELECT DISTINCT user_id FROM events),
      |grid AS (SELECT user_id, day FROM users CROSS JOIN days),
      |day_last AS (
      |  SELECT user_id, day, c FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS day,
      |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
      |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) WHERE rn = 1),
      |filled AS (
      |  SELECT g.user_id, g.day, d.c,
      |    last_value(d.c IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN d.c IS NOT NULL THEN g.day END IGNORE NULLS)
      |      OVER wp AS pd,
      |    first_value(d.c IGNORE NULLS) OVER wn AS nv,
      |    first_value(CASE WHEN d.c IS NOT NULL THEN g.day END IGNORE NULLS)
      |      OVER wn AS nd
      |  FROM grid g LEFT JOIN day_last d
      |    ON g.user_id = d.user_id AND g.day = d.day
      |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wn AS (PARTITION BY g.user_id ORDER BY g.day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  (CASE WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
      |    WHEN nv IS NULL OR nd = pd THEN CAST(pv AS DOUBLE)
      |    ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE)
      |      * (day - pd) / (nd - pd)
      |  END) / 100.0 AS interp_value
      |FROM filled ORDER BY user_id, day""".stripMargin

  // --- T6 (batch form): custom keyed state via flatMapGroups -------------
  /** Gap-based sessionization with CUSTOM per-key state logic — the typed
    * `KeyValueGroupedDataset.flatMapGroups` tier (T6's batch analogue; the
    * streaming twin with real timeouts is StreamJobs.sessionize). One
    * shuffle on user_id, then a per-group in-memory walk over the user's
    * (few) events. Money stays exact: values become integer cents before
    * the group walk, one correctly-rounded division at the very end —
    * bit-identical to the oracle's DECIMAL sum in any iteration order.
    *
    * Memory contract: each group buffers ONE user's events as (ts, cents)
    * pairs — 16 bytes/event — so the per-key footprint is linear in that
    * key's event count (100k events ≈ 1.6 MB; exercised by a hot-key spec).
    * A pathological key with billions of events would OOM an executor; for
    * unbounded keys use the scale-safe `session_window` twin
    * ([[sessionWindows]]), which never buffers a whole key. Null
    * contract, pinned IDENTICALLY in both engines (the typed encoder
    * would otherwise NPE where SQL silently skips): rows with NULL
    * ts/user_id are dropped, NULL value counts as 0 — the oracle SQL
    * carries the same WHERE/COALESCE. */
  def sessionizeBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val GapUs = 1800000000L // 30 min, matching q_session_windows
    Tables.events(s, dir)
      .select($"user_id", epochUs($"ts").as("ts_us"),
        (coalesce(money($"value"), lit(0)) * 100).cast(LongType).as("cents"))
      .filter($"ts_us".isNotNull && $"user_id".isNotNull)
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (uid: Long, it: Iterator[(Long, Long, Long)]) =>
        val evs = it.map(e => (e._2, e._3)).toArray.sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionStat]
        var start = evs(0)._1
        var last = evs(0)._1
        var n = 0L
        var cents = 0L
        evs.foreach { case (ts, c) =>
          if (ts - last >= GapUs) {
            out += SessionStat(uid, start, last, n, cents / 100.0)
            start = ts; n = 0L; cents = 0L
          }
          last = ts; n += 1; cents += c
        }
        out += SessionStat(uid, start, last, n, cents / 100.0)
        out
      }
      .toDF()
      .orderBy($"user_id", $"session_start_us")
  }

  val sessionizeBatchSql: String =
    """WITH flagged AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |    COALESCE(CAST(value AS DECIMAL(18,2)), 0) AS v,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |        PARTITION BY user_id ORDER BY ts) >= 1800000000
      |      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |    THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |sessions AS (
      |  SELECT user_id, ts_us, v,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  CAST(min(ts_us) AS BIGINT) AS session_start_us,
      |  CAST(max(ts_us) AS BIGINT) AS session_end_us,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(CAST(SUM(v) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  // --- S11b: dynamic partition pruning over a partitioned fact scan ------
  /** Day-partitioned copy of events for the DPP demo: `events` plus its
    * `day`, landed once per (session, events content) through
    * [[graft.GraftSession.landOnce]], so a regenerated sf dir gets a fresh
    * copy and the copy is deleted at JVM exit. Bench pre-materializes it
    * in its warmup so the one-time rewrite is never inside a timed
    * region. */
  def dppFactsPath(s: SparkSession, dir: String): String =
    graft.GraftSession.landOnce(s,
        graft.GraftSession.tableKey("dpp_facts", dir, "events"),
        "graft-dpp") { t =>
      dppFacts(s, dir).write.mode("overwrite").partitionBy("day").parquet(t)
    }

  private def dppFacts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("day", to_date(col("ts")))

  /** The highest-value scan optimization at 100 TB: the fact table is
    * partitioned on day, the dim side carries the selective filter
    * (Mondays), and Catalyst inserts a dynamic-pruning subquery into the
    * fact scan's PartitionFilters — only matching partitions are read, with
    * the dim's broadcast reused as the filter source. ExtSpec asserts
    * `dynamicpruning` is really in the scan. The oracle runs the
    * semantically-equal day-of-week filter on the unpartitioned table. */
  def joinDppPruned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // read with the copy's known schema (every field nullable, as a
    // parquet read reports it): no schema-inference job per build
    val facts = s.read
      .schema(StructType(dppFacts(s, dir).schema.map(_.copy(nullable = true))))
      .parquet(dppFactsPath(s, dir))
    // selective day-dim from the source table (cheap: pruned to ts)
    val dim = Tables.events(s, dir)
      .select(to_date($"ts").as("day")).distinct()
      .filter(dayofweek($"day") === 2) // Mondays
    facts.join(broadcast(dim), Seq("day"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sumMoney($"value").as("total_value"))
      .orderBy($"event_type")
  }

  val joinDppPrunedSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events WHERE isodow(CAST(ts AS DATE)) = 1
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- W6: gaps-and-islands — consecutive-day activity streaks -----------

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands idiom (island id = day_number − row_number, constant
    * within each run of consecutive days). Distinct from T6 sessionization:
    * this is DATE arithmetic over a deduplicated (user, day) grid, not
    * time-gap grouping over raw events.
    *
    * Scale: the (user, day) dedup is one hash aggregate that shrinks the
    * relation to |users|×|days| before any window runs, and both windows
    * share the same (user_id, day) partitioning — one exchange total. */
  def gapIslands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = Tables.events(s, dir)
      .select($"user_id",
        // integer `div`, NOT `/`: Column./ is float division and epoch
        // micros (~1.7e18) exceed double's exact-integer range.
        // Engine caveat: Spark `div` truncates toward zero, DuckDB `//`
        // floors — divergent ONLY for negative epochs (pre-1970 ts),
        // where the two would land on adjacent day numbers. The events
        // table is 2024-only; CoreQueriesSpec guards min(ts) >= epoch 0
        // so the divergence cannot silently enter the oracle gate.
        expr("unix_micros(date_trunc('DAY', ts)) div 86400000000").as("dayn"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"dayn")
    val islands = days
      .withColumn("island", $"dayn" - row_number().over(w))
      .groupBy($"user_id", $"island")
      .agg(count(lit(1)).as("len"), min($"dayn").as("start_dayn"))
    val rankW = Window.partitionBy($"user_id")
      .orderBy($"len".desc, $"start_dayn".asc)
    islands
      .withColumn("rn", row_number().over(rankW))
      .groupBy($"user_id")
      .agg(
        sum($"len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max($"len").as("max_streak"),
        max(when($"rn" === 1, $"start_dayn")).as("best_start_dayn"))
      .orderBy($"user_id")
  }

  val gapIslandsSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(date_trunc('day', ts)) // 86400000000 AS dayn
      |  FROM events),
      |islands AS (
      |  SELECT user_id, COUNT(*) AS len, MIN(dayn) AS start_dayn
      |  FROM (SELECT user_id, dayn,
      |          dayn - row_number() OVER (
      |            PARTITION BY user_id ORDER BY dayn) AS island
      |        FROM days)
      |  GROUP BY user_id, island),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY len DESC, start_dayn ASC) AS rn
      |  FROM islands)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  COUNT(*) AS n_streaks,
      |  MAX(len) AS max_streak,
      |  MAX(CASE WHEN rn = 1 THEN start_dayn END) AS best_start_dayn
      |FROM ranked GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- W7: exact-rank P99 anomaly gate ------------------------------------

  /** Per-type outlier audit against an EXACT p99 threshold: the k-th
    * largest value (k = ceil(n/100)) selected by rank — not an
    * interpolated percentile, whose float math differs between engines —
    * then every row compared against it. Money stays in integer cents
    * throughout, so the threshold, the comparisons, and the outlier sum
    * hash-match DuckDB exactly.
    *
    * Scale: two window passes over the same (event_type) partitioning —
    * one exchange — then one hash aggregate; nothing is collected to the
    * driver. For a 100-TB corpus the same shape runs with
    * approx_percentile supplying the threshold (see q_agg_stats_approx);
    * this is the exact tier. */
  def anomalyP99(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type")
      .orderBy($"cents".desc, $"event_id".desc)
    val wAll = Window.partitionBy($"event_type")
    Tables.events(s, dir)
      .select($"event_type", $"event_id",
        (money($"value") * 100).cast(LongType).as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("k", expr("(n + 99) div 100")) // integer ceil(n/100)
      .withColumn("thr", max(when($"rn" === $"k", $"cents")).over(wAll))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        max($"thr").as("p99_cents"),
        sum(when($"cents" > $"thr", 1L).otherwise(0L)).as("n_outliers"),
        sum(when($"cents" > $"thr", $"cents").otherwise(0L)).as("outlier_cents"))
      .orderBy($"event_type")
  }

  val anomalyP99Sql: String =
    """WITH c AS (
      |  SELECT event_type, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM c),
      |t AS (
      |  SELECT *, MAX(CASE WHEN rn = (n + 99) // 100 THEN cents END)
      |    OVER (PARTITION BY event_type) AS thr
      |  FROM r)
      |SELECT event_type, COUNT(*) AS n, MAX(thr) AS p99_cents,
      |  CAST(SUM(CASE WHEN cents > thr THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(SUM(CASE WHEN cents > thr THEN cents ELSE 0 END) AS BIGINT) AS outlier_cents
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- J8: nearest-event temporal join ------------------------------------

  /** Align every purchase to its temporally NEAREST non-purchase event of
    * the same user — backward or forward, whichever is closer (ties to the
    * earlier one) — the sensor-alignment generalization of the J5 as-of
    * join (which only looks backward). Same single-shuffle discipline:
    * both event classes interleave in ONE per-user ordered pass; an
    * IGNORE-NULLS `last_value` carries the previous reference forward and
    * an IGNORE-NULLS `first_value` over the following frame pulls the next
    * one back, so no range/abs-difference predicate ever reaches a join.
    * Reference-before-purchase at equal timestamps makes a same-instant
    * reference match at gap 0 via the backward leg.
    *
    * Scale: one exchange on user_id shared by both window frames; output
    * is the per-partner-type audit (match counts + exact µs gap mass).
    * Purchases from users with no reference events land in 'none'. */
  def nearestEvent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", Ops.epochUs($"ts").as("ts_us"), $"event_id",
        $"event_type")
    val tagged = ev.select($"user_id", $"ts_us", $"event_id",
      when($"event_type" === "purchase", 1L).otherwise(0L).as("role"),
      when($"event_type" =!= "purchase", $"ts_us").as("r_ts"),
      when($"event_type" =!= "purchase", $"event_type").as("r_type"))
    val ord = Window.partitionBy($"user_id")
      .orderBy($"ts_us", $"role", $"event_id")
    val wp = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val joined = tagged
      .withColumn("p_ts", last($"r_ts", ignoreNulls = true).over(wp))
      .withColumn("p_type", last($"r_type", ignoreNulls = true).over(wp))
      .withColumn("n_ts", first($"r_ts", ignoreNulls = true).over(wn))
      .withColumn("n_type", first($"r_type", ignoreNulls = true).over(wn))
      .where($"role" === 1)
    val pickPrev = $"p_ts".isNotNull &&
      ($"n_ts".isNull || ($"ts_us" - $"p_ts") <= ($"n_ts" - $"ts_us"))
    joined
      .select(
        when(pickPrev, $"p_type")
          .when($"n_ts".isNotNull, $"n_type")
          .otherwise(lit("none")).as("partner_type"),
        when(pickPrev, $"ts_us" - $"p_ts")
          .when($"n_ts".isNotNull, $"n_ts" - $"ts_us")
          .otherwise(lit(0L)).as("gap_us"))
      .groupBy($"partner_type")
      .agg(count(lit(1)).as("n_purchases"), sum($"gap_us").as("sum_gap_us"),
        max($"gap_us").as("max_gap_us"))
      .orderBy($"partner_type")
  }

  val nearestEventSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS role,
      |    CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END AS r_ts,
      |    CASE WHEN event_type <> 'purchase' THEN event_type END AS r_type
      |  FROM events),
      |j AS (
      |  SELECT user_id, ts_us, role,
      |    last_value(r_ts IGNORE NULLS) OVER wp AS p_ts,
      |    last_value(r_type IGNORE NULLS) OVER wp AS p_type,
      |    first_value(r_ts IGNORE NULLS) OVER wn AS n_ts,
      |    first_value(r_type IGNORE NULLS) OVER wn AS n_type
      |  FROM ev
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts_us, role, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wn AS (PARTITION BY user_id ORDER BY ts_us, role, event_id
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |picked AS (
      |  SELECT
      |    CASE WHEN p_ts IS NOT NULL
      |           AND (n_ts IS NULL OR (ts_us - p_ts) <= (n_ts - ts_us))
      |         THEN p_type
      |         WHEN n_ts IS NOT NULL THEN n_type
      |         ELSE 'none' END AS partner_type,
      |    CASE WHEN p_ts IS NOT NULL
      |           AND (n_ts IS NULL OR (ts_us - p_ts) <= (n_ts - ts_us))
      |         THEN ts_us - p_ts
      |         WHEN n_ts IS NOT NULL THEN n_ts - ts_us
      |         ELSE 0 END AS gap_us
      |  FROM j WHERE role = 1)
      |SELECT partner_type, COUNT(*) AS n_purchases,
      |  CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
      |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
      |FROM picked GROUP BY 1 ORDER BY partner_type""".stripMargin

  // --- B13: multi-step ordered funnel --------------------------------------

  /** Three-step STRICTLY-ORDERED funnel signup → click → purchase: a user
    * advances to step k only with an event AFTER their step-(k−1) time —
    * the earliest-completion semantics (each step takes its MIN qualifying
    * time, which maximizes downstream conversion counts and makes the
    * census deterministic). The 2-step q_funnel_conversion generalized to
    * the chained form real funnel analytics needs.
    *
    * Scale: one conditional aggregate per step, each joined back
    * co-partitioned on user_id — the per-step state is one timestamp per
    * user, never an event buffer; all three passes reuse the user_id
    * hash partitioning. Step delays are exact µs sums. */
  def funnelSteps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"user_id", $"event_type", Ops.epochUs($"ts").as("t"))
    val s1 = e.where($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"t").as("t1"))
    val s2 = e.where($"event_type" === "click")
      .join(s1, Seq("user_id"))
      .where($"t" > $"t1")
      .groupBy($"user_id").agg(min($"t").as("t2"), min($"t1").as("t1b"))
    val s3 = e.where($"event_type" === "purchase")
      .join(s2, Seq("user_id"))
      .where($"t" > $"t2")
      .groupBy($"user_id").agg(min($"t").as("t3"), min($"t2").as("t2b"))
    s1.join(s2.select($"user_id", $"t2", $"t1b"), Seq("user_id"), "left")
      .join(s3.select($"user_id", $"t3", $"t2b"), Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_step1"),
        count($"t2").as("n_step2"),
        count($"t3").as("n_step3"),
        coalesce(sum($"t2" - $"t1b"), lit(0L)).as("sum_d12_us"),
        coalesce(sum($"t3" - $"t2b"), lit(0L)).as("sum_d23_us"))
  }

  val funnelStepsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |s1 AS (
      |  SELECT user_id, MIN(t) AS t1 FROM e
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.t) AS t2, MIN(s1.t1) AS t1b
      |  FROM e JOIN s1 ON e.user_id = s1.user_id AND e.t > s1.t1
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.t) AS t3, MIN(s2.t2) AS t2b
      |  FROM e JOIN s2 ON e.user_id = s2.user_id AND e.t > s2.t2
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT COUNT(*) AS n_step1,
      |  COUNT(s2.t2) AS n_step2,
      |  COUNT(s3.t3) AS n_step3,
      |  CAST(COALESCE(SUM(s2.t2 - s2.t1b), 0) AS BIGINT) AS sum_d12_us,
      |  CAST(COALESCE(SUM(s3.t3 - s3.t2b), 0) AS BIGINT) AS sum_d23_us
      |FROM s1
      |LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin

  // --- J6c: interval-overlap join (two interval relations) ---------------

  /** INTERVAL-OVERLAP JOIN — the two-sided generalization of the J6
    * point-in-range join: two INTERVAL relations (per-user activity
    * sessions from the W6 gaps-islands rule, gap > 30 min; and the
    * corpus's BUSY HOURS — hour buckets whose event count runs above the
    * per-hour mean, integer cross-multiplied) joined on overlap, rolled
    * up per user: sessions total, sessions touching at least one busy
    * hour, and the exact busy-overlap seconds. The load-attribution
    * question ("how much of each user's activity rode peak load?") that
    * a naive engine answers with an interval-theta cross join.
    *
    * Scale: time-BUCKET BLOCKING — each session explodes only into the
    * hour buckets it covers (`sequence(a div H, b div H)`, rows
    * proportional to session-hours, never |sessions|×|hours|), the
    * overlap becomes an EQUI-join on the bucket id, and the overlap
    * length is exact integer µs arithmetic inside the matched bucket.
    * The busy-hour dictionary is hours-of-history-sized (broadcastable
    * for years of data); sessions come from one user-partitioned window,
    * the same exchange the census reuses. */
  def intervalOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val H = 3600000000L // one hour in µs
    val ev = Tables.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("us"))
    val w = Window.partitionBy($"user_id").orderBy($"us")
    val sess = ev
      .withColumn("prev", lag($"us", 1).over(w))
      .withColumn("brk",
        when($"prev".isNull || $"us" - $"prev" > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("a"), max($"us").as("b"))
    val hours = ev.groupBy(expr(s"us div ${H}L").as("h"))
      .agg(count(lit(1)).as("c"))
    val tot = hours.agg(sum($"c").as("total"), count(lit(1)).as("nh"))
    val busy = hours.crossJoin(broadcast(tot))
      .filter($"c" * $"nh" > $"total").select($"h")
    val blocked = sess.select($"user_id", $"sid", $"a", $"b",
      explode(expr(s"sequence(a div ${H}L, b div ${H}L)")).as("h"))
    val ov = blocked.join(busy, Seq("h"))
      .select($"user_id", $"sid",
        (least($"b", ($"h" + 1) * H) - greatest($"a", $"h" * H)).as("ov_us"))
      .groupBy($"user_id")
      .agg(countDistinct($"sid").as("n_busy_sessions"),
        sum($"ov_us").as("busy_us"))
    sess.groupBy($"user_id").agg(count(lit(1)).as("n_sessions"))
      .join(ov, Seq("user_id"), "left")
      .select($"user_id", $"n_sessions",
        coalesce($"n_busy_sessions", lit(0L)).as("n_busy_sessions"),
        expr("coalesce(busy_us, 0L) div 1000000").as("busy_overlap_secs"))
      .orderBy($"user_id")
  }

  val intervalOverlapJoinSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events),
      |marked AS (
      |  SELECT user_id, us,
      |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
      |      OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
      |        > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM ev),
      |ids AS (
      |  SELECT user_id, us, SUM(brk) OVER (PARTITION BY user_id ORDER BY us
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |sess AS (
      |  SELECT user_id, sid, MIN(us) AS a, MAX(us) AS b
      |  FROM ids GROUP BY 1, 2),
      |hours AS (
      |  SELECT us // 3600000000 AS h, COUNT(*) AS c FROM ev GROUP BY 1),
      |tot AS (SELECT SUM(c) AS total, COUNT(*) AS nh FROM hours),
      |busy AS (
      |  SELECT h FROM hours, tot WHERE c * nh > total),
      |blocked AS (
      |  SELECT user_id, sid, a, b,
      |    unnest(generate_series(a // 3600000000, b // 3600000000)) AS h
      |  FROM sess),
      |ov AS (
      |  SELECT bl.user_id,
      |    CAST(COUNT(DISTINCT bl.sid) AS BIGINT) AS n_busy_sessions,
      |    SUM(LEAST(bl.b, (bl.h + 1) * 3600000000)
      |      - GREATEST(bl.a, bl.h * 3600000000)) AS busy_us
      |  FROM blocked bl JOIN busy USING (h)
      |  GROUP BY 1)
      |SELECT s.user_id, COUNT(*) AS n_sessions,
      |  CAST(COALESCE(ANY_VALUE(o.n_busy_sessions), 0) AS BIGINT)
      |    AS n_busy_sessions,
      |  CAST(COALESCE(ANY_VALUE(o.busy_us), 0) // 1000000 AS BIGINT)
      |    AS busy_overlap_secs
      |FROM sess s LEFT JOIN ov o ON s.user_id = o.user_id
      |GROUP BY s.user_id ORDER BY s.user_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_join_interval_overlap", intervalOverlapJoin,
      Some(intervalOverlapJoinSql),
      "J6c interval-overlap join: sessions x busy hours via time-bucket blocking, exact overlap seconds"),
    QueryDef("q_funnel_steps", funnelSteps, Some(funnelStepsSql),
      "B13 three-step strictly-ordered funnel with exact step delays"),
    QueryDef("q_join_nearest_event", nearestEvent, Some(nearestEventSql),
      "J8 nearest-event temporal join: bidirectional as-of via one window pass"),
    QueryDef("q_gap_islands", gapIslands, Some(gapIslandsSql),
      "W6 gaps-and-islands consecutive-day activity streaks"),
    QueryDef("q_anomaly_p99", anomalyP99, Some(anomalyP99Sql),
      "W7 exact-rank p99 outlier audit in integer cents"),
    QueryDef("q_conversion_lag", conversionLag, Some(conversionLagSql),
      "W6 time-to-convert distribution: log2-minute latency bands via exact integer bit-length, per-band user/purchase census"),
    QueryDef("q_funnel_conversion", funnel, Some(funnelSql),
      "signup→purchase funnel with 7-day conversion window"),
    QueryDef("q_cohort_retention", cohortRetention, Some(cohortRetentionSql),
      "weekly cohort retention matrix"),
    QueryDef("q_window_latest_state", latestState, Some(latestStateSql),
      "W1 latest state per key (DynamoDB access pattern)"),
    QueryDef("q_window_lag_gaps", lagGaps, Some(lagGapsSql),
      "W2 lag inter-event gaps"),
    QueryDef("q_window_rolling", rollingFrame, Some(rollingFrameSql),
      "W3 rows-frame rolling aggregate"),
    QueryDef("q_window_range_frame", rangeFrame, Some(rangeFrameSql),
      "W3 time-based RANGE frame"),
    QueryDef("q_join_asof_state", asOfDailyState, Some(asOfDailyStateSql),
      "J5 as-of join via grid + forward fill"),
    QueryDef("q_ts_interpolate", tsInterpolate, Some(tsInterpolateSql),
      "J5c daily resample with linear interpolation between observations"),
    QueryDef("q_join_asof_tolerance", asOfTolerance, Some(asOfToleranceSql),
      "J5c as-of join with freshness tolerance: latest state counts only within the SLA window, staler matches censused"),
    QueryDef("q_join_asof_native", asOfNative, Some(asOfNativeSql),
      "J5 native as-of join exec vs DuckDB ASOF JOIN oracle"),
    QueryDef("q_join_range_followers", rangeJoinFollowers, Some(rangeJoinFollowersSql),
      "J6 range join, bucketized for scale"),
    QueryDef("q_join_range_outer", rangeJoinOuter, Some(rangeJoinOuterSql),
      "J6b LEFT OUTER range join, batch anchor of the streaming outer interval join"),
    QueryDef("q_scalar_datetime", datetimeScalars, Some(datetimeScalarsSql),
      "P5 datetime scalar suite"),
    QueryDef("q_json_extract", jsonExtract, Some(jsonExtractSql),
      "P9 JSON parse scalar"),
    QueryDef("q_json_serialize", jsonSerialize, Some(jsonSerializeSql),
      "P8 JSON serialize scalar"),
    QueryDef("q_tumbling_daily", tumblingDaily, Some(tumblingDailySql),
      "T3 tumbling daily window (batch form)"),
    QueryDef("q_sliding_hourly", slidingHourly, Some(slidingHourlySql),
      "T4 sliding window (batch form)"),
    QueryDef("q_session_windows", sessionWindows, Some(sessionWindowsSql),
      "T4 session windows (batch form)"),
    QueryDef("q_join_dpp_pruned", joinDppPruned, Some(joinDppPrunedSql),
      "S11b dynamic partition pruning: dim filter prunes partitioned fact scan"),
    QueryDef("q_sessionize_batch", sessionizeBatch, Some(sessionizeBatchSql),
      "T6 custom keyed-state sessionization via flatMapGroups (batch form)"))
}
