package graft.analytics

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operator queries over the TPC-H-ish test tables.
  *
  * Coverage (SURVEY.md §2 IDs): P3-P7/P10-P12 projection + scalar suites,
  * J1-J6 joins, A1-A3/A5-A8 aggregates, W1/W2/W4 windows, O1-O5
  * sort/limit/set ops. Each query has a DuckDB oracle; all floating
  * aggregates go through exact DECIMAL (see [[graft.Ops]]) so both engines
  * produce bit-identical doubles.
  */
object CoreQueries {
  import Ops._

  /** SQL fragment mirroring [[Ops.money]]. */
  private def m(col: String) = s"CAST($col AS DECIMAL(18,2))"
  private def sumM(col: String) = s"CAST(CAST(SUM(${m(col)}) AS VARCHAR) AS DOUBLE)"

  // --- A1/A2: grouped hash aggregate (TPC-H Q1 style pricing summary) ----
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val disc = (lit(1.0) - $"l_discount").cast(DecimalType(3, 2))
    val tax = (lit(1.0) + $"l_tax").cast(DecimalType(3, 2))
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("1998-09-01").cast(TimestampType))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(money($"l_quantity")).cast(DoubleType).as("sum_qty"),
        sumMoney($"l_extendedprice").as("sum_base_price"),
        sum(money($"l_extendedprice") * disc).cast(DoubleType).as("sum_disc_price"),
        sum((money($"l_extendedprice") * disc).cast(DecimalType(24, 4)) * tax)
          .cast(DoubleType).as("sum_charge"),
        avgMoney($"l_quantity").as("avg_qty"),
        avgMoney($"l_extendedprice").as("avg_price"),
        avgMoney($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(CAST(SUM(${m("l_quantity")}) AS VARCHAR) AS DOUBLE) AS sum_qty,
       |  ${sumM("l_extendedprice")} AS sum_base_price,
       |  CAST(CAST(SUM(${m("l_extendedprice")} * CAST(1.0 - l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       |  CAST(CAST(SUM(CAST(${m("l_extendedprice")} * CAST(1.0 - l_discount AS DECIMAL(3,2)) AS DECIMAL(24,4)) * CAST(1.0 + l_tax AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS sum_charge,
       |  CAST(CAST(SUM(${m("l_quantity")}) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       |  CAST(CAST(SUM(${m("l_extendedprice")}) AS VARCHAR) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       |  CAST(CAST(SUM(${m("l_discount")}) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- P3/P5/P7/P11/P12: projection + filter + string/math scalars -------
  def projFilterScalar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_quantity" > 45 && $"l_discount" >= 0.05 &&
        $"l_shipdate" >= lit("1997-01-01").cast(TimestampType))
      .select(
        $"l_orderkey", $"l_linenumber",
        (money($"l_extendedprice") * (lit(1.0) - $"l_discount").cast(DecimalType(3, 2)))
          .cast(DoubleType).as("revenue"),
        year($"l_shipdate").cast(LongType).as("ship_year"),
        lower(concat($"l_returnflag", lit("/"), $"l_linestatus")).as("flag_status"),
        substring($"l_returnflag", 1, 1).as("rf1"),
        floor($"l_quantity" / 10).cast(LongType).as("qty_bucket"),
        abs($"l_discount" - 0.06).cast(DoubleType).as("disc_dev"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  val projFilterScalarSql: String =
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(${m("l_extendedprice")} * CAST(1.0 - l_discount AS DECIMAL(3,2)) AS DOUBLE) AS revenue,
       |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
       |  lower(l_returnflag || '/' || l_linestatus) AS flag_status,
       |  substring(l_returnflag, 1, 1) AS rf1,
       |  CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_bucket,
       |  ABS(l_discount - 0.06) AS disc_dev
       |FROM lineitem
       |WHERE l_quantity > 45 AND l_discount >= 0.05 AND l_shipdate >= TIMESTAMP '1997-01-01'
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // --- P10: static-dim map lookup (reference: 7-line abbrev→name dict) ---
  private val segCodes = Seq(
    "AUTOMOBILE" -> "AUTO", "BUILDING" -> "BLDG", "FURNITURE" -> "FURN",
    "HOUSEHOLD" -> "HHLD", "MACHINERY" -> "MACH")

  def mapLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val segMap = map(segCodes.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    Tables.customer(s, dir)
      .select(element_at(segMap, $"c_mktsegment").as("seg_code"), $"c_acctbal")
      .groupBy($"seg_code")
      .agg(count(lit(1)).as("n_customers"), sumMoney($"c_acctbal").as("total_acctbal"))
      .orderBy($"seg_code")
  }

  val mapLookupSql: String = {
    val cases = segCodes.map { case (k, v) => s"WHEN '$k' THEN '$v'" }.mkString(" ")
    s"""SELECT CASE c_mktsegment $cases END AS seg_code,
       |  COUNT(*) AS n_customers, ${sumM("c_acctbal")} AS total_acctbal
       |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --- J1: broadcast hash join over small dims ---------------------------
  def joinBroadcastDim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_suppliers"), sumMoney($"s_acctbal").as("total_acctbal"))
      .orderBy($"r_name", $"n_name")
  }

  val joinBroadcastDimSql: String =
    s"""SELECT r_name, n_name, COUNT(*) AS n_suppliers, ${sumM("s_acctbal")} AS total_acctbal
       |FROM supplier
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // --- J2 + A3: fact-fact shuffle join + count distinct ------------------
  /** r20 shape (guide §2.3 "aggregate before you shuffle"): lineitem is
    * pre-aggregated to ORDER grain (one map-side-combining hash agg on
    * l_orderkey) BEFORE meeting orders, so the join carries one row per
    * order instead of one per line — and the old countDistinct(o_orderkey)
    * over the joined stream (a second dedup exchange at line grain)
    * becomes a plain count: after the pre-agg each surviving orderkey is
    * unique by construction. Results are identical — the decimal revenue
    * re-associates exactly (DECIMAL sums are order-independent), inner-join
    * survivorship is unchanged (an order with no lines appears in neither
    * form) — and the whole query hash-matches the unchanged oracle.
    * Measured at sf0.1/local[32] (noop sink, warm): 1.56 s → 0.91 s. */
  def joinShuffleFact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val disc = (lit(1.0) - $"l_discount").cast(DecimalType(3, 2))
    Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("nl"),
        sum(money($"l_extendedprice") * disc).as("rev"))
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum($"nl").as("n_lines"),
        sum($"rev").cast(DoubleType).as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val joinShuffleFactSql: String =
    s"""SELECT o_orderpriority,
       |  COUNT(DISTINCT o_orderkey) AS n_orders,
       |  COUNT(*) AS n_lines,
       |  CAST(CAST(SUM(${m("l_extendedprice")} * CAST(1.0 - l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS revenue
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --- J3: left outer join (customers keep zero-order rows) --------------
  def joinLeftOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey", $"c_name")
      .agg(
        count($"o_orderkey").as("n_orders"),
        coalesce(sum(money($"o_totalprice")).cast(DoubleType), lit(0.0)).as("total_spent"))
      .orderBy($"c_custkey")
  }

  val joinLeftOuterSql: String =
    s"""SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
       |  COALESCE(${sumM("o_totalprice")}, 0.0) AS total_spent
       |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  // --- J4: left semi join (EXISTS) ---------------------------------------
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(
        Tables.orders(s, dir).filter($"o_totalprice" > 400000),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val joinSemiSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  // --- J4: left anti join (NOT EXISTS) -----------------------------------
  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter($"o_totalprice" > 300000),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  val joinAntiSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  // --- J3b: full outer join ----------------------------------------------
  /** Customers-per-nation ⟗ suppliers-per-nation: nations may exist on one
    * side only, so both null branches are exercised. */
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir).groupBy($"c_nationkey".as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val sup = Tables.supplier(s, dir).groupBy($"s_nationkey".as("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(sup, $"nationkey" === $"s_nationkey", "full_outer")
      .select(
        coalesce($"nationkey", $"s_nationkey").as("nation_key"),
        coalesce($"n_customers", lit(0L)).as("n_customers"),
        coalesce($"n_suppliers", lit(0L)).as("n_suppliers"))
      .orderBy($"nation_key")
  }

  val joinFullOuterSql: String =
    """SELECT COALESCE(c.nationkey, s.s_nationkey) AS nation_key,
      |  COALESCE(c.n_customers, 0) AS n_customers,
      |  COALESCE(s.n_suppliers, 0) AS n_suppliers
      |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
      |      FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS s_nationkey, COUNT(*) AS n_suppliers
      |      FROM supplier GROUP BY 1) s
      |  ON c.nationkey = s.s_nationkey
      |ORDER BY nation_key""".stripMargin

  // --- A5: rollup with multi-level aggregates ----------------------------
  def aggRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"), sumMoney($"c_acctbal").as("total_acctbal"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  val aggRollupSql: String =
    s"""SELECT r_name, n_name, COUNT(*) AS n_customers, ${sumM("c_acctbal")} AS total_acctbal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  // --- A6: distribution stats (exact percentile, stddev, corr) -----------
  /** `events` per event type: its count `n`, exact p50/p90 of `value`
    * (rounded at 4), then the aggregates `more`. */
  private def typeQuantiles(s: SparkSession, dir: String,
      more: Column*): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Seq(round(expr("percentile(value, 0.5D)"), 4).as("p50"),
          round(expr("percentile(value, 0.9D)"), 4).as("p90")) ++ more: _*)

  def aggStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    typeQuantiles(s, dir,
        round(stddev_samp($"value"), 4).as("sd"),
        round(corr($"value", $"user_id".cast(DoubleType)), 4).as("corr_vu"),
        min($"value").as("min_v"),
        max($"value").as("max_v"))
      .orderBy($"event_type")
  }

  val aggStatsSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(value, 0.9), 4) AS p90,
      |  ROUND(stddev_samp(value), 4) AS sd,
      |  ROUND(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_vu,
      |  MIN(value) AS min_v, MAX(value) AS max_v
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- A6b: sketch-tier percentiles (the 100-TB path) --------------------
  /** At 100 TB exact `percentile` is a full sort-and-gather per group; the
    * scale path is a mergeable quantile sketch (`approx_percentile`,
    * Greenwald-Khanna family — constant memory per partition, one partial
    * agg). Oracle contract mirrors the proven HLL pattern
    * ([[aggApproxDistinct]]): emit the EXACT percentiles (comparable
    * across engines) plus `approx_ok` = 1 iff the sketch estimate lands
    * inside the exact [p−0.01, p+0.01] rank window — with sketch accuracy
    * 1000 the guaranteed rank error is 0.1%, ten times tighter than the
    * window, so the check is deterministic; if the estimator ever
    * degrades past it, the driver's hash comparison fails. */
  def aggStatsApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    typeQuantiles(s, dir,
        expr("approx_percentile(value, 0.5D, 1000)").as("ap50"),
        expr("approx_percentile(value, 0.9D, 1000)").as("ap90"),
        expr("percentile(value, 0.49D)").as("lo50"),
        expr("percentile(value, 0.51D)").as("hi50"),
        expr("percentile(value, 0.89D)").as("lo90"),
        expr("percentile(value, 0.91D)").as("hi90"))
      .select($"event_type", $"n", $"p50", $"p90",
        ($"ap50" >= $"lo50" && $"ap50" <= $"hi50" &&
          $"ap90" >= $"lo90" && $"ap90" <= $"hi90")
          .cast(LongType).as("approx_ok"))
      .orderBy($"event_type")
  }

  val aggStatsApproxSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(value, 0.9), 4) AS p90,
      |  CAST(1 AS BIGINT) AS approx_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- A6c: fixed-bin histogram ------------------------------------------
  /** Value histogram per event_type: 20 fixed-width bins over exact
    * integer cents (clamped at the top), the aggregation shape behind
    * every dashboard distribution plot. One hash aggregate on
    * (event_type, bin) — at 100 TB the map-side combine reduces each
    * partition to ≤ |types|·20 rows before the one exchange. */
  def aggHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = (money($"value") * 100).cast(LongType)
    // clamp BOTH ends: Spark long division truncates toward zero while
    // DuckDB's // floors, so a negative value would otherwise bin apart —
    // the [0, 19] clamp makes the engines agree on any input
    val bin = least(greatest(cents / 5000L, lit(0L)), lit(19L)).cast(LongType)
    Tables.events(s, dir)
      .select($"event_type", bin.as("bin"))
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", ($"bin" * 50.0).cast(DoubleType))
      .select($"event_type", $"bin", $"bin_lo", $"n")
      .orderBy($"event_type", $"bin")
  }

  val aggHistogramSql: String =
    """SELECT event_type, bin, CAST(bin * 50.0 AS DOUBLE) AS bin_lo,
      |  COUNT(*) AS n
      |FROM (
      |  SELECT event_type,
      |    LEAST(GREATEST(
      |      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000,
      |      0), 19) AS bin
      |  FROM events)
      |GROUP BY event_type, bin ORDER BY event_type, bin""".stripMargin

  // --- A7: collect_set → sorted join (per-group sequence reconstruction) -
  def aggCollect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(
        array_join(array_sort(collect_set($"event_type")), ",").as("types_seen"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  val aggCollectSql: String =
    """SELECT user_id,
      |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_seen,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- A8: first/last per group via max_by/min_by ((user_id,ts) unique) --
  def aggFirstLast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(
        max_by($"event_type", $"ts").as("last_type"),
        min_by($"event_type", $"ts").as("first_type"),
        max_by($"value", $"ts").as("last_value"),
        epochUs(max($"ts")).as("last_ts_us"))
      .orderBy($"user_id")
  }

  val aggFirstLastSql: String =
    """SELECT user_id,
      |  max_by(event_type, ts) AS last_type,
      |  min_by(event_type, ts) AS first_type,
      |  max_by(value, ts) AS last_value,
      |  epoch_us(MAX(ts)) AS last_ts_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // --- A9: deterministic per-group mode ----------------------------------

  /** Modal value per group with a PINNED tie-break (highest count, then
    * smallest value) — Spark's and DuckDB's built-in `mode()` both leave
    * ties engine-defined, so the operator is expressed as the two-level
    * shape that is also the scale-correct one: hash-count (group, value)
    * pairs (map-side combinable), then a partitioned row_number picks the
    * winner — no whole-group value buffer anywhere. Value domain is exact
    * cents. */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.events(s, dir)
      .select($"event_type",
        (Ops.money($"value") * 100).cast(LongType).as("cents"))
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"n".desc, $"cents".asc)
    counts.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"event_type", $"cents".as("modal_cents"), $"n".as("n_occurrences"))
      .orderBy($"event_type")
  }

  val aggModeSql: String =
    """WITH counts AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, cents AS modal_cents, n AS n_occurrences FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY event_type ORDER BY n DESC, cents ASC) AS rn
      |  FROM counts) WHERE rn = 1
      |ORDER BY event_type""".stripMargin

  // --- W4 + O2: top-k per group ------------------------------------------
  def windowTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter($"rnk" <= 3)
      .select($"o_orderpriority", $"rnk", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_orderpriority", $"rnk")
  }

  val windowTopKSql: String =
    """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders) WHERE rnk <= 3
      |ORDER BY o_orderpriority, rnk""".stripMargin

  // --- O1/O2: global sort + limit (TakeOrderedAndProject) ----------------
  def sortTopKGlobal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        dayStr($"o_orderdate").as("order_date"))
  }

  val sortTopKGlobalSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // --- O3/O4: union all + distinct ---------------------------------------
  def unionDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val a = li.filter($"l_returnflag" === "R").select($"l_orderkey", $"l_partkey")
    val b = li.filter($"l_linestatus" === "F").select($"l_orderkey", $"l_partkey")
    a.unionByName(b).distinct()
      .agg(count(lit(1)).as("n_pairs"))
  }

  val unionDistinctSql: String =
    """SELECT COUNT(*) AS n_pairs FROM (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM (
      |    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'R'
      |    UNION ALL
      |    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linestatus = 'F'))""".stripMargin

  // --- O5: intersect / except --------------------------------------------
  def setOpsIntersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val urgent = o.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    val low = o.filter($"o_orderpriority" === "5-LOW").select($"o_custkey")
    urgent.intersect(low).orderBy($"o_custkey")
  }

  val setOpsIntersectSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
      |ORDER BY o_custkey""".stripMargin

  def setOpsExcept(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val urgent = o.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    val low = o.filter($"o_orderpriority" === "5-LOW").select($"o_custkey")
    urgent.except(low).orderBy($"o_custkey")
  }

  val setOpsExceptSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
      |ORDER BY o_custkey""".stripMargin

  // --- A5b: pivot (conditional aggregation matrix) -----------------------
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def aggPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(dayStr($"ts").as("day"))
      .pivot("event_type", eventTypes)
      .agg(sumMoney($"value"))
      .orderBy($"day")
  }

  val aggPivotSql: String = {
    val cols = eventTypes.map { t =>
      s"CAST(CAST(SUM(CASE WHEN event_type = '$t' THEN ${m("value")} END) AS VARCHAR) AS DOUBLE) AS $t"
    }.mkString(",\n  ")
    s"""SELECT strftime(ts, '%Y-%m-%d') AS day,
       |  $cols
       |FROM events GROUP BY 1 ORDER BY day""".stripMargin
  }

  // --- A5c: cube ---------------------------------------------------------
  def aggCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .cube($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang".asc_nulls_first, $"source".asc_nulls_first)
  }

  val aggCubeSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY CUBE (lang, source)
      |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  // --- P11: string scalar suite ------------------------------------------
  def stringSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .filter($"p_partkey" < 500)
      .select(
        $"p_partkey",
        upper($"p_name").as("name_u"),
        lower($"p_type").as("type_l"),
        lpad($"p_partkey".cast(StringType), 8, "0").as("key_pad"),
        substring($"p_name", 1, 5).as("name5"),
        replace($"p_name", lit(" "), lit("_")).as("name_us"),
        regexp_extract($"p_name", "^(\\w+)", 1).as("first_word"),
        ($"p_name" like "%widget%").as("is_widget"),
        Ops.words($"p_name").getItem(1).as("second_word"),
        length($"p_name").cast(LongType).as("name_len"),
        trim(concat(lit("  "), $"p_brand", lit("  "))).as("brand_trim"))
      .orderBy($"p_partkey")
  }

  val stringSuiteSql: String =
    """SELECT p_partkey,
      |  upper(p_name) AS name_u,
      |  lower(p_type) AS type_l,
      |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_pad,
      |  substring(p_name, 1, 5) AS name5,
      |  replace(p_name, ' ', '_') AS name_us,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
      |  p_name LIKE '%widget%' AS is_widget,
      |  string_split(p_name, ' ')[2] AS second_word,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  trim('  ' || p_brand || '  ') AS brand_trim
      |FROM part WHERE p_partkey < 500 ORDER BY p_partkey""".stripMargin

  // --- W-extra: analytic window suite (ntile/percent_rank/cume_dist/...) -
  def windowAnalytics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .filter($"o_orderkey" < 3000)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        ntile(4).over(w).cast(LongType).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        first($"o_orderkey").over(w).as("top_key"),
        lead($"o_orderkey", 1).over(w).as("next_key"))
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  val windowAnalyticsSql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  ROUND(percent_rank() OVER w, 6) AS pct_rank,
      |  ROUND(cume_dist() OVER w, 6) AS cume,
      |  first_value(o_orderkey) OVER w AS top_key,
      |  lead(o_orderkey, 1) OVER w AS next_key
      |FROM orders WHERE o_orderkey < 3000
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice DESC, o_orderkey ASC)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  // --- O5b: bag-semantics set ops (exceptAll / intersectAll) -------------
  def setOpsBag(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val a = li.filter($"l_returnflag" === "R").select($"l_orderkey")
    val b = li.filter($"l_linestatus" === "F").select($"l_orderkey")
    val ex = a.exceptAll(b).agg(count(lit(1)).as("n_rows"),
      countDistinct($"l_orderkey").as("n_keys"))
      .select(lit("except_all").as("op"), $"n_rows", $"n_keys")
    val in = a.intersectAll(b).agg(count(lit(1)).as("n_rows"),
      countDistinct($"l_orderkey").as("n_keys"))
      .select(lit("intersect_all").as("op"), $"n_rows", $"n_keys")
    ex.unionByName(in).orderBy($"op")
  }

  val setOpsBagSql: String =
    """SELECT 'except_all' AS op, COUNT(*) AS n_rows,
      |  COUNT(DISTINCT l_orderkey) AS n_keys FROM (
      |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      |  EXCEPT ALL
      |  SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
      |UNION ALL
      |SELECT 'intersect_all' AS op, COUNT(*) AS n_rows,
      |  COUNT(DISTINCT l_orderkey) AS n_keys FROM (
      |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      |  INTERSECT ALL
      |  SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
      |ORDER BY op""".stripMargin

  // --- A5d: explicit grouping sets ---------------------------------------
  def aggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupingSets(Seq(Seq($"lang"), Seq($"source"), Seq.empty),
        $"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang".asc_nulls_first, $"source".asc_nulls_first)
  }

  val aggGroupingSetsSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY GROUPING SETS ((lang), (source), ())
      |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  // --- P-extra: conditional expression suite -----------------------------
  def conditionalSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .filter($"o_orderkey" < 2000)
      .select(
        $"o_orderkey",
        when($"o_totalprice" > 300000, "high")
          .when($"o_totalprice" > 100000, "mid")
          .otherwise("low").as("price_band"),
        nullif($"o_orderstatus", lit("O")).as("status_or_null"),
        coalesce(nullif($"o_orderstatus", lit("O")), lit("OPEN")).as("status_label"),
        greatest($"o_custkey" % 7, $"o_orderkey" % 5).as("g"),
        least($"o_custkey" % 7, $"o_orderkey" % 5).as("l"),
        ($"o_orderpriority" === "1-URGENT" || $"o_orderpriority" === "2-HIGH")
          .as("is_rush"))
      .orderBy($"o_orderkey")
  }

  val conditionalSuiteSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 300000 THEN 'high'
      |       WHEN o_totalprice > 100000 THEN 'mid'
      |       ELSE 'low' END AS price_band,
      |  nullif(o_orderstatus, 'O') AS status_or_null,
      |  COALESCE(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
      |  greatest(o_custkey % 7, o_orderkey % 5) AS g,
      |  least(o_custkey % 7, o_orderkey % 5) AS l,
      |  o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_rush
      |FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""".stripMargin

  // --- Multi-join analytics (TPC-H Q3/Q5 shapes) -------------------------
  /** Q3-shape: top-10 highest-revenue orders for one market segment in a
    * date window — lineitem⋈orders⋈customer with selective filters, where
    * Catalyst's filter pushdown + broadcast selection carry the plan. */
  def tpchQ3Shape(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val disc = (lit(1.0) - $"l_discount").cast(DecimalType(3, 2))
    val cutoff = lit("1998-01-01").cast(TimestampType)
    Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
      .join(Tables.orders(s, dir).filter($"o_orderdate" < cutoff),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(s, dir).filter($"l_shipdate" >= cutoff),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sum(money($"l_extendedprice") * disc).cast(DoubleType).as("revenue"))
      .select($"o_orderkey", dayStr($"o_orderdate").as("order_date"),
        $"o_orderpriority", $"revenue")
      .orderBy($"revenue".desc, $"o_orderkey".asc)
      .limit(10)
  }

  val tpchQ3ShapeSql: String =
    s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       |  o_orderpriority,
       |  CAST(CAST(SUM(${m("l_extendedprice")} * CAST(1.0 - l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |  AND l_shipdate >= TIMESTAMP '1998-01-01'
       |GROUP BY o_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** Q5-shape: revenue per nation for one region where customer and
    * supplier share the nation — the 6-table join whose order/strategy mix
    * (two broadcast dims, three shuffle facts) is the CBO showcase. */
  def tpchQ5Shape(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val disc = (lit(1.0) - $"l_discount").cast(DecimalType(3, 2))
    Tables.region(s, dir).filter($"r_name" === "ASIA")
      .join(Tables.nation(s, dir), $"r_regionkey" === $"n_regionkey")
      .join(Tables.customer(s, dir), $"n_nationkey" === $"c_nationkey")
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .join(Tables.supplier(s, dir),
        $"l_suppkey" === $"s_suppkey" && $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum(money($"l_extendedprice") * disc).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"n_name")
  }

  val tpchQ5ShapeSql: String =
    s"""SELECT n_name,
       |  CAST(CAST(SUM(${m("l_extendedprice")} * CAST(1.0 - l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS revenue,
       |  COUNT(*) AS n_lines
       |FROM region
       |JOIN nation ON r_regionkey = n_regionkey
       |JOIN customer ON n_nationkey = c_nationkey
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // --- J2/CBO: TPC-H Q7 shape — volume shipping between two nations ------
  /** Q7-shape: bidirectional trade volume between two nations by ship year.
    * Plan-quality point: the two-nation filter is applied to `nation` BEFORE
    * the dim joins, so supplier and customer shrink to the two nations'
    * members before either touches a fact table — the selective-dim-first
    * ordering a CBO would pick, made explicit. Nations broadcast. */
  def tpchQ7Shape(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val disc = (lit(1.0) - $"l_discount").cast(DecimalType(3, 2))
    val nat = Tables.nation(s, dir).filter($"n_name".isin("NATION_1", "NATION_2"))
    val supp = Tables.supplier(s, dir)
      .join(broadcast(nat.select($"n_nationkey", $"n_name".as("supp_nation"))),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"supp_nation")
    val cust = Tables.customer(s, dir)
      .join(broadcast(nat.select($"n_nationkey".as("n2_key"), $"n_name".as("cust_nation"))),
        $"c_nationkey" === $"n2_key")
      .select($"c_custkey", $"cust_nation")
    Tables.lineitem(s, dir)
      .filter($"l_shipdate".between(
        lit("1995-01-01").cast(TimestampType), lit("1996-12-31").cast(TimestampType)))
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(supp, $"l_suppkey" === $"s_suppkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .filter($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast(LongType).as("l_year"))
      .agg(sum(money($"l_extendedprice") * disc).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val tpchQ7ShapeSql: String =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  CAST(SUM(volume) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |    ${m("l_extendedprice")} * CAST(1.0 - l_discount AS DECIMAL(3,2)) AS volume
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
       |    AND n2.n_name IN ('NATION_1', 'NATION_2')
       |    AND n1.n_name <> n2.n_name
       |    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31')
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --- J2/CBO: TPC-H Q10 shape — returned-item revenue per customer ------
  /** Q10-shape: top-20 customers by revenue lost to returns in one quarter.
    * The quarter filter prunes orders before the lineitem join; nation
    * broadcasts onto the aggregated (not raw) rows. */
  def tpchQ10Shape(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val disc = (lit(1.0) - $"l_discount").cast(DecimalType(3, 2))
    Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1995-10-01").cast(TimestampType) &&
        $"o_orderdate" < lit("1996-01-01").cast(TimestampType))
      .join(Tables.lineitem(s, dir).filter($"l_returnflag" === "R"),
        $"o_orderkey" === $"l_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(sum(money($"l_extendedprice") * disc).cast(DoubleType).as("revenue"),
        max(money($"c_acctbal")).cast(DoubleType).as("acctbal"),
        count(lit(1)).as("n_lines"))
      .orderBy($"revenue".desc, $"c_custkey".asc)
      .limit(20)
      .orderBy($"revenue".desc, $"c_custkey".asc)
  }

  val tpchQ10ShapeSql: String =
    s"""SELECT c_custkey, c_name, n_name,
       |  CAST(CAST(SUM(${m("l_extendedprice")} * CAST(1.0 - l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE) AS revenue,
       |  CAST(MAX(${m("c_acctbal")}) AS DOUBLE) AS acctbal,
       |  COUNT(*) AS n_lines
       |FROM orders
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1995-10-01'
       |  AND o_orderdate < TIMESTAMP '1996-01-01'
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  // --- J4/CBO: TPC-H Q18 shape — large-volume orders ----------------------
  /** Q18-shape: the big-aggregate semi-filter — orders whose TOTAL line
    * quantity crosses a threshold, detailed with customer and re-agg.
    * Plan-quality point: the HAVING subquery becomes ONE hash aggregate
    * over lineitem followed by a LEFT SEMI join (never a grouped IN-list
    * materialized on the driver); quantity sums run in DECIMAL so the
    * threshold compare and the emitted sums are bit-identical
    * cross-engine (float sums are order-dependent). */
  def tpchQ18Shape(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qty = $"l_quantity".cast(DecimalType(12, 2))
    val hot = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(sum(qty).as("hot_qty"))
      .filter($"hot_qty" > 250)
      .select($"l_orderkey".as("hot_orderkey"))
    Tables.orders(s, dir)
      .join(hot, $"o_orderkey" === $"hot_orderkey", "left_semi")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .groupBy($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
        $"o_totalprice")
      .agg(sum(qty).cast(DoubleType).as("sum_qty"))
      .select($"c_name", $"c_custkey", $"o_orderkey",
        dayStr($"o_orderdate").as("order_date"),
        money($"o_totalprice").cast(DoubleType).as("total_price"),
        $"sum_qty")
      .orderBy($"total_price".desc, $"o_orderkey".asc)
      .limit(100)
      .orderBy($"total_price".desc, $"o_orderkey".asc)
  }

  val tpchQ18ShapeSql: String =
    s"""SELECT c_name, c_custkey, o_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       |  CAST(${m("o_totalprice")} AS DOUBLE) AS total_price,
       |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE o_orderkey IN (
       |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
       |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
       |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       |ORDER BY total_price DESC, o_orderkey ASC LIMIT 100""".stripMargin

  // --- J4/CBO: TPC-H Q21 shape — sole failing supplier per order ---------
  /** Q21-shape (adapted to this schema: returnflag 'R' plays the "late"
    * role): suppliers who were the ONLY supplier with a returned line on
    * a finalized multi-supplier order — the classic EXISTS + NOT EXISTS
    * double correlated self-join on the fact table. Plan-quality point:
    * both correlations decorrelate to ONE left-semi and ONE left-anti
    * join, each an equi-join on l_orderkey carrying the supplier
    * inequality as a residual predicate — never a per-row subquery, never
    * a nested loop. The 'F'-status filter semi-prunes before the heavy
    * self-joins. */
  def tpchQ21Shape(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_returnflag")
    val l1 = li.filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_suppkey")
    val l2 = li.select($"l_orderkey".as("k2"), $"l_suppkey".as("s2"))
    val l3 = li.filter($"l_returnflag" === "R")
      .select($"l_orderkey".as("k3"), $"l_suppkey".as("s3"))
    l1
      .join(Tables.orders(s, dir).filter($"o_orderstatus" === "F")
        .select($"o_orderkey"), $"l_orderkey" === $"o_orderkey", "left_semi")
      .join(l2, $"l_orderkey" === $"k2" && $"l_suppkey" =!= $"s2", "left_semi")
      .join(l3, $"l_orderkey" === $"k3" && $"l_suppkey" =!= $"s3", "left_anti")
      .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"s_name".asc)
      .limit(20)
      .orderBy($"numwait".desc, $"s_name".asc)
  }

  val tpchQ21ShapeSql: String =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON l1.l_orderkey = o_orderkey
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin

  // --- A2 + skew: two-phase salted aggregation ---------------------------
  /** Hot-key-safe aggregation via [[graft.operators.Salting]]: shuffle 1
    * groups on (key, salt) so no reducer sees more than 1/16 of a hot key,
    * shuffle 2 collapses the partials. Values are summed in DECIMAL so the
    * two-phase result is bit-identical to the direct group-by the oracle
    * runs (decimal addition is associative; double addition is not). */
  def aggSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_returnflag", money($"l_quantity").as("qty"))
    graft.operators.Salting.saltedSumCount(li, Seq("l_returnflag"), "qty", 16)
      .select($"l_returnflag", $"sum_qty".cast(DoubleType).as("sum_qty"), $"cnt")
      .orderBy($"l_returnflag")
  }

  val aggSaltedSql: String =
    s"""SELECT l_returnflag,
       |  ${sumM("l_quantity")} AS sum_qty,
       |  COUNT(*) AS cnt
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --- J2b + skew: salted equi-join --------------------------------------
  /** Hot-key-safe fact⋈fact join via [[graft.operators.Salting.saltedJoin]]:
    * the left (fact) side salts each row into one of 8 sub-keys, the right
    * side replicates 8× — so a key whose rows would all land on one reducer
    * spreads over 8, at the cost of 8×|right| shuffle volume (the trade
    * for a right side too big to broadcast but much smaller than the
    * left; AQE's runtime skew split covers the SMJ case, this covers the
    * planned-ahead one). The oracle is the plain join — salting must be
    * result-invisible. Money in DECIMAL through the sum. */
  def joinSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", money($"l_extendedprice").as("price"))
    val o = Tables.orders(s, dir)
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    graft.operators.Salting.saltedJoin(li, o, "l_orderkey", 8)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"price").cast(DoubleType).as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  val joinSaltedSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // --- A4: approximate distinct with an exact error-bound check ----------
  /** HLL++ estimates aren't reproducible in another engine, so the oracle
    * contract is: exact distinct counts (comparable) plus `approx_ok`, an
    * integer that is 1 iff both estimates land within 3×rsd (3%) of exact.
    * The oracle emits the expected pass value — if Spark's estimator ever
    * degrades past the bound, the hash comparison fails. */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    // Shape history. r(<20): the HLL aggregation ran SEPARATELY from the
    // exact distincts (mixing them triggers the multi-distinct Expand
    // rewrite, which evaluates the partial HLL per distinct-VALUE group —
    // at rsd=0.01 two ~13 KB register arrays per distinct KEY, gigabytes
    // of aggregation state at scale). r20 (guide §2.3 "aggregate before
    // you shuffle"): the raw-stream HLL pass was the dominant cost of the
    // whole query (noop-isolated: 1.42 s of 2.10 s at sf0.1 — every
    // corpus row pays two 16 Ki-register sketch updates). An HLL register
    // array is duplicate-insensitive (each register is a MAX over hashed
    // values), so running the sketch over the per-group DISTINCT value
    // sets — which the exact side must materialize anyway — yields
    // byte-identical registers and therefore the identical estimate,
    // while updating the sketch once per distinct value instead of once
    // per row. Each branch is one map-side-combined hash dedup feeding
    // ONE aggregate that computes the exact count and the sketch from
    // the same deduped rows; the raw corpus is scanned twice but never
    // carries sketch state, and the dedup exchange carries pre-combined
    // (flag, key) pairs. Measured: 2.10 s → ~0.9 s at sf0.1; identical
    // hashes at every swept scale (the estimate is deterministic — same
    // value set → same registers).
    // NULL discipline: COUNT(DISTINCT c) ignores nulls, so null values are
    // filtered BEFORE the dedup (count(1) over the deduped rows would
    // otherwise count a (flag, NULL) group). No-op on this lake's
    // lineitem, pinned for generality.
    val parts = li.select($"l_returnflag", $"l_partkey")
      .where($"l_partkey".isNotNull).distinct()
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("exact_parts"),
        approx_count_distinct($"l_partkey", 0.01).as("ap"))
    val ords = li.select($"l_returnflag", $"l_orderkey")
      .where($"l_orderkey".isNotNull).distinct()
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("exact_orders"),
        approx_count_distinct($"l_orderkey", 0.01).as("ao"))
    parts.join(ords, "l_returnflag")
      .select($"l_returnflag", $"exact_parts", $"exact_orders",
        (abs($"ap" - $"exact_parts") * 100 <= $"exact_parts" * 3 &&
          abs($"ao" - $"exact_orders") * 100 <= $"exact_orders" * 3)
          .cast(LongType).as("approx_ok"))
      .orderBy($"l_returnflag")
  }

  val aggApproxDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  CAST(1 AS BIGINT) AS approx_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_agg_pricing_summary", pricingSummary, Some(pricingSummarySql),
      "A1/A2 grouped hash aggregate, TPC-H Q1 shape"),
    QueryDef("q_proj_filter_scalar", projFilterScalar, Some(projFilterScalarSql),
      "P3/P5/P7/P11/P12 projection, filter, string+math scalars"),
    QueryDef("q_map_lookup", mapLookup, Some(mapLookupSql),
      "P10 static dim map lookup (reference line-name dict)"),
    QueryDef("q_join_broadcast_dim", joinBroadcastDim, Some(joinBroadcastDimSql),
      "J1 broadcast hash join over small dims"),
    QueryDef("q_join_shuffle_fact", joinShuffleFact, Some(joinShuffleFactSql),
      "J2 shuffle join + A3 count distinct"),
    QueryDef("q_tpch_q3_shape", tpchQ3Shape, Some(tpchQ3ShapeSql),
      "multi-join Q3 shape: selective filters + top-k revenue"),
    QueryDef("q_tpch_q5_shape", tpchQ5Shape, Some(tpchQ5ShapeSql),
      "multi-join Q5 shape: 6-table join, broadcast/shuffle mix"),
    QueryDef("q_tpch_q7_shape", tpchQ7Shape, Some(tpchQ7ShapeSql),
      "multi-join Q7 shape: selective dims first, two-nation trade volume"),
    QueryDef("q_tpch_q10_shape", tpchQ10Shape, Some(tpchQ10ShapeSql),
      "multi-join Q10 shape: quarter-pruned returned-item revenue top-20"),
    QueryDef("q_tpch_q18_shape", tpchQ18Shape, Some(tpchQ18ShapeSql),
      "Q18 shape: big-aggregate HAVING subquery as one hash agg + left-semi join, DECIMAL quantity sums"),
    QueryDef("q_tpch_q21_shape", tpchQ21Shape, Some(tpchQ21ShapeSql),
      "Q21 shape: EXISTS + NOT EXISTS correlated self-joins decorrelated to semi/anti equi-joins with residual inequality"),
    QueryDef("q_join_left_outer", joinLeftOuter, Some(joinLeftOuterSql),
      "J3 left outer join"),
    QueryDef("q_join_full_outer", joinFullOuter, Some(joinFullOuterSql),
      "J3 full outer join"),
    QueryDef("q_join_semi", joinSemi, Some(joinSemiSql), "J4 left semi join"),
    QueryDef("q_join_anti", joinAnti, Some(joinAntiSql), "J4 left anti join"),
    QueryDef("q_agg_rollup", aggRollup, Some(aggRollupSql), "A5 rollup"),
    QueryDef("q_agg_pivot", aggPivot, Some(aggPivotSql), "A5 pivot matrix"),
    QueryDef("q_agg_grouping_sets", aggGroupingSets, Some(aggGroupingSetsSql),
      "A5 explicit grouping sets"),
    QueryDef("q_window_analytics", windowAnalytics, Some(windowAnalyticsSql),
      "W ntile/percent_rank/cume_dist/first_value/lead suite"),
    QueryDef("q_setops_bag", setOpsBag, Some(setOpsBagSql),
      "O5 exceptAll/intersectAll bag semantics"),
    QueryDef("q_agg_cube", aggCube, Some(aggCubeSql), "A5 cube"),
    QueryDef("q_string_suite", stringSuite, Some(stringSuiteSql),
      "P11 string scalar suite"),
    QueryDef("q_conditional_suite", conditionalSuite, Some(conditionalSuiteSql),
      "P conditional expressions: CASE/nullif/coalesce/greatest/least/IN"),
    QueryDef("q_agg_stats", aggStats, Some(aggStatsSql),
      "A6 exact percentile / stddev / corr"),
    QueryDef("q_agg_stats_approx", aggStatsApprox, Some(aggStatsApproxSql),
      "A6b sketch-tier approx_percentile with bounded-error oracle check"),
    QueryDef("q_agg_histogram", aggHistogram, Some(aggHistogramSql),
      "A6c fixed-bin value histogram per group, clamped integer-cents bins"),
    QueryDef("q_agg_collect", aggCollect, Some(aggCollectSql),
      "A7 collect_set + sorted join"),
    QueryDef("q_join_salted", joinSalted, Some(joinSaltedSql),
      "J2b salted hot-key equi-join (8-way spread), result-invisible"),
    QueryDef("q_agg_mode", aggMode, Some(aggModeSql),
      "A9 deterministic per-group mode via two-level count + ranked pick"),
    QueryDef("q_agg_first_last", aggFirstLast, Some(aggFirstLastSql),
      "A8 max_by/min_by latest-per-key"),
    QueryDef("q_window_topk", windowTopK, Some(windowTopKSql),
      "W4 top-k per group"),
    QueryDef("q_sort_topk_global", sortTopKGlobal, Some(sortTopKGlobalSql),
      "O1/O2 global sort + limit"),
    QueryDef("q_union_distinct", unionDistinct, Some(unionDistinctSql),
      "O3/O4 union all + distinct"),
    QueryDef("q_setops_intersect", setOpsIntersect, Some(setOpsIntersectSql),
      "O5 intersect"),
    QueryDef("q_setops_except", setOpsExcept, Some(setOpsExceptSql),
      "O5 except"),
    QueryDef("q_agg_approx_distinct", aggApproxDistinct, Some(aggApproxDistinctSql),
      "A4 approx_count_distinct (HLL++) with 3×rsd exact-bound check"),
    QueryDef("q_agg_salted", aggSalted, Some(aggSaltedSql),
      "A2+skew two-phase salted aggregation == direct group-by"))
}
