package graft.analytics

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-profiling operator: per-column row/null/distinct counts and
  * min/max — the data-quality sweep a training pipeline runs before
  * ingesting a new 100 TB source. Two passes, both scale-shaped:
  *
  *  1. counts/min/max for ALL columns in one narrow aggregation (regular
  *     aggregates only — no distinct, so no Expand rewrite; one scan).
  *  2. exact per-column distincts via melt → hash dedup: explode each row
  *     into (col_name, canonical value) pairs, deduplicate with a
  *     map-side-combined hash aggregate, count per column. This is what
  *     COUNT(DISTINCT c1), ..., COUNT(DISTINCT cN) in one aggregate
  *     compiles to anyway (the Expand rewrite), but as narrow 2-column
  *     rows through HASH aggregates — not 27-column expanded rows dragged
  *     through two SortAggregates with every min/max partial along for
  *     the ride (measured 25 s → ~2 s at sf0.1).
  *
  * The melt canonicalizes values to strings, which only needs to be
  * injective WITHIN a column for the distinct count to be exact — native
  * casts are (the oracle never sees these strings).
  *
  * For the oracle, doubles are stringified through DECIMAL(18,2) so both
  * engines format identically.
  */
object Profiler {

  private def minMaxStr(c: String, dt: DataType): (Column, Column) = dt match {
    case DoubleType =>
      (min(col(c).cast(DecimalType(18, 2))).cast(StringType),
        max(col(c).cast(DecimalType(18, 2))).cast(StringType))
    case _: TimestampType | _: TimestampNTZType =>
      (unix_micros(min(col(c)).cast(TimestampType)).cast(StringType),
        unix_micros(max(col(c)).cast(TimestampType)).cast(StringType))
    case _ =>
      (min(col(c)).cast(StringType), max(col(c)).cast(StringType))
  }

  /** Profile all non-array columns of a table (see object doc for the
    * two-pass shape). */
  def profile(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.filterNot(_.dataType.isInstanceOf[ArrayType])
    // r20 optimization note: moving the string min/max out of pass 1
    // (whose string buffers demote the wide aggregate to a zero-key
    // SortAggregate — row-at-a-time, no codegen) onto the pass-2 value
    // dictionary was implemented and A/B-measured at sf0.1/local[32]
    // (noop sink): pass 1 alone improved 1.71 s → 1.10 s, but the full
    // query LOST ~0.4 s (2.5 → 2.9 s) — the dictionary-grain min/max
    // needs a second dict consumer (its final dedup aggregate runs once
    // per consumer even with the dedup exchange AQE-reused) plus two
    // more stages and a third broadcast join. The dictionary is O(N) for
    // unique-key columns, so the trade does not improve at scale either.
    // Kept: strings ride pass 1 (no sort happens — zero grouping keys).
    // Getting the two dict consumers onto ONE exchange at all requires
    // blocking PushDownPredicates + RemoveRedundantAggregates (both
    // legally split the consumers onto different exchanges, re-melting
    // the corpus) — see OPTIMIZATION_r20.md for the full measurement.
    // Splitting the string min/max into their own scan was measured and
    // rejected too: a wash at sf0.1, slower at sf1 (OPTIMIZATION_r21.md §6).
    // pass 1: narrow regular aggregates, single scan, no Expand.
    val aggs = cols.flatMap { f =>
      val (mn, mx) = minMaxStr(f.name, f.dataType)
      Seq(
        count(col(f.name)).as(s"${f.name}__n"),
        count(lit(1)).minus(count(col(f.name))).as(s"${f.name}__nulls"),
        mn.as(s"${f.name}__min"), mx.as(s"${f.name}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // pass 2: melt → hash-dedup → per-column distinct counts. The melt
    // keeps each value in its NATIVE type family (long / double /
    // string) instead of rendering everything to strings — the distinct
    // count only needs injectivity WITHIN a column, which the identity
    // mapping gives for free, and skipping ~N·|numeric cols| string
    // allocations cuts the melt's dominant cost.
    val nullL = lit(null).cast(LongType)
    val nullD = lit(null).cast(DoubleType)
    val nullS = lit(null).cast(StringType)
    // Round-12 head-to-head under the driver protocol (local[32], sf0.1,
    // min-of-2): native-typed melt 2.64 s [3.51, 2.64] vs the round-10
    // stringified melt 4.14 s [5.07, 4.14] — the typed slots win by 1.6×
    // on equal footing (the r11 driver row that measured the opposite was
    // box contention; the same binary re-measured at its r10 time in
    // isolation). Kept: the 4-column (col_name, vl, vd, vs) group key.
    val kvs = cols.map { f =>
      val (vl, vd, vs) = f.dataType match {
        case DoubleType => (nullL, col(f.name), nullS)
        case FloatType => (nullL, col(f.name).cast(DoubleType), nullS)
        case _: TimestampType | _: TimestampNTZType =>
          (unix_micros(col(f.name).cast(TimestampType)), nullD, nullS)
        case _: StringType => (nullL, nullD, col(f.name))
        case _: NumericType | _: BooleanType =>
          (col(f.name).cast(LongType), nullD, nullS)
        case _ => (nullL, nullD, col(f.name).cast(StringType))
      }
      struct(lit(f.name).as("c"), vl.as("vl"), vd.as("vd"), vs.as("vs"))
    }
    val distincts = df
      .select(explode(array(kvs: _*)).as("kv"))
      .select(col("kv.c").as("col_name"),
        col("kv.vl").as("vl"), col("kv.vd").as("vd"), col("kv.vs").as("vs"))
      // COUNT(DISTINCT) ignores nulls: a null value has all three
      // typed slots null
      .where(col("vl").isNotNull || col("vd").isNotNull || col("vs").isNotNull)
      .groupBy(col("col_name"), col("vl"), col("vd"), col("vs"))
      .agg(first(lit(1)))
      .groupBy(col("col_name")).agg(count(lit(1)).as("n_distinct"))
    val entries = cols.map { f =>
      struct(lit(f.name).as("col_name"),
        col(s"${f.name}__n").as("n"),
        col(s"${f.name}__nulls").as("n_nulls"),
        col(s"${f.name}__min").as("min_str"),
        col(s"${f.name}__max").as("max_str"))
    }
    wide.select(explode(array(entries: _*)).as("p"))
      .select(col("p.*"))
      .join(broadcast(distincts), Seq("col_name"), "left")
      .select(col("col_name"), col("n"), col("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_str"), col("max_str"))
      .orderBy(col("col_name"))
  }

  def profileLineitem(s: SparkSession, dir: String): DataFrame =
    profile(Tables.lineitem(s, dir))

  val profileLineitemSql: String = {
    val cols = Seq(
      "l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
      "l_linenumber" -> "int", "l_quantity" -> "dbl",
      "l_extendedprice" -> "dbl", "l_discount" -> "dbl", "l_tax" -> "dbl",
      "l_returnflag" -> "str", "l_linestatus" -> "str",
      "l_shipdate" -> "ts")
    cols.map { case (c, kind) =>
      val (mn, mx) = kind match {
        case "dbl" =>
          (s"CAST(CAST(MIN(CAST($c AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR)",
            s"CAST(CAST(MAX(CAST($c AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR)")
        case "ts" =>
          (s"CAST(epoch_us(MIN($c)) AS VARCHAR)", s"CAST(epoch_us(MAX($c)) AS VARCHAR)")
        case _ => (s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)")
      }
      s"""SELECT '$c' AS col_name, COUNT($c) AS n,
         |  COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  $mn AS min_str, $mx AS max_str FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Join-key skew census over the J2 fact join key — the pre-flight a
    * pipeline runs BEFORE deciding whether a join needs the salting path
    * ([[graft.operators.Salting]]) or AQE's skew handling: total rows,
    * key-dictionary size, the heaviest key's row count and corpus share
    * (integer ppm), and how many keys run hotter than 2× the mean
    * (compared by exact cross-multiplication, no float division).
    *
    * Scale: one hash aggregate builds the per-key dictionary (partial
    * aggregation absorbs the skew this query measures); the census is a
    * single-row aggregate over the dictionary with the totals attached as
    * a single-row broadcast. */
  def skewCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perKey = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("c"))
    val totals = perKey.agg(sum($"c").as("n_rows"),
      count(lit(1)).as("n_keys"), max($"c").as("mx"))
    perKey.crossJoin(broadcast(totals))
      .groupBy($"n_rows", $"n_keys", $"mx")
      .agg(sum(when($"c" * $"n_keys" > $"n_rows" * 2, 1L).otherwise(0L))
        .as("n_hot_keys"))
      .select($"n_rows", $"n_keys", $"mx".as("max_key_rows"),
        expr("mx * 1000000 div n_rows").as("max_share_ppm"),
        $"n_hot_keys")
  }

  val skewCensusSql: String =
    """WITH per_key AS (
      |  SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
      |    CAST(MAX(c) AS BIGINT) AS mx
      |  FROM per_key)
      |SELECT n_rows, n_keys, mx AS max_key_rows,
      |  CAST(mx * 1000000 // n_rows AS BIGINT) AS max_share_ppm,
      |  CAST(SUM(CASE WHEN c * n_keys > n_rows * 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_hot_keys
      |FROM per_key, tot
      |GROUP BY 1, 2, 3, 4""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_profile_lineitem", profileLineitem, Some(profileLineitemSql),
      "single-pass per-column data-quality profile"),
    QueryDef("q_skew_census", skewCensus, Some(skewCensusSql),
      "join-key skew census: heaviest-key share + hot-key count, the salting pre-flight"))
}
