package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the generated test tables (see TESTDATA.md).
  *
  * Every declared query starts from a parquet scan of one of these tables
  * (SURVEY.md §2.1 S11). Loading is a plain parquet read so Catalyst keeps
  * full pushdown freedom (column pruning + predicate pushdown reach the
  * scan).
  *
  * What is memoized: each table's parquet SCHEMA, once per live session
  * ([[GraftSession.memo]]). A schema-less `spark.read.parquet` re-lists the
  * files and runs a one-task Spark job that reads the parquet footers
  * (`ParquetUtils.inferSchema`) on every call — ~70 ms and one job per
  * read on a 4-core local[4] session, against ~9 ms and no job with the
  * schema supplied, a fixed cost every query build used to pay. The key
  * holds the path, a fingerprint of the files ([[GraftSession.contentKey]])
  * and every `spark.sql.*parquet*` session conf, so a rewritten table or a
  * changed read conf (e.g. the `nanosAsLong` that [[events]] sets) infers
  * afresh.
  *
  * What is not: the DataFrame. Each call still builds a fresh relation —
  * fresh attribute ids and a fresh file listing — so self-joins of one
  * table, filter pushdown and physical plans are exactly those of a plain
  * `spark.read.parquet`. A scan with fewer splits than the session has
  * cores under costly per-row work is spread by the optimizer rule
  * [[graft.plans.PresortBarrier]], not here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val confs = spark.conf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("spark.sql.") && k.contains("parquet") }
      .sorted.mkString(",")
    val schema = GraftSession.memo(spark,
      s"parquet_schema|$path|${GraftSession.contentKey(dir, Seq(name))}|$confs") {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: TIMESTAMP(NANOS) (Spark 4 rejects it by default — read
    * nanos as long, truncate to µs) and naive timestamp[us] (Spark reads
    * it as TIMESTAMP_NTZ). Both normalize to a session-TZ TIMESTAMP; the
    * session pins UTC, so the NTZ cast preserves the stored micros
    * exactly — matching DuckDB's epoch_us() over the same file. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(s, d, "events"))
  }

  /** `events.ts` as a session-zone TIMESTAMP whichever encoding the
    * parquet carries: TIMESTAMP(NANOS), read as a long under
    * `nanosAsLong`, truncates to µs; naive timestamp[us] (TIMESTAMP_NTZ)
    * casts under the UTC session; TIMESTAMP passes through. The batch
    * and the streaming read both normalize here, so stream==batch pins
    * hold. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Cross-engine determinism helpers.
  *
  * The driver hash-compares our parquet output against a DuckDB run of the
  * oracle SQL. Floating-point SUM/AVG over doubles is order-dependent, and
  * Spark's partial aggregation order differs from DuckDB's — so any money
  * arithmetic goes through exact DECIMAL and is cast back to DOUBLE only as
  * the very last step (a single exact decimal value casts to the identical
  * IEEE double on both engines). Timestamps are emitted as epoch
  * microseconds (BIGINT) or formatted date strings so physical parquet
  * timestamp encodings can never disagree.
  */
object Ops {
  /** Exact 2-decimal money representation; test-table doubles are generated
    * with 2 decimals so the cast is unambiguous. */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Deterministic SUM over a money column: exact decimal sum → double. */
  def sumMoney(c: Column): Column = sum(money(c)).cast(DoubleType)

  /** Deterministic AVG: exact decimal sum cast to double, divided by count
    * (double/long division is IEEE-deterministic given identical inputs). */
  def avgMoney(c: Column): Column =
    sum(money(c)).cast(DoubleType) / count(c)

  /** Timestamp → epoch microseconds (DuckDB: epoch_us(ts)). */
  def epochUs(c: Column): Column = unix_micros(c)

  /** Timestamp → 'yyyy-MM-dd' string (DuckDB: strftime(ts, '%Y-%m-%d')). */
  def dayStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Whitespace tokenization (DuckDB: string_split(c, ' ')) — the one
    * Spark spelling every word-level query shares. */
  def words(c: Column): Column = split(c, " ")

  /** Whitespace word count as BIGINT (DuckDB: len(string_split(c, ' '))). */
  def wordCount(c: Column): Column = size(words(c)).cast(LongType)
}
