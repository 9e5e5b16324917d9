package graft.ingest

import graft.model.CtaSchemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed form of the §1.2 observation record — the `Dataset[T]` core for
  * callers who want compile-time field checks (SURVEY.md §1.4). */
final case class TrainObservation(
    train_id: String,
    service_date: java.sql.Date,
    line: String,
    run: String,
    direction: String,
    observed_at: java.sql.Timestamp,
    prediction_generated_at: java.sql.Timestamp,
    destination_station: String,
    next_station: String,
    next_station_arrival_at: java.sql.Timestamp,
    is_approaching_station: Boolean,
    is_train_delayed: Boolean,
    lat: Option[Double],
    lon: Option[Double],
    heading: Option[Double],
    load_date: java.sql.Date)

/** The reference's EP2 ingest pipeline (get_train_status.lambda_handler,
  * reference get_train_status.py:89-138) as one narrow Spark job:
  *
  *   from_json → guard(route) → explode(route) → guard(train) →
  *   explode(train) → project/cast/concat_ws
  *
  * Logical plan: Relation → Filter → Generate → Filter → Generate → Project.
  * No shuffle anywhere — at 100 TB this pipelines map-side only; parallelism
  * is file-split-level, exactly the per-invocation parallelism the reference
  * gets from concurrent Lambdas (SURVEY.md §3).
  */
object CtaIngest {

  /** Parse + flatten one API response document per input row.
    *
    * Input columns: `line` (route abbrev the poll was issued for), `poll_ts`
    * (Chicago-local wall-clock of the poll, ISO-8601 string — the reference
    * computes this at get_train_status.py:91-94), `json` (raw response body).
    *
    * Guards mirror the reference: responses without `ctatt.route` or with an
    * empty `train` array produce no rows (get_train_status.py:104-107);
    * unlike the reference (which reads only `route[0]`,
    * get_train_status.py:106) we flatten every route element.
    */
  def parse(raw: DataFrame): DataFrame = parse(raw, strict = false)

  /** With `strict = true` a response without `ctatt.route` FAILS the job —
    * the reference raises KeyError there (get_train_status.py:130-133),
    * treating it as a hard contract violation rather than empty data; an
    * empty `train` array stays a soft no-op in both modes
    * (get_train_status.py:105-107 returns 204). */
  def parse(raw: DataFrame, strict: Boolean): DataFrame = {
    val doc = from_json(col("json"), CtaSchemas.apiResponse)
    val routeGuard =
      if (strict)
        raw.select(col("line"), col("poll_ts"), doc.as("doc"))
          .withColumn("__route_ok", assert_true(
            col("doc.ctatt.route").isNotNull && size(col("doc.ctatt.route")) > 0,
            concat(lit("no ctatt.route in response for line "), col("line"))))
          .filter(col("__route_ok").isNull)
          .drop("__route_ok")
      else
        raw.select(col("line"), col("poll_ts"), doc.as("doc"))
          .filter(col("doc.ctatt.route").isNotNull && size(col("doc.ctatt.route")) > 0)
    routeGuard
      .select(col("line"), col("poll_ts"), explode(col("doc.ctatt.route")).as("r"))
      .filter(col("r.train").isNotNull && size(col("r.train")) > 0)
      .select(col("line"), col("poll_ts"), explode(col("r.train")).as("t"))
  }

  /** Project the flattened train struct into the typed observation schema
    * (reference record build: get_train_status.py:111-122; golden copy
    * tests/unit/test_get_train_status.py:342-353). Casts happen once, here,
    * at the ingest edge (SURVEY.md §7.4): '1'/'0' strings → boolean, ISO
    * strings → timestamp, numeric strings → double.
    */
  def normalize(raw: DataFrame): DataFrame = {
    val pollTs = to_timestamp(col("poll_ts"))
    val pollDate = to_date(pollTs)
    parse(raw).select(
      concat_ws("#",
        date_format(pollTs, "yyyy-MM-dd"), col("line"), col("t.rn"), col("t.trDr"))
        .as("train_id"),
      pollDate.as("service_date"),
      col("line"),
      col("t.rn").as("run"),
      col("t.trDr").as("direction"),
      pollTs.as("observed_at"),
      to_timestamp(col("t.prdt")).as("prediction_generated_at"),
      col("t.destNm").as("destination_station"),
      col("t.nextStaNm").as("next_station"),
      to_timestamp(col("t.arrT")).as("next_station_arrival_at"),
      (col("t.isApp") === "1").as("is_approaching_station"),
      (col("t.isDly") === "1").as("is_train_delayed"),
      col("t.lat").cast(DoubleType).as("lat"),
      col("t.lon").cast(DoubleType).as("lon"),
      col("t.heading").cast(DoubleType).as("heading"),
      pollDate.as("load_date"))
  }

  /** Typed view of [[normalize]]. */
  def normalizedDs(raw: DataFrame): org.apache.spark.sql.Dataset[TrainObservation] = {
    val out = normalize(raw)
    import out.sparkSession.implicits._
    out.as[TrainObservation]
  }

  /** S5 — encode [[normalize]]d observations back into the reference's
    * stored raw-record shape (the Firehose NDJSON line,
    * get_train_status.py:111-122 record build / CtaSchemas.rawRecord):
    * every field a string, timestamps ISO-8601 seconds, booleans '1'/'0'.
    * This is the write half of the EP2→EP3 handoff — [[compact]] reads
    * exactly this shape back. */
  def toRawRecords(normalized: DataFrame): DataFrame = {
    def iso(c: String) = date_format(col(c), "yyyy-MM-dd'T'HH:mm:ss")
    def bit(c: String) = when(col(c), "1").otherwise("0")
    normalized.select(
      col("train_id"),
      iso("observed_at").as("current_timestamp"),
      iso("prediction_generated_at").as("prediction_generated_timestamp"),
      col("destination_station"), col("next_station"),
      iso("next_station_arrival_at").as("next_station_arrival_time"),
      bit("is_approaching_station").as("is_approaching_station"),
      bit("is_train_delayed").as("is_train_delayed"),
      col("lat").cast(StringType), col("lon").cast(StringType),
      col("heading").cast(StringType))
  }

  /** EP3 — daily compaction (reference bucket_raw_data.py:82-117): read a
    * raw NDJSON day prefix, dedup exact at-least-once duplicates
    * (SURVEY.md O4 — the Firehose re-drive at get_train_status.py:60-76 can
    * legitimately duplicate records), land Hive-partitioned Parquet.
    *
    * Unlike the reference's whole-day-in-RAM list (bucket_raw_data.py:95-103,
    * its key scaling flaw) this streams through executors; file count is
    * bounded by maxRecordsPerFile, not forced to 1.
    */
  def compact(spark: SparkSession, rawDayPath: String, outPath: String,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    spark.read.schema(CtaSchemas.rawRecord).json(rawDayPath)
      .dropDuplicates(Seq("train_id", "current_timestamp"))
      .withColumn("load_date", to_date(col("current_timestamp").cast(TimestampType)))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("load_date")
      .parquet(outPath)
  }

  /** Pure sizing rule behind [[compactSized]]: records per output file so
    * that `targetFileBytes` parquet lands per file, estimated from the
    * observed raw input (NDJSON bytes/record) scaled by the
    * parquet-vs-NDJSON compression ratio. Never below 1 (a record wider
    * than the target still lands). Split out so the spec can pin the
    * arithmetic exactly, independent of filesystem timing. */
  def targetRecordsPerFile(inputBytes: Long, nRecords: Long,
      targetFileBytes: Long, parquetToRawRatio: Double = 0.25): Long = {
    require(nRecords > 0 && inputBytes > 0 && targetFileBytes > 0)
    val bytesPerRec =
      math.max(1.0, inputBytes.toDouble / nRecords * parquetToRawRatio)
    math.max(1L, (targetFileBytes / bytesPerRec).toLong)
  }

  /** EP3 at the SURVEY §7.4 100× shape — FILE-SIZE-targeted compaction.
    * The fixture-parity [[compact]] bounds output by RECORD count; a real
    * lake wants ~128 MB parquet files (HDFS-block/scan-amortization
    * sweet spot) regardless of record width, so this derives
    * `maxRecordsPerFile` from the day's own observed bytes/record
    * ([[targetRecordsPerFile]]) before the single landing pass — no
    * second write, no post-hoc rewrite. Returns the derived cap.
    *
    * The bytes/record ratio keeps numerator and denominator on the SAME
    * population: raw directory bytes over the RAW (pre-dedup) record
    * count. (The r12 form divided pre-dedup bytes by the post-dedup
    * count, so a heavily duplicated day inflated bytes/record by the dup
    * ratio and landed files well under the target.)
    *
    * Scale: the estimate reads only filesystem metadata (content summary)
    * plus one shuffle-free count of the raw day — both
    * O(metadata)/O(scan); the write itself is [[compact]] with the derived
    * cap. IngestSpec pins the derived cap's arithmetic and that the landed
    * file count per partition is ceil(rows/cap). */
  def compactSized(spark: SparkSession, rawDayPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      parquetToRawRatio: Double = 0.25): Long = {
    val dir = new org.apache.hadoop.fs.Path(rawDayPath)
    val inputBytes = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(dir).getLength
    val nRawRecords = spark.read.schema(CtaSchemas.rawRecord).json(rawDayPath).count()
    val cap = targetRecordsPerFile(inputBytes, math.max(1L, nRawRecords),
      targetFileBytes, parquetToRawRatio)
    compact(spark, rawDayPath, outPath, cap)
    cap
  }

  /** Retention delete (reference S3 lifecycle, main.tf:166-189 → S12):
    * partition-predicate delete — list partitions older than `keepDays`
    * relative to `asOf` and drop their directories. */
  def retentionDelete(spark: SparkSession, lakePath: String,
      asOf: java.time.LocalDate, keepDays: Int = 3): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(lakePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = asOf.minusDays(keepDays.toLong)
    if (!fs.exists(new org.apache.hadoop.fs.Path(lakePath))) Seq.empty
    else fs.listStatus(new org.apache.hadoop.fs.Path(lakePath)).toSeq
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("load_date=") &&
          java.time.LocalDate.parse(p.getName.stripPrefix("load_date=") )
            .isBefore(cutoff)
      }
      .map { p => fs.delete(p, true); p.toString }
  }
}
