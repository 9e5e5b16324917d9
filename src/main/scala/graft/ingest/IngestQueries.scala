package graft.ingest

import graft.QueryDef
import graft.model.CtaSchemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Deterministic synthetic API-response fixtures (shape per the public CTA
  * Train Tracker API, mirrored by the reference's mock at
  * tests/helper_files/mock_train_location_response.py:1-31 — values here are
  * our own). One happy path with 2 trains, one single-train line, one
  * no-trains response and one no-route response to exercise the guards
  * (reference get_train_status.py:104-107, 124-133).
  */
object CtaFixtures {
  private def train(rn: String, dest: String, trDr: String, next: String,
      prdt: String, arrT: String, isApp: String, isDly: String,
      lat: String, lon: String, heading: String): String =
    s"""{"rn":"$rn","destSt":"30000","destNm":"$dest","trDr":"$trDr",""" +
      s""""nextStaId":"40000","nextStpId":"30001","nextStaNm":"$next",""" +
      s""""prdt":"$prdt","arrT":"$arrT","isApp":"$isApp","isDly":"$isDly",""" +
      s""""flags":null,"lat":"$lat","lon":"$lon","heading":"$heading"}"""

  private def response(routeName: String, trains: Seq[String]): String =
    s"""{"ctatt":{"tmst":"2025-07-01T08:30:00","errCd":"0","errNm":null,""" +
      s""""route":[{"@name":"$routeName","train":[${trains.mkString(",")}]}]}}"""

  val noRoute = """{"ctatt":{"tmst":"2025-07-01T08:30:00","errCd":"0","errNm":null}}"""

  /** (line, poll_ts, json) rows. */
  val feeds: Seq[(String, String, String)] = Seq(
    ("Red", "2025-07-01T08:30:00", response("red", Seq(
      train("417", "Howard", "1", "Granville",
        "2025-07-01T08:29:30", "2025-07-01T08:33:00", "0", "1",
        "41.9910", "-87.6560", "355"),
      train("802", "95th/Dan Ryan", "5", "Monroe",
        "2025-07-01T08:29:45", "2025-07-01T08:31:15", "1", "0",
        "41.8810", "-87.6280", "175")))),
    ("Blue", "2025-07-01T08:30:00", response("blue", Seq(
      train("127", "O'Hare", "1", "Logan Square",
        "2025-07-01T08:29:10", "2025-07-01T08:35:40", "0", "0",
        "41.9290", "-87.7080", "310")))),
    ("G", "2025-07-01T08:30:00", response("g", Seq.empty)),
    ("Org", "2025-07-01T08:30:00", noRoute))

  def feedDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    feeds.toDF("line", "poll_ts", "json")
  }

  /** The same fixture rows as a SQL VALUES list (single quotes are absent
    * from the JSON by construction — apostrophes in station names are
    * escaped for SQL). */
  def valuesSql: String = feeds.map { case (line, ts, js) =>
    s"('$line', '$ts', '${js.replace("'", "''")}')"
  }.mkString(",\n  ")
}

/** Declared queries for the ingest pipeline (SURVEY.md §2.1/§2.2: S1/S5/S7,
  * P1-P9, O4). The oracle rebuilds the identical fixture inline with DuckDB's
  * JSON functions, so the driver's hash compare covers the full
  * parse→explode→project→cast path.
  */
object IngestQueries {
  import graft.Ops._

  private def normalized(s: SparkSession): DataFrame =
    CtaIngest.normalize(CtaFixtures.feedDf(s))

  def ingestNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    normalized(s).select(
      $"train_id",
      date_format($"service_date", "yyyy-MM-dd").as("service_date"),
      $"line", $"run", $"direction",
      epochUs($"observed_at").as("observed_us"),
      epochUs($"prediction_generated_at").as("prediction_us"),
      $"destination_station", $"next_station",
      epochUs($"next_station_arrival_at").as("arrival_us"),
      $"is_approaching_station", $"is_train_delayed",
      $"lat", $"lon", $"heading")
      .orderBy($"train_id")
  }

  private val oracleTrains: String =
    s"""WITH raw(line, poll_ts, js) AS (VALUES
       |  ${CtaFixtures.valuesSql}),
       |routes AS (
       |  SELECT line, poll_ts,
       |    unnest(from_json(json_extract(js, '$$.ctatt.route'), '["json"]')) AS r
       |  FROM raw
       |  WHERE COALESCE(json_array_length(js, '$$.ctatt.route'), 0) > 0),
       |trains AS (
       |  SELECT line, poll_ts,
       |    unnest(from_json(json_extract(r, '$$.train'), '["json"]')) AS t
       |  FROM routes
       |  WHERE COALESCE(json_array_length(r, '$$.train'), 0) > 0)""".stripMargin

  val ingestNormalizeSql: String =
    s"""$oracleTrains
       |SELECT
       |  strftime(CAST(poll_ts AS TIMESTAMP), '%Y-%m-%d') || '#' || line || '#'
       |    || json_extract_string(t, '$$.rn') || '#'
       |    || json_extract_string(t, '$$.trDr') AS train_id,
       |  strftime(CAST(poll_ts AS TIMESTAMP), '%Y-%m-%d') AS service_date,
       |  line,
       |  json_extract_string(t, '$$.rn') AS run,
       |  json_extract_string(t, '$$.trDr') AS direction,
       |  epoch_us(CAST(poll_ts AS TIMESTAMP)) AS observed_us,
       |  epoch_us(CAST(json_extract_string(t, '$$.prdt') AS TIMESTAMP)) AS prediction_us,
       |  json_extract_string(t, '$$.destNm') AS destination_station,
       |  json_extract_string(t, '$$.nextStaNm') AS next_station,
       |  epoch_us(CAST(json_extract_string(t, '$$.arrT') AS TIMESTAMP)) AS arrival_us,
       |  json_extract_string(t, '$$.isApp') = '1' AS is_approaching_station,
       |  json_extract_string(t, '$$.isDly') = '1' AS is_train_delayed,
       |  CAST(json_extract_string(t, '$$.lat') AS DOUBLE) AS lat,
       |  CAST(json_extract_string(t, '$$.lon') AS DOUBLE) AS lon,
       |  CAST(json_extract_string(t, '$$.heading') AS DOUBLE) AS heading
       |FROM trains ORDER BY train_id""".stripMargin

  /** O4 — at-least-once duplicate removal: union the Red feed a second time
    * (simulating a Firehose re-drive that re-landed a whole batch,
    * reference get_train_status.py:60-76), dedup on the natural key. */
  def ingestDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val redAgain = CtaFixtures.feedDf(s).filter($"line" === "Red")
    val dup = CtaIngest.normalize(CtaFixtures.feedDf(s))
      .unionByName(CtaIngest.normalize(redAgain))
    dup.dropDuplicates(Seq("train_id", "observed_at"))
      .groupBy($"line")
      .agg(count(lit(1)).as("n_obs"), sum($"is_train_delayed".cast("long")).as("n_delayed"))
      .orderBy($"line")
  }

  val ingestDedupSql: String =
    s"""$oracleTrains,
       |normalized AS (
       |  SELECT
       |    strftime(CAST(poll_ts AS TIMESTAMP), '%Y-%m-%d') || '#' || line || '#'
       |      || json_extract_string(t, '$$.rn') || '#'
       |      || json_extract_string(t, '$$.trDr') AS train_id,
       |    line, poll_ts,
       |    json_extract_string(t, '$$.isDly') = '1' AS is_train_delayed
       |  FROM trains),
       |dup AS (
       |  SELECT * FROM normalized
       |  UNION ALL
       |  SELECT * FROM normalized WHERE line = 'Red'),
       |deduped AS (
       |  SELECT DISTINCT train_id, line, poll_ts, is_train_delayed FROM dup)
       |SELECT line, COUNT(*) AS n_obs,
       |  CAST(SUM(CAST(is_train_delayed AS BIGINT)) AS BIGINT) AS n_delayed
       |FROM deduped GROUP BY line ORDER BY line""".stripMargin

  /** J1 — broadcast join of observations to the 7-line static dim
    * (reference write_train_lines.py:25-33 → S8). */
  def ingestLineDim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = graft.model.CtaSchemas.trainLines.toDF("abbrev", "line_name")
    normalized(s)
      .join(broadcast(dim), $"line" === $"abbrev", "left")
      .groupBy($"line", $"line_name")
      .agg(count(lit(1)).as("n_obs"),
        sum($"is_approaching_station".cast("long")).as("n_approaching"))
      .orderBy($"line")
  }

  val ingestLineDimSql: String = {
    val dimValues = graft.model.CtaSchemas.trainLines
      .map { case (a, n) => s"('$a', '$n')" }.mkString(", ")
    s"""$oracleTrains,
       |normalized AS (
       |  SELECT line,
       |    json_extract_string(t, '$$.isApp') = '1' AS is_approaching
       |  FROM trains),
       |dim(abbrev, line_name) AS (VALUES $dimValues)
       |SELECT line, line_name, COUNT(*) AS n_obs,
       |  CAST(SUM(CAST(is_approaching AS BIGINT)) AS BIGINT) AS n_approaching
       |FROM normalized LEFT JOIN dim ON line = abbrev
       |GROUP BY line, line_name ORDER BY line""".stripMargin
  }

  /** EP2+EP3 — the reference's complete daily pipeline composed under ONE
    * hash gate: poll fixtures (with a Firehose re-drive duplicating the Red
    * batch, reference get_train_status.py:60-76) → [[CtaIngest.normalize]]
    * (EP2 parse→explode→project, get_train_status.py:89-138) →
    * [[CtaIngest.toRawRecords]] S5 NDJSON encode → REAL file landing →
    * [[CtaIngest.compact]] (EP3 dedup + load_date-partitioned parquet,
    * reference bucket_raw_data.py:82-117) → read the landed lake back →
    * per-(load_date, line) census. Nothing is simulated: the census rows
    * are whatever compact actually wrote through the filesystem, so the
    * oracle hash pins the whole ingest→encode→land→dedup→partition chain.
    * At 100 TB each stage is the narrow / single-exchange plan its own
    * query tier already certifies (ingest is shuffle-free, compact's dedup
    * is one hash exchange, the census one more). */
  def pipelineDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the fixture lands once per session (deleted at JVM exit) and is
    // read back with the lake's known schema: raw record + load_date
    val tmp = graft.GraftSession.landOnce(s, "pipeline_daily", "graft-daily") { t =>
      val feeds = CtaFixtures.feedDf(s)
      val redriven = feeds.unionByName(feeds.filter($"line" === "Red"))
      CtaIngest.toRawRecords(CtaIngest.normalize(redriven))
        .write.mode("overwrite").json(s"$t/raw")
      CtaIngest.compact(s, s"$t/raw", s"$t/lake")
    }
    s.read.schema(CtaSchemas.rawRecord.add("load_date", DateType)).parquet(s"$tmp/lake")
      .withColumn("line", split($"train_id", "#")(1))
      .groupBy(date_format($"load_date", "yyyy-MM-dd").as("load_date"), $"line")
      .agg(count(lit(1)).as("n_obs"),
        countDistinct($"train_id").as("n_trains"),
        sum(($"is_train_delayed" === "1").cast("long")).as("n_delayed"),
        sum(($"is_approaching_station" === "1").cast("long")).as("n_approaching"))
      .orderBy($"load_date", $"line")
  }

  /** The oracle replays the same chain on the inline fixture: normalize to
    * the string raw-record fields, re-drive Red, dedup on the compact key
    * (train_id, current_timestamp — full-row DISTINCT is equivalent because
    * re-driven records are byte-identical copies), roll up by the derived
    * load_date. */
  val pipelineDailySql: String =
    s"""$oracleTrains,
       |normalized AS (
       |  SELECT
       |    strftime(CAST(poll_ts AS TIMESTAMP), '%Y-%m-%d') || '#' || line || '#'
       |      || json_extract_string(t, '$$.rn') || '#'
       |      || json_extract_string(t, '$$.trDr') AS train_id,
       |    line,
       |    strftime(CAST(poll_ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS current_ts,
       |    json_extract_string(t, '$$.isApp') AS is_app,
       |    json_extract_string(t, '$$.isDly') AS is_dly
       |  FROM trains),
       |redriven AS (
       |  SELECT * FROM normalized
       |  UNION ALL
       |  SELECT * FROM normalized WHERE line = 'Red'),
       |deduped AS (
       |  SELECT DISTINCT train_id, line, current_ts, is_app, is_dly FROM redriven)
       |SELECT
       |  strftime(CAST(current_ts AS TIMESTAMP), '%Y-%m-%d') AS load_date,
       |  line, COUNT(*) AS n_obs,
       |  COUNT(DISTINCT train_id) AS n_trains,
       |  CAST(SUM(CAST(is_dly = '1' AS BIGINT)) AS BIGINT) AS n_delayed,
       |  CAST(SUM(CAST(is_app = '1' AS BIGINT)) AS BIGINT) AS n_approaching
       |FROM deduped GROUP BY load_date, line ORDER BY load_date, line""".stripMargin

  /** P12 — geo math scalar via the custom codegen'd Haversine expression
    * (graft.functions.Haversine): distance of each observed train from the
    * Loop (41.8781, -87.6298), meter-rounded so libm ulp differences between
    * JVM and DuckDB trig can't flip the hash. */
  def ingestGeo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.GraftExtensions.registerOn(s)
    normalized(s).select(
      $"train_id",
      round(graft.functions.Haversine.haversineKm(
        $"lat", $"lon", lit(41.8781), lit(-87.6298)), 3).as("dist_km"),
      round(expr("haversine_km(lat, lon, 41.8781, -87.6298)"), 3)
        .as("dist_km_sql"))
      .orderBy($"train_id")
  }

  val ingestGeoSql: String = {
    val hav =
      """2 * 6371.0088 * asin(sqrt(
        |    pow(sin(radians(CAST(json_extract_string(t, '$.lat') AS DOUBLE) - 41.8781) / 2), 2)
        |    + cos(radians(41.8781))
        |    * cos(radians(CAST(json_extract_string(t, '$.lat') AS DOUBLE)))
        |    * pow(sin(radians(CAST(json_extract_string(t, '$.lon') AS DOUBLE) - (-87.6298)) / 2), 2)))""".stripMargin
    s"""$oracleTrains
       |SELECT
       |  strftime(CAST(poll_ts AS TIMESTAMP), '%Y-%m-%d') || '#' || line || '#'
       |    || json_extract_string(t, '$$.rn') || '#'
       |    || json_extract_string(t, '$$.trDr') AS train_id,
       |  ROUND($hav, 3) AS dist_km,
       |  ROUND($hav, 3) AS dist_km_sql
       |FROM trains ORDER BY train_id""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_ingest_normalize", ingestNormalize, Some(ingestNormalizeSql),
      "S1/S7/P1-P7 full parse→explode→project→cast ingest path"),
    QueryDef("q_ingest_geo", ingestGeo, Some(ingestGeoSql),
      "P12 geo distance via custom codegen Haversine expression"),
    QueryDef("q_ingest_dedup", ingestDedup, Some(ingestDedupSql),
      "O4 at-least-once duplicate removal on the natural key"),
    QueryDef("q_ingest_line_dim", ingestLineDim, Some(ingestLineDimSql),
      "J1/S8 broadcast join to the static line dimension"),
    QueryDef("q_pipeline_daily", pipelineDaily, Some(pipelineDailySql),
      "EP2+EP3 composed daily pipeline: normalize → encode → land → compact → census"))
}
