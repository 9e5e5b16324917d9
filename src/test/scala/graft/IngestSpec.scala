package graft

import graft.ingest.{CtaFixtures, CtaIngest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Golden-record tests for the ingest pipeline, mirroring the reference's
  * happy-path + guard coverage (tests/unit/test_get_train_status.py:342-429).
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q_pipeline_daily lands its fixture lake once per session") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def landings: Int =
      Option(tmp.listFiles()).toSeq.flatten.count(_.getName.startsWith("graft-daily"))
    val before = landings
    val q = SparkEntry.queries("q_pipeline_daily")
    val first = q(spark, TestSpark.sf0001).collect().toSeq
    val second = q(spark, TestSpark.sf0001).collect().toSeq
    assert(first.nonEmpty && first === second)
    assert(landings - before <= 1,
      s"${landings - before} graft-daily landings for two builds in one session")
  }

  test("normalize produces the golden record for the happy path") {
    val out = CtaIngest.normalize(CtaFixtures.feedDf(spark))
      .orderBy($"train_id").collect()
    assert(out.length === 3) // 2 Red + 1 Blue; G has no trains, Org no route
    val first = out.head
    assert(first.getAs[String]("train_id") === "2025-07-01#Blue#127#1")
    assert(first.getAs[String]("line") === "Blue")
    assert(first.getAs[String]("run") === "127")
    assert(first.getAs[String]("direction") === "1")
    assert(first.getAs[String]("destination_station") === "O'Hare")
    assert(first.getAs[String]("next_station") === "Logan Square")
    assert(first.getAs[Boolean]("is_approaching_station") === false)
    assert(first.getAs[Boolean]("is_train_delayed") === false)
    assert(first.getAs[Double]("lat") === 41.9290)
    assert(first.getAs[java.sql.Timestamp]("observed_at").toInstant.toString
      === "2025-07-01T08:30:00Z")
    val red = out(1)
    assert(red.getAs[String]("train_id") === "2025-07-01#Red#417#1")
    assert(red.getAs[Boolean]("is_train_delayed") === true)
    assert(red.getAs[Double]("heading") === 355.0)
  }

  test("guards: no-route and no-trains responses contribute zero rows") {
    val guarded = CtaFixtures.feedDf(spark).filter($"line".isin("G", "Org"))
    assert(CtaIngest.normalize(guarded).count() === 0)
  }

  test("typed Dataset[TrainObservation] view round-trips the golden record") {
    val ds = CtaIngest.normalizedDs(CtaFixtures.feedDf(spark))
    val obs = ds.collect().sortBy(_.train_id)
    assert(obs.length === 3)
    assert(obs.head.train_id === "2025-07-01#Blue#127#1")
    assert(obs.head.lat === Some(41.929))
    assert(obs(1).is_train_delayed === true)
  }

  test("strict parse raises on missing route (reference KeyError contract)") {
    val noRoute = CtaFixtures.feedDf(spark).filter($"line" === "Org")
    val e = intercept[Exception] {
      CtaIngest.parse(noRoute, strict = true).count()
    }
    assert(e.getMessage != null)
    // empty train array stays a soft no-op even in strict mode (204 path)
    val noTrains = CtaFixtures.feedDf(spark).filter($"line" === "G")
    assert(CtaIngest.parse(noTrains, strict = true).count() === 0)
  }

  test("fan-out dimension has exactly the 7 reference train lines") {
    // reference component test pins 7 SQS messages
    // (tests/component/test_write_train_lines.py:53-55); our fan-out is the
    // dim itself
    val dim = graft.model.CtaSchemas.trainLines
    assert(dim.size === 7)
    assert(dim.map(_._1).toSet ===
      Set("Red", "Blue", "Brn", "G", "Org", "P", "Y"))
    assert(dim.toDF("abbrev", "line").count() === 7)
  }

  test("compact dedups at-least-once duplicates and lands hive partitions") {
    val tmp = TestSpark.tempDir("graft-compact").toString
    val rawDir = s"$tmp/raw"
    val outDir = s"$tmp/processed"
    // land the normalized fixture as NDJSON raw records, duplicated once
    val rec = CtaIngest.toRawRecords(CtaIngest.normalize(CtaFixtures.feedDf(spark)))
    rec.unionByName(rec).write.json(rawDir) // duplicated: at-least-once sim
    CtaIngest.compact(spark, rawDir, outDir)
    val back = spark.read.parquet(outDir)
    assert(back.count() === 3) // dedup removed the doubled rows
    assert(back.columns.contains("load_date"))
    val dirs = new java.io.File(outDir).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("load_date=2025-07-01")))
  }

  test("size-targeted compaction: derived cap arithmetic and per-file bounds") {
    // the pure sizing rule, pinned exactly
    // 1000 raw bytes / 10 records * 0.25 = 25 parquet bytes/rec;
    // 100-byte target => 4 records per file
    assert(CtaIngest.targetRecordsPerFile(1000L, 10L, 100L, 0.25) === 4L)
    // a record wider than the target still lands: floor at 1
    assert(CtaIngest.targetRecordsPerFile(10000L, 1L, 100L, 1.0) === 1L)
    // 128 MB target over 1 KB NDJSON records at the default ratio
    assert(CtaIngest.targetRecordsPerFile(
      1024L * 1000, 1000L, 128L * 1024 * 1024) === 524288L)

    // end-to-end: 40 distinct records, a target small enough to force a
    // multi-file day — every landed file obeys the derived cap and the
    // partition has at least ceil(rows/cap) files (maxRecordsPerFile is a
    // per-task cap, so exact count can exceed the ceiling under
    // parallelism; the INVARIANT is the per-file bound)
    val tmp = TestSpark.tempDir("graft-compact-sized").toString
    val rawDir = s"$tmp/raw"
    val outDir = s"$tmp/processed"
    import spark.implicits._
    val recs = (0 until 40).map { i =>
      (f"T$i%03d", f"2025-07-01T08:${i / 60}%02d:${i % 60}%02d",
        "2025-07-01T08:00:00", "Howard", "Granville",
        "2025-07-01T08:33:00", "0", "0", "41.99", "-87.65", "355")
    }.toDF(graft.model.CtaSchemas.rawRecord.fieldNames: _*)
    recs.coalesce(1).write.json(rawDir)
    val inputBytes = new java.io.File(rawDir).listFiles()
      .filter(_.getName.endsWith(".json")).map(_.length).sum
    // pick the target so the derived cap is ~7 records/file
    val target = (CtaIngest.targetRecordsPerFile(inputBytes, 40L,
      inputBytes, 0.25) / 40.0 * 7).toLong.max(1L)
    val cap = CtaIngest.compactSized(spark, rawDir, outDir,
      targetFileBytes = target)
    assert(cap >= 1L && cap < 40L, s"cap $cap should force a multi-file day")
    val partDir = new java.io.File(outDir).listFiles()
      .find(_.getName.startsWith("load_date=2025-07-01")).get
    val files = partDir.listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length >= math.ceil(40.0 / cap).toInt,
      s"${files.length} files < ceil(40/$cap)")
    files.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= cap, s"${f.getName} has $n rows > cap $cap")
    }
    assert(spark.read.parquet(outDir).count() === 40)

    // duplicated day: the bytes/record estimate must keep numerator and
    // denominator on the SAME population. 3× duplication triples raw
    // bytes AND the raw count, so the derived cap is IDENTICAL — the r12
    // form divided pre-dedup bytes by the post-dedup count and would have
    // inflated bytes/record 3×, landing files at a third of the target.
    val dupDir = s"$tmp/raw-dup"
    recs.union(recs).union(recs).coalesce(1).write.json(dupDir)
    val capDup = CtaIngest.compactSized(spark, dupDir, s"$tmp/processed-dup",
      targetFileBytes = target)
    assert(capDup === cap,
      s"dup day cap $capDup != clean day cap $cap: ratio populations mixed")
    assert(spark.read.parquet(s"$tmp/processed-dup").count() === 40)
  }

  test("source-format matrix: CSV and ORC round-trip the parquet events") {
    // the engine is format-agnostic below the Tables layer; prove the
    // same rows survive a write+read cycle through the two other
    // first-class batch formats (csv needs explicit schema + timestamp
    // format; orc is self-describing like parquet)
    val tmp = TestSpark.tempDir("graft-formats").toString
    val src = Tables.events(spark, TestSpark.sf0001)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id",
        $"event_type", $"value")
    src.write.mode("overwrite").orc(s"$tmp/orc")
    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    val viaOrc = spark.read.orc(s"$tmp/orc")
    val viaCsv = spark.read.option("header", "true")
      .schema(src.schema).csv(s"$tmp/csv")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).sortBy(_._1)
    val base = key(src)
    assert(key(viaOrc) === base)
    assert(key(viaCsv) === base)
    assert(viaOrc.schema === src.schema)
  }

  test("retention delete drops partitions older than the cutoff") {
    val tmp = TestSpark.tempDir("graft-retention").toString + "/lake"
    Seq(("2025-06-25", 1), ("2025-06-30", 2)).toDF("load_date", "x")
      .write.partitionBy("load_date").parquet(tmp)
    val deleted = CtaIngest.retentionDelete(spark, tmp,
      java.time.LocalDate.parse("2025-07-01"), keepDays = 3)
    assert(deleted.exists(_.contains("load_date=2025-06-25")))
    assert(!deleted.exists(_.contains("load_date=2025-06-30")))
    val left = spark.read.parquet(tmp).select("load_date").distinct()
      .as[java.sql.Date].collect().map(_.toString)
    assert(left.toSeq === Seq("2025-06-30"))
  }
}
