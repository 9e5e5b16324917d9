package graft

import graft.analytics.EventQueries
import graft.streaming._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Structured Streaming tests (SURVEY.md §2.7 T1-T7): a parquet-backed
  * events stream driven synchronously, stream/batch equivalence for windowed
  * aggregations, the NDJSON drop-dir ingest stream with a checkpointed
  * exactly-once file sink, and keyed-state sessionization.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001
  import spark.implicits._

  test("X4q streaming tokenizer equals batch q_tokens_per_doc") {
    import graft.ext.TextQueries
    val tmp = TestSpark.tempDir("graft-doc-stream").toString
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    docs.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(tmp)
    docs.filter($"doc_id" % 2 === 1).coalesce(1)
      .write.mode("append").parquet(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = StreamJobs
      .tokenizeStream(stream, TextQueries.bpeMergeTable(spark, sf))
      .writeStream.outputMode("append").format("memory")
      .queryName("tok_stream_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("tok_stream_out").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val batch = TextQueries.tokensPerDoc(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch, "stream tokenization diverged from batch")
  }

  test("X4r streaming token-id emission equals batch q_token_ids") {
    import graft.ext.TextQueries
    val tmp = TestSpark.tempDir("graft-docid-stream").toString
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    docs.filter($"doc_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(tmp)
    docs.filter($"doc_id" % 2 === 1).coalesce(1)
      .write.mode("append").parquet(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = StreamJobs
      .tokenIdsStream(stream, TextQueries.bpeMergeTable(spark, sf),
        TextQueries.bpeVocab(spark, sf))
      .writeStream.outputMode("append").format("memory")
      .queryName("tokid_stream_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("tokid_stream_out").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("token_id"), r.getAs[String]("token"))).toSet
    val batch = TextQueries.tokenIds(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("token_id"), r.getAs[String]("token"))).toSet
    assert(streamed.size === batch.size)
    assert(streamed === batch, "stream token ids diverged from batch")
  }

  test("XP23 twin: streaming cross-doc audit sums to the batch census") {
    import graft.streaming.StreamJobs
    val tmp = TestSpark.tempDir("graft-crossdoc-stream").toString
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"source", $"doc_id", $"text")
    val ids = docs.select($"doc_id").as[Long].collect().sorted
    val cut = ids(ids.length / 2)
    docs.filter($"doc_id" <= cut).coalesce(1).write.mode("append").parquet(tmp)
    Thread.sleep(1100)
    docs.filter($"doc_id" > cut).coalesce(1).write.mode("append").parquet(tmp)
    val q = StreamJobs.crossDocStream(
        StreamJobs.docsStream(spark, tmp, maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("append").format("memory")
      .queryName("crossdoc_stream_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val perDoc = spark.table("crossdoc_stream_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // per-stream sums of the live audit == the batch census exactly
    val streamed = perDoc.groupBy(d => (d._1, d._2)).map { case (k, rs) =>
      k -> (rs.length.toLong, rs.map(_._4).sum, rs.map(_._5).sum,
        rs.count(_._5 > 0).toLong, rs.map(_._5).max)
    }
    val batch = graft.ext.PipelineQueries.packCrossDoc(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6),
          r.getLong(7))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, v) =>
      assert(v === batch(k), s"stream cross-doc audit diverged at $k")
    }
  }

  test("XP17 streaming packer equals a batch first-fit over the whole corpus") {
    import graft.streaming.StreamJobs
    val tmp = TestSpark.tempDir("graft-pack-stream").toString
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"source", $"doc_id", $"text")
    // append-only split: the second batch's doc_ids are all LARGER —
    // the monotonicity the incremental state machine assumes
    val ids = docs.select($"doc_id").as[Long].collect().sorted
    val cut = ids(ids.length / 2)
    docs.filter($"doc_id" <= cut).coalesce(1).write.mode("append").parquet(tmp)
    Thread.sleep(1100) // distinct mtimes => deterministic file order
    docs.filter($"doc_id" > cut).coalesce(1).write.mode("append").parquet(tmp)
    val q = StreamJobs.packStream(
        StreamJobs.docsStream(spark, tmp, maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("append").format("memory")
      .queryName("pack_stream_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("pack_stream_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    // batch truth: local first-fit replay over the full corpus in doc_id
    // order (the XP1/XP17 manifest semantics)
    def nTok(t: String): Long = "\\S{1,4}".r.findAllIn(t).size.toLong
    val all = docs.as[(String, String, Long, String)].collect()
    val expected = all.groupBy(d => (d._1, d._2)).toSeq.flatMap {
      case ((l, src), ds) =>
        var cum = 0L
        val binPos = scala.collection.mutable.Map[Long, Long]()
        ds.sortBy(_._3).map { case (_, _, id, t) =>
          val n = nTok(t)
          val bin = cum / 256L
          val pos = binPos.getOrElse(bin, 0L) + 1
          binPos(bin) = pos
          val row = (l, src, bin, pos, id, n, cum % 256L)
          cum += n
          row
        }
    }.toSet
    assert(streamed.size === expected.size)
    assert(streamed === expected,
      "stream packing diverged from the batch first-fit manifest")
    // the split must actually cross bin boundaries mid-stream somewhere:
    // at least one stream has rows from both batches in the SAME bin
    val crossing = expected.groupBy(r => (r._1, r._2, r._3)).exists {
      case (_, rows) => rows.exists(_._5 <= cut) && rows.exists(_._5 > cut)
    }
    assert(crossing, "no bin spanned the batch split at this SF")
  }

  test("X3 streaming ANN ingest equals the batch index assignment") {
    import graft.ext.SimilarityQueries
    // two part files in one drop dir → two micro-batches (maxFiles 1)
    val tmp = TestSpark.tempDir("graft-emb-stream").toString
    val emb = Tables.embeddings(spark, sf)
    emb.filter($"vec_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(tmp)
    emb.filter($"vec_id" % 2 === 1).coalesce(1)
      .write.mode("append").parquet(tmp)
    val q = StreamJobs.annIngestStream(
        StreamJobs.embeddingsStream(spark, tmp, maxFilesPerTrigger = Some(1)),
        SimilarityQueries.trainedCents(spark, sf))
      .writeStream.outputMode("append").format("memory")
      .queryName("ann_ingest_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("ann_ingest_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the batch truth: the trained index's own corpus assignment
    val batch = SimilarityQueries.rankedAssign(spark, sf)
      .filter($"crn" === 1).select($"vec_id", $"c_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch,
      "stream assignment diverged from the batch index")
  }

  test("X3m streaming filtered-ANN serve equals the batch filtered query") {
    import graft.ext.SimilarityQueries
    // the query feed: the 20 query vectors arrive in two micro-batches
    val tmp = TestSpark.tempDir("graft-fserve-stream").toString
    val qs = Tables.embeddings(spark, sf).filter($"vec_id" < 20)
    qs.filter($"vec_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(tmp)
    qs.filter($"vec_id" % 2 === 1).coalesce(1)
      .write.mode("append").parquet(tmp)
    val cents = SimilarityQueries.trainedCents(spark, sf)
    val corpus = Tables.embeddings(spark, sf)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    val q = StreamJobs.embeddingsStream(spark, tmp, maxFilesPerTrigger = Some(1))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // per-batch serve against the (re-loadable) published statics
        StreamJobs.annFilteredServeStream(batch, cents, corpus)
          .collect().foreach(r => out.add((r.getLong(0), r.getLong(1),
            r.getLong(2), r.getDouble(3))))
      }.start()
    try q.processAllAvailable() finally StreamGuards.stop(q)
    import scala.jdk.CollectionConverters._
    val streamed = out.asScala.toSet
    val batchRows = SimilarityQueries.knnFiltered(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSet
    assert(streamed.size === batchRows.size)
    assert(streamed === batchRows,
      "streaming filtered serve diverged from batch q_sim_knn_filtered")
  }

  /** Drop one (user_id, ts, event_id, is_dim?, state/v_cents) row into an
    * as-of stream dir as a bare parquet part-file (staged move — the file
    * source ignores subdirectories). */
  private def dropAsOfRow(dir: String, name: String, userId: Long,
      tsUs: Long, eventId: Long, state: String, vCents: Long): Unit = {
    import org.apache.spark.sql.types._
    val isDim = state != null
    val schema = StructType(
      StructField("user_id", LongType) ::
        StructField("ts", TimestampType) ::
        StructField("event_id", LongType) ::
        (if (isDim) StructField("state", StringType)
         else StructField("v_cents", LongType)) :: Nil)
    val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      tsUs / 1000000L, (tsUs % 1000000L) * 1000L))
    val stage = TestSpark.tempDir(s"graft-asof-$eventId").toString + "/out"
    spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          userId, ts, eventId, if (isDim) state else vCents)),
        schema)
      .coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/$name"))
  }

  private def asOfStreams(dimDir: String, factDir: String) = {
    import org.apache.spark.sql.types._
    val dimSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("state", StringType)))
    val factSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("v_cents", LongType)))
    (spark.readStream.schema(dimSchema).parquet(dimDir),
      spark.readStream.schema(factSchema).parquet(factDir))
  }

  test("X1f/X1g chunk-store admission stream == batch, with verbatim/alien/mixed anchors") {
    import graft.ext.DedupQueries
    val docsT = Tables.documents(spark, sf).select($"doc_id", $"lang", $"text")
    // the standing store: every distinct chunk content of the corpus
    val storeDir = TestSpark.tempDir("graft-chunk-store").toString
    DedupQueries.cdcChunkRows(docsT).select($"chunk").distinct()
      .write.mode("overwrite").parquet(storeDir)
    // the feed: a verbatim corpus copy, an alien doc, and a mixed doc
    // whose PREFIX is corpus content (content-defined boundaries keep
    // the prefix's chunk identities inside an otherwise-novel doc)
    val corpusDoc = docsT.orderBy($"doc_id").limit(1)
      .select($"text").as[String].head()
    val alien = Seq.tabulate(600)(i =>
      ('À' + (i * 7 + i / 13) % 48).toChar).mkString
    val feedDir = TestSpark.tempDir("graft-cdc-feed").toString
    Seq((9001L, "en", corpusDoc), (9002L, "en", corpusDoc + alien),
        (9003L, "en", alien))
      .toDF("doc_id", "lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(feedDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType)))
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val q = spark.readStream.schema(schema).parquet(feedDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val store = spark.read.parquet(storeDir) // artifact-refresh shape
        out.synchronized {
          out ++= StreamJobs.cdcAdmitStream(batch, store)
            .select($"doc_id", $"n_chunks", $"dup_chunks", $"dup_bp")
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        }
        ()
      }.start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    // stream == batch off the same store
    val batchRows = DedupQueries.cdcOverlapOf(
        spark.read.schema(schema).parquet(feedDir),
        spark.read.parquet(storeDir))
      .select($"doc_id", $"n_chunks", $"dup_chunks", $"dup_bp")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet === batchRows.toSet)
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(byDoc(9001L)._4 === 10000L, "verbatim corpus copy must fully hit")
    assert(byDoc(9003L)._4 === 0L, "alien doc must miss entirely")
    val mixed = byDoc(9002L)._4
    assert(mixed > 0L && mixed < 10000L,
      s"corpus-prefix+alien-suffix doc should land strictly between: $mixed")
  }

  test("stream-stream AS-OF enrich: late dim update in a LATER batch still wins") {
    // event time: browse@10:00 < cart@10:10 < purchase@10:20 — but the
    // cart row ARRIVES a whole micro-batch after the purchase. The fact
    // must stay buffered (watermark) and enrich with 'cart', not 'browse'.
    val dimDir = TestSpark.tempDir("graft-asof-dim").toString
    val factDir = TestSpark.tempDir("graft-asof-fact").toString
    val h10 = 1735725600000000L // 2025-01-01T10:00:00Z in µs
    def m(min: Long) = h10 + min * 60000000L
    dropAsOfRow(dimDir, "a_dim1.parquet", 42L, m(0), 1L, "browse", 0L)
    dropAsOfRow(factDir, "a_fact1.parquet", 42L, m(20), 2L, null, 999L)
    val (dim, fact) = asOfStreams(dimDir, factDir)
    val q = StreamJobs.asOfEnrichStream(dim, fact)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_late_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("asof_late_out").isEmpty,
        "fact emitted before its event time matured past the watermark")
      // the LATE dim change: processing-time later, event-time earlier
      dropAsOfRow(dimDir, "b_dim2.parquet", 42L, m(10), 3L, "cart", 0L)
      q.processAllAvailable()
      // two sentinel rounds: the watermark advances after the batch that
      // carries the sentinel, the flush runs the batch after that
      for (i <- 0 to 1) {
        dropAsOfRow(dimDir, s"c_sent$i.parquet", -1L,
          m(200) + i, 100L + i, "noise", 0L)
        q.processAllAvailable()
      }
    } finally StreamGuards.stop(q)
    val rows = spark.table("asof_late_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    assert(rows === Set((42L, m(20), 2L, "cart", 999L)),
      s"late dim update lost: $rows")
  }

  test("stream-stream AS-OF enrich equals the batch carry-forward over a split corpus feed") {
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type",
        expr("cast(round(value * 100) as bigint)").as("v_cents"))
    val dimDir = TestSpark.tempDir("graft-asof-dim2").toString
    val factDir = TestSpark.tempDir("graft-asof-fact2").toString
    // split ARBITRARILY across two files per side so facts and their
    // governing dim rows land in different micro-batches both ways
    val dimRows = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"ts", $"event_id", $"event_type".as("state"))
    val factRows = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"v_cents")
    dimRows.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(dimDir)
    dimRows.filter($"event_id" % 2 === 1).coalesce(1).write.mode("append").parquet(dimDir)
    factRows.filter($"event_id" % 3 === 0).coalesce(1).write.mode("append").parquet(factDir)
    factRows.filter($"event_id" % 3 =!= 0).coalesce(1).write.mode("append").parquet(factDir)
    val (dim, fact) = asOfStreams(dimDir, factDir)
    val q = StreamJobs.asOfEnrichStream(dim, fact)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_eq_out").start()
    try {
      q.processAllAvailable()
      val maxUs = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
      for (i <- 0 to 1) {
        dropAsOfRow(dimDir, s"zz_sent$i.parquet", -1L,
          maxUs + 7200L * 1000000L + i, 999999100L + i, "noise", 0L)
        q.processAllAvailable()
      }
    } finally StreamGuards.stop(q)
    val streamed = spark.table("asof_eq_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    // batch truth: the same union + carry-forward window the batch as-of
    // (q_scd2_asof) computes, over the identical dim/fact populations
    val wCarry = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"ts_us", $"is_fact", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tagged = dimRows
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        lit(0).as("is_fact"), $"state", lit(0L).as("v_cents"))
      .unionByName(factRows
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
          lit(1).as("is_fact"), lit(null).cast("string").as("state"),
          $"v_cents"))
    val batch = tagged
      .withColumn("cur", last($"state", ignoreNulls = true).over(wCarry))
      .filter($"is_fact" === 1)
      .select($"user_id", $"ts_us", $"event_id",
        coalesce($"cur", lit("none")).as("state_at_fact"), $"v_cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      s"as-of enrich diverged: extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
  }

  test("J5c twin: streaming as-of enrich with tolerance equals the batch SLA filter") {
    val tol = 3600000000L // 1 hour in µs — splits fresh/stale on this corpus
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type",
        expr("cast(round(value * 100) as bigint)").as("v_cents"))
    val dimDir = TestSpark.tempDir("graft-asof-dim3").toString
    val factDir = TestSpark.tempDir("graft-asof-fact3").toString
    val dimRows = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"ts", $"event_id", $"event_type".as("state"))
    val factRows = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"v_cents")
    dimRows.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(dimDir)
    dimRows.filter($"event_id" % 2 === 1).coalesce(1).write.mode("append").parquet(dimDir)
    factRows.coalesce(1).write.mode("append").parquet(factDir)
    val (dim, fact) = asOfStreams(dimDir, factDir)
    val q = StreamJobs.asOfEnrichStream(dim, fact, tolUs = tol)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_tol_out").start()
    try {
      q.processAllAvailable()
      val maxUs = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
      for (i <- 0 to 1) {
        dropAsOfRow(dimDir, s"zz_sent$i.parquet", -1L,
          maxUs + 7200L * 1000000L + i, 999999200L + i, "noise", 0L)
        q.processAllAvailable()
      }
    } finally StreamGuards.stop(q)
    val streamed = spark.table("asof_tol_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    // batch truth: the carry-forward window + the J5c age filter
    val wCarry = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"ts_us", $"is_fact", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tagged = dimRows
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        lit(0).as("is_fact"), $"state", lit(0L).as("v_cents"))
      .unionByName(factRows
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
          lit(1).as("is_fact"), lit(null).cast("string").as("state"),
          $"v_cents"))
    val batch = tagged
      .withColumn("cur", last($"state", ignoreNulls = true).over(wCarry))
      .withColumn("cur_ts",
        last(when($"is_fact" === 0, $"ts_us"), ignoreNulls = true).over(wCarry))
      .filter($"is_fact" === 1)
      .select($"user_id", $"ts_us", $"event_id",
        when($"cur".isNotNull && $"ts_us" - $"cur_ts" <= tol, $"cur")
          .otherwise("none").as("state_at_fact"), $"v_cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    assert(streamed === batch,
      s"tolerance twin diverged: extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")
    // the SLA genuinely bites on this corpus: both fresh and none present
    val states = streamed.map(_._4)
    assert(states.contains("none") && states.exists(_ != "none"))
  }

  test("state-backend portability: as-of enrich is provider-invariant (HDFS vs RocksDB)") {
    // extends the r12 provider pin from the simple running-count state to
    // the session's most state-intensive machine: the watermark-ordered
    // keyed MERGE (buffered pending rows + carried dim state + event-time
    // timers). A backend divergence here means the buffer's serialization
    // or replay order leaked an assumption the default store hid.
    val h10 = 1735725600000000L
    def m(min: Long) = h10 + min * 60000000L
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    def runWith(provider: Option[String], name: String): Set[(Long, Long, Long, String, Long)] = {
      provider match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
      val dimDir = TestSpark.tempDir(s"graft-asof-dim-$name").toString
      val factDir = TestSpark.tempDir(s"graft-asof-fact-$name").toString
      // the late-dim scenario PLUS a multi-key interleave, re-built per
      // provider so checkpoints/state dirs never cross
      dropAsOfRow(dimDir, "a_dim1.parquet", 42L, m(0), 1L, "browse", 0L)
      dropAsOfRow(dimDir, "a_dim2.parquet", 7L, m(5), 4L, "search", 0L)
      dropAsOfRow(factDir, "a_fact1.parquet", 42L, m(20), 2L, null, 999L)
      dropAsOfRow(factDir, "a_fact2.parquet", 7L, m(6), 5L, null, 111L)
      val (dim, fact) = asOfStreams(dimDir, factDir)
      val q = StreamJobs.asOfEnrichStream(dim, fact)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        q.processAllAvailable()
        dropAsOfRow(dimDir, "b_dim3.parquet", 42L, m(10), 3L, "cart", 0L)
        q.processAllAvailable()
        for (i <- 0 to 1) {
          dropAsOfRow(dimDir, s"c_sent$i.parquet", -1L,
            m(200) + i, 100L + i, "noise", 0L)
          q.processAllAvailable()
        }
      } finally StreamGuards.stop(q)
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getLong(4))).toSet
    }
    try {
      val hdfs = runWith(None, "asof_hdfs")
      val rocks = runWith(Some("org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider"), "asof_rocks")
      assert(hdfs === Set(
        (42L, m(20), 2L, "cart", 999L),
        (7L, m(6), 5L, "search", 111L)))
      assert(hdfs === rocks, "state backends disagreed on the as-of merge")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("W5b twin: streaming U-touch credits equal the batch attribution census") {
    // TWO-batch drive, split at the mean timestamp with file order pinned
    // by mtime: purchases in batch 2 must credit touches the ListState
    // buffered from batch 1 — the cross-batch carry path, not just an
    // in-batch fold
    val tmp = TestSpark.tempDir("graft-utouch-stream").toString
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(expr("cast(avg(unix_micros(ts)) as bigint)"))
      .head.getLong(0)
    ev.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.mode("append").parquet(tmp)
    ev.filter(unix_micros($"ts") > mid).coalesce(1)
      .write.mode("append").parquet(tmp)
    // FileStreamSource orders by modification time; make the early-ts
    // file strictly older so per-key event-time arrival stays monotone
    val parts = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.lastModified())
    assert(parts.length === 2)
    parts(0).setLastModified(parts(1).lastModified() - 10000)
    // transformWithState requires the RocksDB provider (multiple column
    // families) — scoped exactly like the Markov-carry spec
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = StreamJobs
        .utouchStream(StreamJobs.eventsStream(spark, tmp,
          maxFilesPerTrigger = Some(1)))
        .writeStream.outputMode("append").format("memory")
        .queryName("utouch_out").start()
      try q.processAllAvailable() finally StreamGuards.stop(q)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val streamed = spark.table("utouch_out")
      .groupBy($"touch_type")
      .agg(count(lit(1)).as("n"), sum($"credit_bp").as("bp"),
        sum($"credited_cents").as("cc"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val batch = graft.analytics.IncrementalQueries
      .attributionUTouch(spark, sf).collect()
      .map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_credits"), r.getAs[Long]("bp_total"),
          r.getAs[Long]("credited_cents")))
      .toMap
    assert(streamed === batch,
      "streaming U-touch census diverged from the batch attribution")
    // credit conservation holds on the stream too: every purchase's
    // credits sum to exactly 10000 bp
    val purchases = ev.filter($"event_type" === "purchase").count()
    assert(streamed.values.map(_._2).sum === 10000L * purchases)
  }

  test("W5b late-data leg: shuffled cross-batch arrival equals the batch census") {
    // THREE batches split by event_id % 3 — each batch spans the whole
    // corpus time range, so per-key event-time arrival is violently
    // non-monotone in BOTH directions across micro-batches (purchases
    // before their touches, touches before earlier touches): exactly
    // the unordered at-least-once landing the reference produces and
    // exactly what would corrupt the monotone UTouchCarry leg. Then two
    // far-future sentinel batches advance the watermark so every
    // purchase's timer fires (wm advances only AFTER a batch — the
    // TimerSessions two-sentinel discipline).
    val tmp = TestSpark.tempDir("graft-utouch-timers").toString
    val ev = Tables.events(spark, sf)
    // split the RAW parquet (not the normalized Tables.events view) so
    // the dropped files keep the testdata's own ts encoding — both the
    // stream source and dropSentinel sniff it
    val raw = spark.read.parquet(s"$sf/events.parquet")
    (0 until 3).foreach { i =>
      raw.filter(pmod($"event_id", lit(3)) === i).coalesce(1)
        .write.mode("append").parquet(tmp)
    }
    val parts = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length === 3)
    // pin mtimes: the three id-parity files strictly before the
    // sentinels, in a fixed order (FileStreamSource orders by mtime)
    val base = System.currentTimeMillis() - 300000
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 10000) }
    val maxUs = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
    Seq(366L, 367L).zipWithIndex.foreach { case (days, i) =>
      dropSentinel(tmp, s"zz_sentinel$i.parquet", 999990L + i,
        maxUs + days * 24 * 3600 * 1000000L, 999999L, 0.0)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = StreamJobs
        .utouchTimersStream(StreamJobs.eventsStream(spark, tmp,
          maxFilesPerTrigger = Some(1)),
          // the fixture's events span ~a year and every purchase must
          // settle, so the replay opts into a year of lateness
          // explicitly; the production DEFAULT is a bounded "1 hour"
          // (state = touch-rate x (W + delay))
          delay = "365 days")
        .writeStream.outputMode("append").format("memory")
        .queryName("utouch_timers_out").start()
      try q.processAllAvailable() finally StreamGuards.stop(q)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    // the sentinel user only ever touches (event_type "view"), so it
    // emits no credits — no filtering needed for the census compare
    val streamed = spark.table("utouch_timers_out")
      .groupBy($"touch_type")
      .agg(count(lit(1)).as("n"), sum($"credit_bp").as("bp"),
        sum($"credited_cents").as("cc"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val batch = graft.analytics.IncrementalQueries
      .attributionUTouch(spark, sf).collect()
      .map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_credits"), r.getAs[Long]("bp_total"),
          r.getAs[Long]("credited_cents")))
      .toMap
    assert(streamed === batch,
      "late-data U-touch census diverged from batch under shuffled arrival")
    // credit conservation is exact on the unordered stream too
    val purchases = ev.filter($"event_type" === "purchase").count()
    assert(streamed.values.map(_._2).sum === 10000L * purchases)
  }

  test("W5b twin: U-touch ListState survives a checkpointed restart") {
    // the cross-RESTART carry, not just cross-trigger: drain the early
    // half, STOP the query, drop the late half, restart on the same
    // checkpoint — late purchases can only credit early touches if the
    // RocksDB snapshot restored the per-user buffer
    val tmp = TestSpark.tempDir("graft-utouch-restart").toString
    val drop = s"$tmp/drop"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val ev = Tables.events(spark, sf)
    val mid = ev.agg(expr("cast(avg(unix_micros(ts)) as bigint)"))
      .head.getLong(0)
    ev.filter(unix_micros($"ts") <= mid).coalesce(1)
      .write.mode("append").parquet(drop)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def drain(): Unit = {
      val q = StreamJobs
        .utouchStream(StreamJobs.eventsStream(spark, drop))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      assert(q.awaitTermination(180000))
    }
    try {
      drain() // early half: touches buffered into state, some credits out
      ev.filter(unix_micros($"ts") > mid).coalesce(1)
        .write.mode("append").parquet(drop)
      drain() // fresh query instance = fresh process, state restored
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val streamed = spark.read.parquet(out)
      .groupBy($"touch_type")
      .agg(count(lit(1)).as("n"), sum($"credit_bp").as("bp"),
        sum($"credited_cents").as("cc"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val batch = graft.analytics.IncrementalQueries
      .attributionUTouch(spark, sf).collect()
      .map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_credits"), r.getAs[Long]("bp_total"),
          r.getAs[Long]("credited_cents")))
      .toMap
    assert(streamed === batch,
      "U-touch census after restart diverged: ListState not restored")
  }

  test("W5b late-data leg: touch-only keys drain to zero state") {
    // The r16 cleanup-timer contract: a key that only ever TOUCHES must
    // still reach the wm−W trim — with TTLConfig.NONE, timers are the
    // only trim path, and before r16 a purchase-less key never entered
    // handleExpiredTimer, so its ListState grew with stream length.
    // Phase 1 buffers three touches for a purchase-less user and reads
    // them back FROM THE STATE STORE (the state data source, not an
    // inference from output); phase 2 advances the watermark far past
    // newest-touch+W with two sentinel batches (wm advances only after
    // a batch; the fired timer needs the next one) and asserts the
    // key's buffer is GONE while the sentinel user's own fresh touch is
    // still there (negative control: the reader does see phase-2 state).
    import org.apache.spark.sql.types._
    val tmp = TestSpark.tempDir("graft-utouch-drain").toString
    val src = s"$tmp/src"; val ckpt = s"$tmp/ckpt"
    new java.io.File(src).mkdirs()
    val W = 7L * 24 * 3600 * 1000000L // = IncrementalQueries.ATTR_WINDOW_US
    val HOUR = 3600L * 1000000L
    val t0 = 1767225600000000L // 2026-01-01T00:00:00Z in µs
    def drop(name: String, mtime: Long,
        rows: Seq[(Long, Long, Long, String)]): Unit = {
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampNTZType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType)))
      val data = rows.map { case (id, ts, u, tpe) =>
        org.apache.spark.sql.Row(id,
          java.time.LocalDateTime.ofEpochSecond(ts / 1000000L,
            ((ts % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC),
          u, tpe, 0.0, "{}")
      }
      val stage = TestSpark.tempDir("graft-drain-stage").toString + "/o"
      spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$src/$name")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
      ()
    }
    val base = System.currentTimeMillis() - 300000
    drop("a_touches.parquet", base, Seq(
      (1L, t0, 7L, "view"),
      (2L, t0 + 60L * 1000000L, 7L, "click"),
      (3L, t0 + 120L * 1000000L, 7L, "view")))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val out = s"$tmp/out"
    def drain(tag: String): Unit = {
      // parquet sink, not memory: the memory sink cannot recover from a
      // checkpoint, and phase 2 must resume phase 1's state
      val q = StreamJobs
        .utouchTimersStream(
          StreamJobs.eventsStream(spark, src, maxFilesPerTrigger = Some(1)),
          delay = "1 hour") // the bounded production default
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), s"drain $tag timed out")
    }
    def bufUsers(): Set[Long] = spark.read.format("statestore")
      .option("path", ckpt).option("stateVarName", "buf").load()
      .selectExpr("key.*").collect().map(_.getLong(0)).toSet
    try {
      drain("p1")
      assert(bufUsers() === Set(7L),
        "phase 1: the touch-only user's touches must be buffered in state")
      // two sentinel batches: wm after the first = t0+W+2h > the cleanup
      // timer armed at newest-touch+W; the second batch fires it, and
      // its trim bound wm−W = t0+2h is past every buffered touch
      drop("b_sentinel1.parquet", base + 10000,
        Seq((4L, t0 + W + 3L * HOUR, 99L, "view")))
      drop("c_sentinel2.parquet", base + 20000,
        Seq((5L, t0 + W + 4L * HOUR, 99L, "view")))
      drain("p2")
      val after = bufUsers()
      assert(!after.contains(7L),
        s"touch-only key 7 must drain to zero state, still has rows: $after")
      assert(after.contains(99L),
        "negative control: the sentinel user's fresh touch should still " +
          s"be buffered (reader must see phase-2 state): $after")
      // and a touch-only key emits no credits, drained or not (explicit
      // schema: the sink dir may hold only _spark_metadata, zero rows)
      val creditSchema = StructType(Seq(
        StructField("touch_type", StringType),
        StructField("credit_bp", LongType),
        StructField("credited_cents", LongType)))
      assert(spark.read.schema(creditSchema).parquet(out).count() === 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("W5b late-data leg: armed timers and ListState survive a checkpointed restart") {
    // The exactly-once claim for the TIMERS leg (the carry leg's restart
    // pin is above): phase 1 drains the ENTIRE shuffled corpus with a
    // 365-day delay, so the watermark ends ~at the corpus start and NO
    // purchase settles — everything the computation knows (buffered
    // touches AND purchases, plus each purchase's armed timer) lives
    // only in the RocksDB checkpoint when the query stops. Phase 2
    // restarts from that checkpoint and feeds ONLY two far-future
    // sentinel batches from an unrelated user: real users get no new
    // input rows, so every credit emitted in phase 2 can only come from
    // RESTORED timers firing over RESTORED ListState. Census equality
    // with batch then proves both survived the restart intact.
    val tmp = TestSpark.tempDir("graft-utouch-timers-restart").toString
    val drop = s"$tmp/drop"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    new java.io.File(drop).mkdirs()
    val ev = Tables.events(spark, sf)
    val raw = spark.read.parquet(s"$sf/events.parquet")
    (0 until 3).foreach { i =>
      raw.filter(pmod($"event_id", lit(3)) === i).coalesce(1)
        .write.mode("append").parquet(drop)
    }
    val parts = new java.io.File(drop).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length === 3)
    val base = System.currentTimeMillis() - 300000
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 10000) }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def drain(tag: String): Unit = {
      // parquet sink + AvailableNow: the memory sink cannot resume a
      // checkpoint, and phase 2 must be a FRESH query instance
      val q = StreamJobs
        .utouchTimersStream(
          StreamJobs.eventsStream(spark, drop, maxFilesPerTrigger = Some(1)),
          delay = "365 days")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(180000), s"drain $tag timed out")
    }
    try {
      drain("p1")
      // nothing may settle before the restart: wm = maxTs − 365d sits
      // below every purchase, so the sink holds zero rows — the entire
      // computation is in the checkpoint (explicit schema: the dir may
      // hold only _spark_metadata)
      import org.apache.spark.sql.types._
      val creditSchema = StructType(Seq(
        StructField("touch_type", StringType),
        StructField("credit_bp", LongType),
        StructField("credited_cents", LongType)))
      assert(spark.read.schema(creditSchema).parquet(out).count() === 0,
        "phase 1 must emit nothing: the watermark cannot have closed any window")
      val maxUs = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
      Seq(366L, 367L).zipWithIndex.foreach { case (days, i) =>
        dropSentinel(drop, s"zz_sentinel$i.parquet", 999990L + i,
          maxUs + days * 24 * 3600 * 1000000L, 999999L, 0.0)
      }
      drain("p2")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val streamed = spark.read.parquet(out)
      .groupBy($"touch_type")
      .agg(count(lit(1)).as("n"), sum($"credit_bp").as("bp"),
        sum($"credited_cents").as("cc"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val batch = graft.analytics.IncrementalQueries
      .attributionUTouch(spark, sf).collect()
      .map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_credits"), r.getAs[Long]("bp_total"),
          r.getAs[Long]("credited_cents")))
      .toMap
    assert(streamed === batch,
      "U-touch census after timers-leg restart diverged: timers or ListState lost")
    val purchases = ev.filter($"event_type" === "purchase").count()
    assert(streamed.values.map(_._2).sum === 10000L * purchases)
  }

  private def eventsDir: String = {
    val tmp = TestSpark.tempDir("graft-events-stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$tmp/events.parquet"))
    tmp
  }

  /** Drop a single synthetic event into a streaming source dir whose `ts`
    * ENCODING matches whatever the dir's existing events file uses (nanos
    * long or naive µs timestamp — the testdata has shipped both), staging
    * then moving the bare part-file in: the file stream source does not
    * recurse into non-partition subdirectories, so a directory-shaped
    * write would be silently ignored. A physical-type mismatch against
    * the sniffed stream schema fails the whole query, so the sentinel
    * must mirror the source file, not pick an encoding of its own. */
  private def dropSentinel(tmp: String, name: String, eventId: Long,
      tsUs: Long, userId: Long, value: Double): Unit = {
    import org.apache.spark.sql.types._
    val tsType = spark.read.parquet(tmp).schema("ts").dataType
    val tsVal: Any = tsType match {
      case LongType => tsUs * 1000L // nanos
      case _ => java.time.LocalDateTime.ofEpochSecond(
        tsUs / 1000000L, ((tsUs % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val stage = TestSpark.tempDir(s"graft-sentinel-$eventId")
      .toString + "/out"
    spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          eventId, tsVal, userId, "view", value, "{}")),
        schema)
      .coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$tmp/$name"))
  }

  test("T3 streaming tumbling daily counts match the batch query") {
    val q = StreamJobs.tumblingDaily(StreamJobs.eventsStream(spark, eventsDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("tumbling_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("tumbling_out")
      .select($"w_start_us", $"event_type", $"n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventQueries.tumblingDaily(spark, sf)
      .select($"w_start_us", $"event_type", $"n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // append mode emits only watermark-closed windows: subset of batch,
    // missing at most the final day
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    val missingDays = batch.map(_._1) -- streamed.map(_._1)
    assert(missingDays.size <= 1)
  }

  test("T4 streaming sliding hourly counts match the batch query") {
    // round 18: StreamJobs.slidingHourly had no live run (found by the
    // streaming plan-guard coverage audit) — pin it like tumblingDaily.
    val q = StreamJobs.slidingHourly(StreamJobs.eventsStream(spark, eventsDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("sliding_hourly_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("sliding_hourly_out")
      .select($"w_start_us", $"n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = EventQueries.slidingHourly(spark, sf)
      .select($"w_start_us", $"n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // append mode emits only watermark-closed windows: an exact subset of
    // the batch assignment, missing at most the trailing windows still
    // open at the final watermark (window 1 h + delay 1 h over 15-min
    // slides ⇒ ≤ 8 open ends)
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"stream-only windows: ${(streamed -- batch).take(3)}")
    assert(batch.size - streamed.size <= 8,
      s"too many unemitted windows: ${batch.size - streamed.size}")
  }

  test("T4 streaming session windows match the batch query") {
    // round 18: StreamJobs.sessionWindows likewise had no live run.
    val q = StreamJobs.sessionWindows(StreamJobs.eventsStream(spark, eventsDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("session_windows_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("session_windows_out")
      .select($"user_id", $"session_start_us", $"n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventQueries.sessionWindows(spark, sf)
      .select($"user_id", $"session_start_us", $"n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // sessions emit once the watermark passes their close; only sessions
    // ending inside the final watermark lag can be withheld
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"stream-only sessions: ${(streamed -- batch).take(3)}")
    assert(streamed.size * 10 >= batch.size * 9,
      s"only ${streamed.size} of ${batch.size} sessions emitted")
  }

  test("B2 twin: streaming sliding distinct estimates track the exact batch window") {
    val q = StreamJobs.slidingDistinctUsers(StreamJobs.eventsStream(spark, eventsDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("sliding_distinct_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("sliding_distinct_out")
      .select($"dayn", $"users_7d_est").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty)
    val batch = graft.analytics.BehaviorQueries.rollingDistinct(spark, sf)
      .select($"dayn", $"users_7d").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every watermark-closed window that maps to a batch calendar day must
    // estimate within the HLL++ bound (±2 or 5%) of the exact count
    val overlapping = streamed.keySet.intersect(batch.keySet)
    assert(overlapping.nonEmpty)
    overlapping.foreach { d =>
      val (est, exact) = (streamed(d), batch(d))
      assert(math.abs(est - exact) <= math.max(2L, exact / 20),
        s"day $d: est $est vs exact $exact")
    }
  }

  test("B3 twin: streaming bitmap presence converges to the batch bitmap") {
    val q = StreamJobs.bitmapPresenceStream(StreamJobs.eventsStream(spark, eventsDir))
      .writeStream.outputMode("complete").format("memory")
      .queryName("bitmap_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("bitmap_out").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.analytics.BehaviorQueries.bitmapPresence(spark, sf)
      .select($"user_id", $"month", $"day_mask").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
  }

  test("XP7 twin: streaming A-Res reservoir equals the batch weighted sample exactly") {
    // split documents across 4 files / 4 micro-batches: the reservoir must
    // be batch-split-independent (A-Res keys are pure row functions)
    val tmp = TestSpark.tempDir("graft-docs-stream").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .repartition(4).write.parquet(s"$tmp/docs")
    val q = StreamJobs.weightedSampleStream(
        StreamJobs.docsStream(spark, s"$tmp/docs", maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("update").format("memory")
      .queryName("wsample_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val emitted = spark.table("wsample_out")
      .select($"lang", $"rnk", $"doc_id", $"n_tok", $"score", $"n_seen").collect()
    assert(emitted.nonEmpty)
    // final emission per lang = the rows carrying that lang's max n_seen
    val finalRows = emitted
      .groupBy(_.getString(0)).values.flatMap { rows =>
        val maxSeen = rows.map(_.getLong(5)).max
        rows.filter(_.getLong(5) == maxSeen)
      }
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val batch = graft.ext.PipelineQueries.sampleWeighted(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(finalRows === batch)
  }

  test("XC10 twin: streaming DSIR admission equals the batch selector per doc") {
    // the admission rule is a pure per-row fold through the broadcast
    // weight map, so arbitrary micro-batch splits must reproduce the
    // batch verdicts row-for-row
    val tmp = TestSpark.tempDir("graft-dsir-stream").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .repartition(3).write.parquet(s"$tmp/docs")
    val scores = graft.ext.CurateQueries
      .dsirScores(Tables.documents(spark, sf))
    val q = StreamJobs.dsirAdmitStream(
        StreamJobs.docsStream(spark, s"$tmp/docs", maxFilesPerTrigger = Some(1)),
        scores)
      .writeStream.outputMode("append").format("memory")
      .queryName("dsir_admit_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))
    val streamed = spark.table("dsir_admit_out")
      .select($"doc_id", $"lang", $"source", $"logw_u", $"admit").collect()
      .map(key).toMap
    val batch = graft.ext.CurateQueries
      .dsirScoreOf(Tables.documents(spark, sf), scores)
      .select($"doc_id", $"lang", $"source", $"logw_u", $"admit").collect()
      .map(key).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.values.exists(_._4 == 1L))
  }

  test("L3 twin: streaming shard router equals the batch assignment") {
    // the router is a pure per-row function, so arbitrary micro-batch
    // splits must produce exactly the batch audit's assignment
    val tmp = TestSpark.tempDir("graft-shard-stream").toString
    spark.read.parquet(s"$sf/documents.parquet")
      .repartition(3).write.parquet(s"$tmp/docs")
    val q = StreamJobs.shardRouteStream(
        StreamJobs.docsStream(spark, s"$tmp/docs", maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("append").format("memory")
      .queryName("shard_route_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    def slots(r: org.apache.spark.sql.Row) = r.getLong(0) ->
      (r.getAs[Number](1).longValue, r.getAs[Number](2).longValue)
    val streamed = spark.table("shard_route_out")
      .select($"doc_id", $"shard_mod", $"shard_range").collect()
      .map(slots).toMap
    val batch = graft.analytics.LayoutQueries
      .shardRouteOf(Tables.documents(spark, sf))
      .select($"doc_id", $"shard_mod", $"shard_range").collect()
      .map(slots).toMap
    assert(streamed === batch, "router stream diverged from the batch assignment")
    // both strategies really occupy the full 16-slot space at this SF
    assert(batch.values.map(_._1).toSet.size === 16)
    assert(batch.values.map(_._2).toSet.size === 16)
  }

  test("observe() telemetry: per-batch metrics reconcile with the landed parquet") {
    val tmp = TestSpark.tempDir("graft-stream-observe").toString
    val drop = s"$tmp/drop"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    graft.ingest.CtaFixtures.feedDf(spark).write.json(drop)
    val q = StreamJobs.landObservationsObserved(
      StreamJobs.rawFeedStream(spark, drop), out, ckpt).start()
    try q.processAllAvailable() finally StreamGuards.stop(q)
    // sum the "ingest" observed metrics over every progress event —
    // the same numbers a metrics pipeline would ship per micro-batch
    val obs = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("ingest")))
    assert(obs.nonEmpty, "no observed metrics surfaced in progress")
    val rows = obs.map(_.getAs[Long]("rows")).sum
    val delayed = obs.map(_.getAs[Long]("delayed")).sum
    val landed = spark.read.parquet(out)
    assert(rows === landed.count())
    assert(delayed ===
      landed.filter(col("is_train_delayed") === true).count())
    // the estimate is an upper-bound-ish sketch; on 2 distinct lines it
    // must be exact
    assert(obs.map(_.getAs[Long]("lines_est")).max ===
      landed.select(countDistinct(col("line"))).head.getLong(0))
  }

  test("T1/T7 NDJSON drop-dir stream lands partitioned parquet exactly once") {
    val tmp = TestSpark.tempDir("graft-stream-ingest").toString
    val drop = s"$tmp/drop"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    // write the fixture feeds as one NDJSON drop file
    graft.ingest.CtaFixtures.feedDf(spark).write.json(drop)
    val q = StreamJobs.landObservations(
      StreamJobs.rawFeedStream(spark, drop), out, ckpt).start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val landed = spark.read.parquet(out)
    assert(landed.count() === 3)
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("load_date=2025-07-01")))
    // restart on same checkpoint: no reprocessing, still exactly 3 rows
    val q2 = StreamJobs.landObservations(
      StreamJobs.rawFeedStream(spark, drop), out, ckpt).start()
    try { q2.processAllAvailable() } finally StreamGuards.stop(q2)
    assert(spark.read.parquet(out).count() === 3)
  }

  test("T1/T7 AvailableNow drains, self-stops, and resumes from checkpoint") {
    val tmp = TestSpark.tempDir("graft-availnow").toString
    val drop = s"$tmp/drop"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    graft.ingest.CtaFixtures.feedDf(spark).write.json(drop)
    val q = StreamJobs.landObservationsAvailableNow(
      StreamJobs.rawFeedStream(spark, drop), out, ckpt).start()
    assert(q.awaitTermination(120000)) // AvailableNow self-terminates
    assert(!q.isActive)
    assert(spark.read.parquet(out).count() === 3)
    // new files land while "offline"; the resumed drain processes ONLY
    // them (9 rows would mean the checkpoint was ignored)
    graft.ingest.CtaFixtures.feedDf(spark).write.mode("append").json(drop)
    val q2 = StreamJobs.landObservationsAvailableNow(
      StreamJobs.rawFeedStream(spark, drop), out, ckpt).start()
    assert(q2.awaitTermination(120000))
    assert(spark.read.parquet(out).count() === 6)
  }

  test("T2/T7 foreachBatch idempotent sink: re-run overwrites, never duplicates") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = TestSpark.tempDir("graft-febatch").toString
    val drop = s"$tmp/drop"; val out = s"$tmp/out"
    graft.ingest.CtaFixtures.feedDf(spark).write.json(drop)
    def runOnce(ckpt: String): Unit = {
      val q = StreamJobs.landObservationsIdempotent(
        StreamJobs.rawFeedStream(spark, drop), out, ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(60000) finally StreamGuards.stop(q)
    }
    runOnce(s"$tmp/ckpt1")
    assert(spark.read.parquet(out).count() === 3)
    // simulate redelivery: fresh checkpoint reprocesses everything — the
    // batch-id-keyed overwrite keeps the sink exactly-once
    runOnce(s"$tmp/ckpt2")
    assert(spark.read.parquet(out).count() === 3)
  }

  test("stream-static dim enrichment matches the batch broadcast join") {
    val dim = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "acquisition"),
      ("logout", "session")).toDF("event_type", "category")
    val q = StreamJobs.dimEnrichStream(
        StreamJobs.eventsStream(spark, eventsDir), dim)
      .writeStream.outputMode("complete").format("memory")
      .queryName("dim_enrich_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("dim_enrich_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Tables.events(spark, sf)
      .join(broadcast(dim), Seq("event_type"))
      .groupBy($"category")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("stream-stream interval join matches the batch J6 range join") {
    val q = StreamJobs.followerJoin(StreamJobs.eventsStream(spark, eventsDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("follower_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    // inner stream-stream joins emit every match once both sides arrive;
    // a drained drop-dir therefore yields exactly the batch pair set
    val streamed = spark.table("follower_out")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"event_id").as("n_with_follower"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = EventQueries.rangeJoinFollowers(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_with_follower"))).toMap
    assert(streamed === batch)
  }

  test("stream-stream LEFT OUTER interval join matches batch after watermark closure") {
    val tmp = eventsDir
    val q = StreamJobs.followerJoinOuter(StreamJobs.eventsStream(spark, tmp))
      .writeStream.outputMode("append").format("memory")
      .queryName("follower_outer_out").start()
    try {
      q.processAllAvailable()
      // Null rows are watermark-gated: after draining the corpus the
      // watermark sits at max(ts) - 1h, so no event's 10-min window is
      // closed yet — only inner matches have emitted. Drop a far-future
      // sentinel (max(ts) + 2h, a user id outside the corpus) to push the
      // watermark past EVERY original event's window close and flush the
      // complete null-row set. The sentinel's own window stays open, so
      // it emits nothing itself.
      val maxUs = Tables.events(spark, sf)
        .agg(max(unix_micros($"ts"))).head.getLong(0)
      dropSentinel(tmp, "wm_flush.parquet", eventId = 999999001L,
        tsUs = maxUs + 7200L * 1000000L, userId = 999999L, value = 0.0)
      q.processAllAvailable()
    } finally StreamGuards.stop(q)
    def key(id: Long, rid: Any, et: String) =
      (id, Option(rid).map(_.asInstanceOf[Long]).getOrElse(-1L), et)
    val streamed = spark.table("follower_outer_out").collect()
      .map(r => key(r.getLong(0), r.get(1), r.getString(2))).toSet
    // batch left-outer range join over the original corpus (sentinel
    // excluded: its window never closed, so the stream emitted nothing
    // for it — exact equality below proves that too)
    val e = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"ts")
    val rgt = e.select($"event_id".as("r_id"), $"user_id".as("r_user"),
      $"ts".as("r_ts"))
    val batch = e.join(rgt,
        $"user_id" === $"r_user" && $"r_ts" > $"ts" &&
          $"r_ts" <= $"ts" + expr("INTERVAL 10 MINUTES"),
        "left_outer")
      .select($"event_id", $"r_id", $"event_type").collect()
      .map(r => key(r.getLong(0), r.get(1), r.getString(2))).toSet
    assert(streamed.nonEmpty && (streamed -- batch).isEmpty,
      s"stream emitted rows batch does not have: ${(streamed -- batch).take(5)}")
    assert((batch -- streamed).isEmpty,
      s"batch rows the stream never emitted (null set incomplete): ${(batch -- streamed).take(5)}")
    // and the null set is genuinely non-trivial on this corpus
    assert(streamed.exists(_._2 == -1L), "no null-padded rows emitted")
  }

  test("stream-stream FULL OUTER interval join adds the starter rows symmetrically") {
    val tmp = eventsDir
    val q = StreamJobs.followerJoinFull(StreamJobs.eventsStream(spark, tmp))
      .writeStream.outputMode("append").format("memory")
      .queryName("follower_full_out").start()
    try {
      q.processAllAvailable()
      val maxUs = Tables.events(spark, sf)
        .agg(max(unix_micros($"ts"))).head.getLong(0)
      dropSentinel(tmp, "wm_flush_full.parquet", eventId = 999999002L,
        tsUs = maxUs + 7200L * 1000000L, userId = 999998L, value = 0.0)
      q.processAllAvailable()
    } finally StreamGuards.stop(q)
    def key(r: org.apache.spark.sql.Row) =
      (Option(r.get(0)).map(_.asInstanceOf[Long]).getOrElse(-1L),
        Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(-1L),
        Option(r.get(2)).map(_.asInstanceOf[String]).getOrElse("<null>"))
    val streamed = spark.table("follower_full_out").collect().map(key).toSet
    val e = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"ts")
    val rgt = e.select($"event_id".as("r_id"), $"user_id".as("r_user"),
      $"ts".as("r_ts"))
    val batch = e.join(rgt,
        $"user_id" === $"r_user" && $"r_ts" > $"ts" &&
          $"r_ts" <= $"ts" + expr("INTERVAL 10 MINUTES"),
        "full_outer")
      .select($"event_id", $"r_id", $"event_type").collect().map(key).toSet
    assert((streamed -- batch).isEmpty,
      s"stream-only rows: ${(streamed -- batch).take(5)}")
    assert((batch -- streamed).isEmpty,
      s"batch-only rows (outer sets incomplete): ${(batch -- streamed).take(5)}")
    // both null directions genuinely occur on this corpus
    assert(streamed.exists(r => r._2 == -1L && r._1 != -1L), "no follower-less rows")
    assert(streamed.exists(r => r._1 == -1L && r._2 != -1L), "no starter rows")
  }

  test("stream-stream LEFT SEMI interval join equals the batch EXISTS, once per event") {
    val q = StreamJobs.followerJoinSemi(StreamJobs.eventsStream(spark, eventsDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("follower_semi_out").start()
    try q.processAllAvailable() finally StreamGuards.stop(q)
    val streamedRows = spark.table("follower_semi_out").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // at most ONCE per event — the semi contract the inner join breaks
    assert(streamedRows.length === streamedRows.distinct.length,
      "semi join emitted an event more than once")
    val e = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"ts")
    val rgt = e.select($"event_id".as("r_id"), $"user_id".as("r_user"),
      $"ts".as("r_ts"))
    val batch = e.join(rgt,
        $"user_id" === $"r_user" && $"r_ts" > $"ts" &&
          $"r_ts" <= $"ts" + expr("INTERVAL 10 MINUTES"),
        "left_semi")
      .select($"event_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batch.nonEmpty)
    assert(streamedRows.toSet === batch,
      s"stream semi set diverged: only-stream=${(streamedRows.toSet -- batch).take(5)} only-batch=${(batch -- streamedRows.toSet).take(5)}")
  }

  test("M7-as-stream: CDC upsert with tombstones converges to latest-op-wins") {
    import spark.implicits._
    val tmp = TestSpark.tempDir("graft-cdc-stream").toString
    val feed = s"$tmp/feed"; val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    // batch 1: inserts, an update, a delete; batch 2: resurrect-after-
    // delete (k=3), a delete of a live key (k=4), a late update (k=1)
    val b1 = Seq((1L, 1L, "O", 100L, "I"), (2L, 1L, "O", 200L, "I"),
      (3L, 1L, "O", 300L, "I"), (4L, 1L, "O", 400L, "I"),
      (2L, 2L, "F", 220L, "U"), (3L, 3L, "O", 0L, "D"))
    val b2 = Seq((3L, 4L, "P", 330L, "I"), (4L, 5L, "F", 0L, "D"),
      (1L, 6L, "F", 110L, "U"))
    b1.toDF("k", "seq", "st", "cents", "op")
      .coalesce(1).write.mode("append").parquet(feed)
    b2.toDF("k", "seq", "st", "cents", "op")
      .coalesce(1).write.mode("append").parquet(feed)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("st",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType)))
    def drain(ckptDir: String): Unit = {
      val q = StreamJobs.cdcUpsertStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(feed), state, ckptDir).start()
      try q.processAllAvailable() finally StreamGuards.stop(q)
    }
    drain(ckpt)
    def view: Set[(Long, Long, String, Long)] =
      StreamJobs.cdcStateView(spark, state).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("seq"),
          r.getAs[String]("st"), r.getAs[Long]("cents"))).toSet
    // local latest-op-wins fold over the whole log
    val expect = (b1 ++ b2).groupBy(_._1).values
      .map(_.maxBy(_._2)).filter(_._5 != "D")
      .map(r => (r._1, r._2, r._3, r._4)).toSet
    assert(view === expect)
    assert(!view.exists(_._1 == 4L), "tombstoned key leaked into the view")
    assert(view.exists(r => r._1 == 3L && r._3 == "P"),
      "resurrect-after-delete lost")
    // at-least-once upstream: re-deliver the ENTIRE feed under a fresh
    // checkpoint — max_by over the union must leave the state unchanged
    drain(s"$tmp/ckpt2")
    assert(view === expect)
  }

  test("T6 transformWithState running totals match the batch aggregate") {
    // transformWithState (Spark 4 arbitrary-state API) only runs on the
    // RocksDB state store; scope the provider to this query.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = StreamJobs.runningTotals(StreamJobs.eventsStream(spark, eventsDir))
        .writeStream.outputMode("update").format("memory")
        .queryName("tws_out").start()
      try q.processAllAvailable() finally StreamGuards.stop(q)
      // update mode re-emits a user's row each batch; the final totals are
      // the row with the highest running count per user
      val streamed = spark.table("tws_out")
        .groupBy($"user_id")
        .agg(max($"n_events").as("n"),
          max_by($"total_cents", $"n_events").as("cents"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = Tables.events(spark, sf)
        .select($"user_id", $"value").as[(Long, Double)].collect()
        .groupBy(_._1).map { case (u, rows) =>
          u -> (rows.length.toLong, rows.map(r => math.round(r._2 * 100)).sum)
        }
      assert(streamed === batch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("B6 twin: streaming reach converges to the batch cumulative distinct") {
    val q = StreamJobs.reachStream(StreamJobs.eventsStream(spark, eventsDir))
      .writeStream.outputMode("complete").format("memory")
      .queryName("reach_out").start()
    try q.processAllAvailable() finally StreamGuards.stop(q)
    val streamed = spark.table("reach_out")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the batch reach curve's final point per type IS the distinct count
    val batch = graft.analytics.BehaviorQueries
      .cumulativeDistinct(spark, sf).collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (et, rows) =>
        et -> rows.map(_.getAs[Long]("cum_users")).max
      }
    assert(streamed === batch)
  }

  test("state-backend portability: reach stream is provider-invariant (HDFS vs RocksDB)") {
    // the production state backend question made an assert: the SAME
    // keyed-state job (streaming dropDuplicates + running count) must
    // produce identical results on the default HDFS-backed store and on
    // RocksDB — the backend a 100-TB deploy runs, where keyed state
    // outgrows executor heap and lives off-heap/on-disk. Any divergence
    // here is a serialization or ordering assumption leaking into state.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    def runWith(provider: Option[String], name: String): Map[String, Long] = {
      provider match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
      val q = StreamJobs.reachStream(StreamJobs.eventsStream(spark, eventsDir))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).start()
      try q.processAllAvailable() finally StreamGuards.stop(q)
      spark.table(name).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    try {
      val hdfs = runWith(None, "reach_hdfs")
      val rocks = runWith(Some("org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider"), "reach_rocks")
      assert(hdfs.nonEmpty)
      assert(hdfs === rocks, "state backends disagreed on the reach census")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("B4 twin: streaming Markov carry emits exactly the batch transitions") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val q = StreamJobs.markovStream(StreamJobs.eventsStream(spark, eventsDir))
        .writeStream.outputMode("append").format("memory")
        .queryName("markov_out").start()
      try q.processAllAvailable() finally StreamGuards.stop(q)
      val streamed = spark.table("markov_out")
        .groupBy($"prev_type", $"next_type").count()
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.analytics.BehaviorQueries
        .markovTransitions(spark, sf).collect()
        .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type")) ->
          r.getAs[Long]("n_trans")).toMap
      assert(streamed === batch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("T6 transformWithState timers emit exactly the batch session set") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tmp = eventsDir
      // sentinel file, processed as its own SECOND batch (maxFilesPerTrigger
      // = 1): one far-future event for an out-of-band user advances the
      // watermark past every real session's gap expiry, so every timer
      // fires and all real sessions emit.
      // TWO sentinel batches: the watermark advances only AFTER a batch,
      // so batch 2 fires timers against the batch-1 watermark (stranding
      // the final ~gap+delay of real sessions) and batch 3 fires the rest.
      val maxUs = Tables.events(spark, sf)
        .agg(max(unix_micros($"ts"))).head().getLong(0)
      Seq(10L, 20L).zipWithIndex.foreach { case (days, i) =>
        dropSentinel(tmp, s"zz_sentinel$i.parquet", 999999L + i,
          maxUs + days * 24 * 3600 * 1000000L, 999999L, 0.0)
      }
      val q = StreamJobs.timerSessions(
          StreamJobs.eventsStream(spark, tmp, maxFilesPerTrigger = Some(1)))
        .writeStream.outputMode("append").format("memory")
        .queryName("timer_sessions_out").start()
      try { q.processAllAvailable() } finally StreamGuards.stop(q)
      val streamed = spark.table("timer_sessions_out")
        .where($"user_id" =!= 999999L).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Int]("n_events"),
          r.getAs[Long]("total_value_cents"))).toSet
      val evs = Tables.events(spark, sf)
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"value",
          $"ts".as("event_time")).as[Ev]
      val batchSet = Sessionize.batch(evs).collect()
        .map(s => (s.user_id, s.start_us, s.end_us, s.n_events,
          s.total_value_cents)).toSet
      assert(streamed == batchSet) // EVERY session closed and emitted once
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming latest-state upsert sink converges to the batch W1 query") {
    val tmp = eventsDir
    val state = s"$tmp/state"
    def runOnce(ckpt: String): Unit = {
      val q = StreamJobs.latestStateUpsert(
        StreamJobs.eventsStream(spark, tmp), state, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally StreamGuards.stop(q)
    }
    runOnce(s"$tmp/ckpt")
    val batch = EventQueries.latestState(spark, sf)
      .select($"user_id", $"event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def stateMap = spark.read.parquet(state)
      .select($"user_id", $"event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stateMap === batch)
    // re-delivery: a fresh checkpoint replays everything; the max_by merge
    // keeps the state table identical (exactly-one row per key)
    runOnce(s"$tmp/ckpt2")
    assert(stateMap === batch)
  }

  test("latest-state upsert recovers state lost mid-swap (crash between renames)") {
    val tmp = eventsDir
    val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    def runOnce(): Unit = {
      val q = StreamJobs.latestStateUpsert(
        StreamJobs.eventsStream(spark, tmp), state, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally StreamGuards.stop(q)
    }
    runOnce()
    val before = spark.read.parquet(state).count()
    assert(before > 0)
    // Simulate the exact crash window: the live dir was moved aside but the
    // stage was never published — replay finds stateDir missing.
    assert(new java.io.File(state).renameTo(new java.io.File(state + "_old")))
    // Next micro-batch carries ONE new user only. The checkpoint already
    // consumed the original file, so without the `_old` restore the merge
    // would see empty prior state and the swap would then delete the only
    // surviving copy — state silently collapses to this single key.
    dropSentinel(tmp, "zz_new_user.parquet", 424242L,
      1735689600L * 1000000L, 424242L, 1.0)
    runOnce()
    val after = spark.read.parquet(state)
      .select($"user_id").collect().map(_.getLong(0)).toSet
    assert(after.contains(424242L))
    assert(after.size === before + 1) // every pre-crash key survived
    assert(!new java.io.File(state + "_old").exists())
  }

  test("streaming dropDuplicatesWithinWatermark dedups re-delivered events") {
    // the streaming answer to the reference's at-least-once re-drive: the
    // same event delivered twice within the watermark horizon must land
    // once. Two identical parquet drops simulate a redelivery.
    val tmp = TestSpark.tempDir("graft-dedup-stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$tmp/events_a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$tmp/events_b.parquet"))
    val q = StreamJobs.eventsStream(spark, tmp)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val n = spark.table("dedup_out").count()
    val distinctIds = spark.table("dedup_out")
      .select($"event_id").distinct().count()
    assert(n === Tables.events(spark, sf).count()) // doubled input, single out
    assert(n === distinctIds)
  }

  test("T6 batch sessionization agrees with the SQL session-window query") {
    val evs = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"value",
        $"ts".as("event_time"))
      .as[Ev]
    val sessions = Sessionize.batch(evs).collect()
    val sql = EventQueries.sessionWindows(spark, sf).collect()
    assert(sessions.length === sql.length)
    val byKey = sessions.map(s => (s.user_id, s.start_us) -> s.n_events).toMap
    sql.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"))
      assert(byKey(k) === r.getAs[Long]("n_events").toInt)
    }
  }

  test("T6 streaming sessionization emits gap-closed sessions") {
    val tmp = eventsDir
    val stream = StreamJobs.eventsStream(spark, tmp)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"value",
        $"ts".as("event_time"))
      .as[Ev]
      .withWatermark("event_time", "1 hour")
    val q = Sessionize.streaming(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_out").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = spark.table("sessions_out").collect()
    assert(streamed.nonEmpty)
    // every streamed session must exist identically in the batch result
    val evs = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"value",
        $"ts".as("event_time")).as[Ev]
    val batchSet = Sessionize.batch(evs).collect()
      .map(s => (s.user_id, s.start_us, s.end_us, s.n_events)).toSet
    streamed.foreach { r =>
      val k = (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Int]("n_events"))
      assert(batchSet.contains(k))
    }
  }

  // --- T7e: TWO-INPUT keyed stream-stream join (orders x lineitem) -------

  /** Stage the two fact tables as independent streaming drop dirs and
    * return (ordersDir, lineitemDir, ordersStream, lineitemStream). */
  private def twoStreamDirs(): (String, String,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val oDir = TestSpark.tempDir("graft-ss-orders").toString
    val lDir = TestSpark.tempDir("graft-ss-lineitem").toString
    Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .coalesce(1).write.mode("append").parquet(oDir)
    Tables.load(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_shipdate", $"l_returnflag")
      .coalesce(1).write.mode("append").parquet(lDir)
    val oSchema = spark.read.parquet(oDir).schema
    val lSchema = spark.read.parquet(lDir).schema
    (oDir, lDir,
      spark.readStream.schema(oSchema).parquet(oDir),
      spark.readStream.schema(lSchema).parquet(lDir))
  }

  /** Far-future sentinel rows on BOTH streams: the join watermark is the
    * min of the two sides, so both must advance to close any window. */
  private def dropJoinSentinels(oDir: String, lDir: String,
      ts0: java.sql.Timestamp, suffix: String = ""): Unit = {
    // mirror the staged files' timestamp flavor (NTZ under the UTC session)
    def tsVal(schema: org.apache.spark.sql.types.StructType, c: String): Any =
      schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          java.time.LocalDateTime.ofInstant(ts0.toInstant,
            java.time.ZoneOffset.UTC)
        case _ => ts0
      }
    val stage1 = TestSpark.tempDir("graft-ss-sent-o").toString + "/o"
    spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          Long.box(999999901L),
          tsVal(spark.read.parquet(oDir).schema, "o_orderdate"), "SENTINEL")),
        spark.read.parquet(oDir).schema)
      .coalesce(1).write.parquet(stage1)
    val p1 = new java.io.File(stage1).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(p1.toPath,
      java.nio.file.Paths.get(s"$oDir/zz_sentinel$suffix.parquet"))
    val stage2 = TestSpark.tempDir("graft-ss-sent-l").toString + "/l"
    spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          Long.box(999999902L), Int.box(1),
          // "R": the outer test filters the right stream to returned
          // items BEFORE the watermark — the sentinel must survive the
          // filter or the right watermark never advances
          tsVal(spark.read.parquet(lDir).schema, "l_shipdate"), "R")),
        spark.read.parquet(lDir).schema)
      .coalesce(1).write.parquet(stage2)
    val p2 = new java.io.File(stage2).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(p2.toPath,
      java.nio.file.Paths.get(s"$lDir/zz_sentinel$suffix.parquet"))
  }

  /** Batch mirror of [[StreamJobs.orderShipmentJoin]]'s predicate. */
  private def batchOrderShipment(right: org.apache.spark.sql.DataFrame,
      joinType: String) = {
    val left = Tables.load(spark, sf, "orders")
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    left.join(right,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" >= $"o_orderdate" - expr("INTERVAL 180 DAYS") &&
          $"l_shipdate" <= $"o_orderdate" + expr("INTERVAL 180 DAYS"),
        joinType)
      .select($"o_orderkey", $"o_orderpriority", $"l_linenumber",
        $"l_returnflag")
  }

  test("T7e two-input stream-stream INNER equi-join matches the batch fact join") {
    val (_, _, oStream, lStream) = twoStreamDirs()
    val q = StreamJobs.orderShipmentJoin(oStream, lStream, "inner")
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_join_inner").start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))
    val streamed = spark.table("ss_join_inner").collect().map(key).toSet
    val batch = batchOrderShipment(
      Tables.load(spark, sf, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_shipdate",
          $"l_returnflag"),
      "inner").collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("T7e two-input stream-stream LEFT OUTER join emits the null set after both-side watermark flush") {
    val (oDir, lDir, oStream, lStream) = twoStreamDirs()
    // restrict the shipment side to returned items so a non-trivial set of
    // orders genuinely has NO match inside the window
    val q = StreamJobs.orderShipmentJoin(
        oStream, lStream.filter($"l_returnflag" === "R"), "left_outer")
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_join_outer").start()
    try {
      q.processAllAvailable()
      // push BOTH watermarks past every order's +180d window close
      // (o_orderdate reads as NTZ -> LocalDateTime under the UTC session)
      val maxInstant = Tables.load(spark, sf, "orders")
        .agg(max($"o_orderdate".cast("timestamp"))).head
        .getTimestamp(0).toInstant
      val flush = java.sql.Timestamp.from(
        maxInstant.plus(java.time.Duration.ofDays(600)))
      // watermark updates AFTER the batch that carries the sentinel, and
      // the null-row flush runs in the batch AFTER that — two sentinel
      // rounds, like the interval-join tests
      dropJoinSentinels(oDir, lDir, flush, "1")
      q.processAllAvailable()
      dropJoinSentinels(oDir, lDir, java.sql.Timestamp.from(
        flush.toInstant.plus(java.time.Duration.ofDays(30))), "2")
      q.processAllAvailable()
    } finally StreamGuards.stop(q)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]).getOrElse(-1),
        Option(r.get(3)).map(_.asInstanceOf[String]).getOrElse("<null>"))
    val streamed = spark.table("ss_join_outer").collect().map(key)
      // the sentinel order's own window never closed; it emits nothing,
      // and the sentinel lineitem matches no real order
      .filter(_._1 < 999999900L).toSet
    val batch = batchOrderShipment(
      Tables.load(spark, sf, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_shipdate",
          $"l_returnflag")
        .filter($"l_returnflag" === "R"),
      "left_outer").collect().map(key).toSet
    assert((streamed -- batch).isEmpty,
      s"stream-only rows: ${(streamed -- batch).take(5)}")
    assert((batch -- streamed).isEmpty,
      s"batch rows never emitted (null set incomplete): ${(batch -- streamed).take(5)}")
    // the null set is genuinely non-trivial
    assert(streamed.exists(_._3 == -1), "no null-padded rows emitted")
  }

  test("streaming plan guard: every captured micro-batch plan is clean and coverage held") {
    // VERDICT r17 item 3: the RegistrySpec scale-killer guards
    // (CartesianProduct ban, BNLJ allowlist, Sort/Window over
    // SinglePartition) now walk every streaming query this suite ran —
    // StreamGuards.stop captured each query's last micro-batch executed
    // plan synchronously before stopping it. This closing test (FunSuite
    // runs tests in declaration order) asserts zero violations and that
    // every named streaming entry point this suite is responsible for
    // was ACTUALLY captured — a spec that silently stops exercising one
    // fails coverage here, and StreamingPlanSpec's reflection test
    // forces any new StreamJobs entry point into the accounting.
    StreamGuards.assertClean(Set(
      "tok_stream_out", "tokid_stream_out", "crossdoc_stream_out",
      "pack_stream_out", "ann_ingest_out", "dedup_out",
      "asof_late_out", "asof_eq_out", "asof_tol_out",
      "asof_hdfs", "asof_rocks",
      "utouch_out", "utouch_timers_out",
      "tumbling_out", "sliding_hourly_out", "session_windows_out",
      "sliding_distinct_out", "bitmap_out",
      "wsample_out", "dsir_admit_out", "shard_route_out",
      "dim_enrich_out",
      "follower_out", "follower_outer_out", "follower_full_out",
      "follower_semi_out", "ss_join_inner", "ss_join_outer",
      "reach_out", "reach_hdfs", "reach_rocks",
      "markov_out", "tws_out", "timer_sessions_out", "sessions_out",
      // the landing-sink family runs unnamed (file/foreachBatch sinks);
      // at least one unnamed run must have been captured+guarded
      "unnamed"))
  }
}
