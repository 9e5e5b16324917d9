package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{SimilarityQueries, TextQueries}
import graft.sources.ArtifactStore
import graft.streaming.StreamJobs

/** Cross-session artifact persistence: trained index artifacts round-trip
  * through the versioned store byte-equal, version pointers resolve to
  * the newest publish, and CONSUMERS run correctly off the loaded copy —
  * the deployment story behind every "trained once, probed everywhere"
  * claim in the similarity/text tiers. */
class ArtifactSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  val sf = TestSpark.sf0001
  import spark.implicits._

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Row] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().toSet
  }

  test("trained artifacts round-trip the store byte-equal") {
    val root = TestSpark.tempDir("graft-artifacts").toString
    val cents = SimilarityQueries.trainedCents(spark, sf)
    val cb = SimilarityQueries.pqCodebookMemo(spark, sf)
    val merges = TextQueries.bpeMergeTable(spark, sf)
    assert(ArtifactStore.save(cents, root, "ivf_cents") === 1)
    assert(ArtifactStore.save(cb, root, "pq_codebook") === 1)
    assert(ArtifactStore.save(merges, root, "bpe_merges") === 1)
    assert(rowSet(ArtifactStore.load(spark, root, "ivf_cents")) === rowSet(cents))
    assert(rowSet(ArtifactStore.load(spark, root, "pq_codebook")) === rowSet(cb))
    assert(rowSet(ArtifactStore.load(spark, root, "bpe_merges")) === rowSet(merges))
  }

  test("save publishes a new version and load resolves the latest") {
    val root = TestSpark.tempDir("graft-artifacts-v").toString
    val v1 = Seq((1L, "a")).toDF("id", "tag")
    val v2 = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    assert(ArtifactStore.save(v1, root, "dim") === 1)
    assert(ArtifactStore.save(v2, root, "dim") === 2)
    assert(ArtifactStore.latestVersion(spark, root, "dim") === 2)
    assert(ArtifactStore.load(spark, root, "dim").count() === 2)
    // explicit pin still reaches the immutable old version
    assert(ArtifactStore.load(spark, root, "dim", Some(1)).count() === 1)
    // loading a never-published name fails fast
    intercept[IllegalArgumentException] {
      ArtifactStore.load(spark, root, "nope")
    }
  }

  test("tokenizer off LOADED artifacts equals the in-session token stream") {
    // the tokenizer deployment story end-to-end: train, SHIP merge table
    // + vocab through the versioned store, and tokenize off the loaded
    // copies — token-id output must be identical to the in-session path
    val root = TestSpark.tempDir("graft-artifacts-tok").toString
    assert(ArtifactStore.save(
      TextQueries.bpeMergeTable(spark, sf), root, "bpe_merges") === 1)
    assert(ArtifactStore.save(
      TextQueries.bpeVocab(spark, sf), root, "bpe_vocab") === 1)
    val fromLoaded = TextQueries.tokenIdsOf(
      graft.Tables.documents(spark, sf).select($"doc_id", $"text"),
      ArtifactStore.load(spark, root, "bpe_merges"),
      ArtifactStore.load(spark, root, "bpe_vocab"))
    assert(rowSet(fromLoaded) === rowSet(TextQueries.tokenIds(spark, sf)))
  }

  test("retention keeps the newest Retain versions and the pointer always resolves") {
    val root = TestSpark.tempDir("graft-artifacts-ret").toString
    (1 to 5).foreach { i =>
      assert(ArtifactStore.save(spark.range(i.toLong).toDF("id"), root, "dim") === i)
      // after EVERY publish: pointer resolves and loads the new version whole
      assert(ArtifactStore.latestVersion(spark, root, "dim") === i)
      assert(ArtifactStore.load(spark, root, "dim").count() === i.toLong)
      // disk holds exactly the newest Retain versions (fewer while warming up)
      val expect = (math.max(i - ArtifactStore.Retain + 1, 1) to i).toSeq
      assert(ArtifactStore.versionsOnDisk(spark, root, "dim") === expect)
    }
    // rollback window: both predecessors still pinnable…
    assert(ArtifactStore.load(spark, root, "dim", Some(4)).count() === 4L)
    assert(ArtifactStore.load(spark, root, "dim", Some(3)).count() === 3L)
    // …while pruned versions are really gone
    intercept[org.apache.spark.sql.AnalysisException] {
      ArtifactStore.load(spark, root, "dim", Some(1))
    }
  }

  test("engine behavior: a static bound at stream start pins its file listing") {
    // the reason refresh goes through foreachBatch: plan re-execution per
    // micro-batch does NOT re-list a path-backed parquet static — rows
    // landing after query start keep joining the ORIGINAL dim snapshot
    val tmp = TestSpark.tempDir("graft-pin").toString
    val dimDir = s"$tmp/dim"; val feedDir = s"$tmp/feed"
    Seq((1L, "old")).toDF("k", "tag").write.parquet(dimDir)
    Seq((1L, 100L)).toDF("k", "x").coalesce(1).write.mode("append").parquet(feedDir)
    val dim = spark.read.parquet(dimDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val q = stream.join(dim, Seq("k"))
      .writeStream.outputMode("append").format("memory")
      .queryName("pin_probe").start()
    try {
      q.processAllAvailable()
      Seq((1L, "new")).toDF("k", "tag").write.mode("append").parquet(dimDir)
      Seq((1L, 200L)).toDF("k", "x").coalesce(1).write.mode("append").parquet(feedDir)
      q.processAllAvailable()
      val tags = spark.table("pin_probe").collect()
        .map(r => (r.getLong(1), r.getString(2)))
      // post-publish rows still see only the pinned snapshot
      assert(tags.filter(_._1 == 200L).map(_._2).toSet === Set("old"))
    } finally StreamGuards.stop(q)
  }

  test("a re-published version is picked up MID-STREAM via foreachBatch reload") {
    val tmp = TestSpark.tempDir("graft-flip").toString
    val root = s"$tmp/store"; val feedDir = s"$tmp/feed"
    val cents = SimilarityQueries.trainedCents(spark, sf)
    ArtifactStore.save(cents, root, "cents") // v1
    val emb = Tables.embeddings(spark, sf)
    emb.filter($"vec_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(feedDir)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
    val q = StreamJobs.embeddingsStream(spark, feedDir, maxFilesPerTrigger = Some(1))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the refresh pattern: re-load the artifact EVERY batch
        val s = batch.sparkSession
        val ver = ArtifactStore.latestVersion(s, root, "cents")
        StreamJobs.annIngestStream(batch, ArtifactStore.load(s, root, "cents"))
          .collect().foreach(r => out.add((r.getLong(0), r.getLong(1), ver)))
      }.start()
    try {
      q.processAllAvailable()
      // re-train: v2 shifts every centroid id by 10000 — visibly distinct
      // from any v1 id (seed vec_ids < 500) while preserving structure
      ArtifactStore.save(
        cents.withColumn("c_id", $"c_id" + 10000L), root, "cents")
      emb.filter($"vec_id" % 2 === 1).coalesce(1)
        .write.mode("append").parquet(feedDir)
      q.processAllAvailable()
    } finally StreamGuards.stop(q)
    import scala.jdk.CollectionConverters._
    val rows = out.asScala.toSeq
    val (b1, b2) = rows.partition(_._3 === 1)
    assert(b1.nonEmpty && b2.nonEmpty)
    // batch 1 assigned against v1, batch 2 against the re-published v2
    // (same structure, ids shifted) — the flip happened WITHOUT restart
    val batchTruth = SimilarityQueries.rankedAssign(spark, sf)
      .filter($"crn" === 1).select($"vec_id", $"c_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    b1.foreach { case (v, c, _) => assert(c === batchTruth(v), s"v1 vec $v") }
    b2.foreach { case (v, c, _) =>
      assert(c === batchTruth(v) + 10000L, s"v2 vec $v")
    }
  }

  test("tokenized-corpus artifact: no-shuffle write path round-trips the oracle query") {
    import graft.ext.TextQueries
    // plan pin: the artifact frame has NO shuffle exchange of any kind —
    // in particular no RangePartitioning (the oracle query's global
    // sort). Broadcast exchanges (merge table, vocab) are the design.
    val frame = TextQueries.tokenIdsArtifactFrame(spark, sf)
    val plan = frame.queryExecution.sparkPlan
    assert(!plan.toString.toLowerCase.contains("rangepartitioning"),
      s"global sort leaked into the artifact write path:\n$plan")
    // the corpus-sized path must be shuffle-free; the constant-size
    // broadcast BUILD sides (merge table, vocab dedup) may aggregate
    // internally — only shuffles OUTSIDE a broadcast subtree count
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    def corpusShuffles(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BroadcastExchangeExec => Nil
      case s: ShuffleExchangeExec =>
        s +: s.children.flatMap(corpusShuffles)
      case other => other.children.flatMap(corpusShuffles)
    }
    assert(corpusShuffles(plan).isEmpty,
      s"shuffle exchange on the corpus path:\n$plan")
    // round-trip: loaded artifact == the oracle query, modulo order
    val root = TestSpark.tempDir("graft-tokids").toString
    val v = TextQueries.tokenIdsArtifact(spark, sf, root)
    assert(v === 1)
    val loaded = ArtifactStore.load(spark, root, "token_ids").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("token_id"), r.getAs[String]("token"))).toSet
    val oracle = TextQueries.tokenIds(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("token_id"), r.getAs[String]("token"))).toSet
    assert(loaded.size === oracle.size)
    assert(loaded === oracle)
    // co-location: a document's tokens never split across part files
    val files = ArtifactStore.load(spark, root, "token_ids")
      .select($"doc_id",
        org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().groupBy($"doc_id").count().filter($"count" > 1).count()
    assert(files === 0L, "a document's tokens split across part files")
  }

  test("streaming deletes tombstone the code table; compaction equals rebuild on survivors") {
    val tmp = TestSpark.tempDir("graft-tomb").toString
    val root = s"$tmp/store"; val delDir = s"$tmp/deletes"
    val ck = s"$tmp/ck"
    // publish the served artifact: the corpus code table (vec_id -> c_id)
    val cents = SimilarityQueries.trainedCents(spark, sf)
    val codes = StreamJobs.annIngestStream(Tables.embeddings(spark, sf), cents)
    ArtifactStore.save(codes, root, "codes") // v1
    // a delete feed arrives in two micro-batches: vec_id % 7 == 3
    val dels = Tables.embeddings(spark, sf).select($"vec_id")
      .filter($"vec_id" % 7 === 3)
    dels.filter($"vec_id" % 2 === 0).coalesce(1)
      .write.mode("append").parquet(delDir)
    dels.filter($"vec_id" % 2 === 1).coalesce(1)
      .write.mode("append").parquet(delDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType)))
    val delStream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(delDir)
    val q = StreamJobs.annDeleteStream(delStream, root, "codes", ck).start()
    try q.processAllAvailable() finally StreamGuards.stop(q)
    // 1) deletes are visible BEFORE compaction via the surviving view,
    //    and equal a from-scratch assignment of the surviving vectors
    //    under the SAME centroids (the post-delete == rebuild pin)
    val surviving = ArtifactStore
      .loadSurviving(spark, root, "codes", "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuilt = StreamJobs.annIngestStream(
        Tables.embeddings(spark, sf).filter($"vec_id" % 7 =!= 3), cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(surviving === rebuilt, "tombstone view != rebuild on survivors")
    assert(!surviving.keys.exists(_ % 7 == 3), "a deleted id survived")
    // 2) compaction folds the log into a fresh version and clears it
    val v2 = ArtifactStore.compact(spark, root, "codes", "vec_id")
    assert(v2 === 2)
    assert(ArtifactStore.tombstones(spark, root, "codes").isEmpty,
      "tombstone log not cleared by compaction")
    val compacted = ArtifactStore.load(spark, root, "codes")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compacted === rebuilt, "compacted artifact != rebuild on survivors")
    // 3) a second compact with an empty log is a no-op (no new version)
    assert(ArtifactStore.compact(spark, root, "codes", "vec_id") === 2)
    // 4) idempotence: re-delivering the same delete batch after
    //    compaction is harmless (anti-join finds nothing to remove)
    ArtifactStore.tombstone(dels, root, "codes")
    val again = ArtifactStore
      .loadSurviving(spark, root, "codes", "vec_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === rebuilt)
  }

  test("a consumer off the LOADED index equals the in-session assignment") {
    val root = TestSpark.tempDir("graft-artifacts-c").toString
    ArtifactStore.save(SimilarityQueries.trainedCents(spark, sf), root, "ivf_cents")
    // the streaming ingest twin's static side, resolved from the store —
    // the re-trained-index refresh path made cross-session
    val loaded = ArtifactStore.load(spark, root, "ivf_cents")
    val viaStore = StreamJobs
      .annIngestStream(Tables.embeddings(spark, sf), loaded)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = SimilarityQueries.rankedAssign(spark, sf)
      .filter($"crn" === 1).select($"vec_id", $"c_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStore === batch)
  }

  test("image near-dup serve off the LOADED index equals batch and formula truth") {
    import graft.ext.{MediaFixtures, MultimodalQueries}
    // publish the corpus's banded dHash index, then admit a feed of NEW
    // images (ids 200..229, same generator family so near-dups exist)
    // against the loaded copy — stream == batch == brute formula truth
    val root = TestSpark.tempDir("graft-artifacts-img").toString
    assert(ArtifactStore.save(
      MultimodalQueries.nearDupIndex(spark, sf), root, "image_dhash_index") === 1)
    def payload(id: Long): Array[Byte] = {
      val w = 16 + (id % 7).toInt * 3
      val h = 9 + (id % 5).toInt * 2
      val pix = (x: Int, y: Int) => (x * 7 + y * 13 + id.toInt * 31) % 256
      (id % 3) match {
        case 0 => MediaFixtures.bmpRaster(w, h, pix)
        case 1 => MediaFixtures.pngRaster(w, h, pix)
        case _ => MediaFixtures.gifRaster(w, h, pix)
      }
    }
    val newIds = (200L until 230L).toSeq
    val tmp = TestSpark.tempDir("graft-img-stream").toString
    newIds.grouped(15).zipWithIndex.foreach { case (ids, i) =>
      ids.map(id => (id, payload(id))).toDF("doc_id", "payload")
        .coalesce(1).write.mode("append").parquet(tmp)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(tmp)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val idx = ArtifactStore.load(spark, root, "image_dhash_index")
        val imgs = batch.select(col("doc_id"), col("payload"))
          .as[(Long, Array[Byte])]
        out.synchronized {
          out ++= StreamJobs.imageNearDupServeStream(imgs, idx).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        }
        ()
      }
      .start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    // brute truth from the pixel formula: new × corpus, Hamming <= 3
    def dhashOf(id: Long): Long = {
      val w = 16 + (id % 7).toInt * 3
      val h = 9 + (id % 5).toInt * 2
      def v(x: Int, y: Int) = (x * 7 + y * 13 + id.toInt * 31) % 256
      var bits = 0L
      for (j <- 0 until 8; i <- 0 until 8) {
        val y = j * h / 8
        if (v(i * w / 9, y) > v((i + 1) * w / 9, y))
          bits |= 1L << (j * 8 + i)
      }
      bits
    }
    val truth = (for {
      n <- newIds; c <- 0L until 120L
      d = java.lang.Long.bitCount(dhashOf(n) ^ dhashOf(c))
      if d <= 3
    } yield (n, c, d.toLong)).toSet
    assert(truth.nonEmpty, "fixture family produced no cross near-dups")
    assert(out.toSet === truth,
      "streamed serve diverged from the brute formula truth")
  }

  test("substring admission off the LOADED index equals batch, with bp anchors") {
    import graft.ext.DedupQueries
    val root = TestSpark.tempDir("graft-artifacts-substr").toString
    assert(ArtifactStore.save(
      DedupQueries.substringIndex(spark, sf), root, "substr_index") === 1)
    // feed: one verbatim corpus copy (must probe 10000 bp), one mixed doc
    // (corpus fragment + alien tail), one fully-alien doc (digits never
    // occur in the word-soup corpus -> 0 bp)
    val corpus = Tables.documents(spark, sf)
      .filter(length($"text") >= 120).orderBy($"doc_id")
      .select($"text").as[String].take(2)
    val feed = Seq(
      (9001L, corpus(0)),
      (9002L, corpus(1).substring(0, 80) + " 0123456789012345678901234567890123456789012345"),
      (9003L, "0123456789!@#$%0123456789!@#$%0123456789!@#$%0123456789!@#$%0123456789!@#$%0123456789"))
    val tmp = TestSpark.tempDir("graft-substr-stream").toString
    feed.grouped(2).foreach { g =>
      g.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(tmp)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(tmp)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val idx = ArtifactStore.load(spark, root, "substr_index")
        out.synchronized {
          out ++= StreamJobs.substringAdmitStream(batch, idx).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        }
        ()
      }
      .start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    // stream == batch off the same loaded artifact
    val batchRows = DedupQueries.substringOverlapOf(
        spark.read.parquet(tmp),
        ArtifactStore.load(spark, root, "substr_index"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet === batchRows.toSet)
    val byDoc = out.map(r => r._1 -> r).toMap
    assert(byDoc(9001L)._4 === 10000L, "verbatim corpus copy must fully hit")
    assert(byDoc(9003L)._4 === 0L, "alien-alphabet doc must miss entirely")
    val mixed = byDoc(9002L)
    assert(mixed._4 > 0L && mixed._4 < 10000L,
      s"mixed doc should partially hit, got $mixed")
  }

  test("quality model off the LOADED artifact scores a stream equal to batch") {
    import graft.ext.CurateQueries
    // the distilled-filter deployment: train on weak labels, SHIP the one
    // weight relation (bias row included), gate the document feed off the
    // loaded copy via per-batch foreachBatch reload
    val root = TestSpark.tempDir("graft-artifacts-q").toString
    val docs = Tables.documents(spark, sf)
    assert(ArtifactStore.save(CurateQueries.nbTrain(docs), root, "quality_nb") === 1)
    val tmp = TestSpark.tempDir("graft-qdoc-stream").toString
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(tmp)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(tmp)
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Long)]()
    val q = StreamJobs.docsStream(spark, tmp, maxFilesPerTrigger = Some(1))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val model = ArtifactStore.load(spark, root, "quality_nb")
        out.synchronized {
          out ++= StreamJobs.qualityScoreStream(batch, model).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
              r.getLong(3), r.getLong(4)))
        }
        ()
      }
      .start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val batchRows = CurateQueries.nbScore(docs, CurateQueries.nbTrain(docs))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(out.toSet === batchRows,
      "stream scoring off the loaded model diverged from batch")
    assert(out.size === batchRows.size)
  }

  test("skyline frontier maintained incrementally equals the batch Pareto front") {
    import graft.ext.CurateQueries
    // the XC6 streaming deployment: the standing LENGTH DICTIONARY is the
    // state — each micro-batch folds its delta dictionary into the loaded
    // standing copy and publishes the merge as the next artifact version
    // (O(|delta| + |dict|), never a corpus replay); the frontier derives
    // from the dictionary on read
    val root = TestSpark.tempDir("graft-artifacts-sky").toString
    val docs = Tables.documents(spark, sf)
    val tmp = TestSpark.tempDir("graft-sky-stream").toString
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(tmp)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(tmp)
    // seed version: an empty dictionary with the right schema
    val empty = CurateQueries.skylineDict(
      CurateQueries.skylineScore(docs.limit(0)))
    assert(ArtifactStore.save(empty, root, "skyline_dict") === 1)
    val q = StreamJobs.docsStream(spark, tmp, maxFilesPerTrigger = Some(1))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // serialize folds: load newest, merge the batch in, publish
        this.synchronized {
          val standing = ArtifactStore.load(spark, root, "skyline_dict")
          val merged = StreamJobs.skylineDictUpdate(batch, standing)
          ArtifactStore.save(merged, root, "skyline_dict")
        }
        ()
      }
      .start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val streamed = StreamJobs.skylineFrontier(
        ArtifactStore.load(spark, root, "skyline_dict"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = CurateQueries.skylineDocs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(streamed.toSeq === batch.toSeq,
      "incrementally-maintained frontier diverged from the batch skyline")
    assert(streamed.nonEmpty)
    // two delta folds happened on top of the seed
    assert(ArtifactStore.load(spark, root, "skyline_dict") != null)
  }

  test("dense global ids continue across micro-batches and restarts (one-number state)") {
    import graft.analytics.LayoutQueries
    // stage the corpus as two doc_id-ordered files so arrival order ==
    // doc_id order and the streamed assignment must EQUAL the batch one
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text",
      $"lang", $"source", $"n_chars")
    val ids = docs.select($"doc_id").as[Long].collect().sorted
    val cut = ids(ids.length / 2)
    val tmp = TestSpark.tempDir("graft-gid-stream").toString
    docs.filter($"doc_id" <= cut).coalesce(1).write.mode("append").parquet(tmp)
    Thread.sleep(1100) // distinct mtimes => deterministic file order
    docs.filter($"doc_id" > cut).coalesce(1).write.mode("append").parquet(tmp)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    var assigned = 0L // the one-number checkpoint
    val q = StreamJobs.docsStream(spark, tmp, maxFilesPerTrigger = Some(1))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        this.synchronized {
          val withIds = StreamJobs.globalIdsUpdate(batch, assigned).collect()
          out ++= withIds.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          assigned += withIds.length
        }
        ()
      }
      .start()
    try { q.processAllAvailable() } finally StreamGuards.stop(q)
    val batchIds = LayoutQueries.globalRowIds(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.sortBy(_._1).toSeq === batchIds.toSeq,
      "streamed id assignment diverged from the batch row_number form")
    // restart continuation: a later batch starts past the checkpoint
    val more = StreamJobs.globalIdsUpdate(
        docs.limit(3).select($"doc_id", $"lang"), assigned)
      .collect().map(_.getLong(0)).sorted
    assert(more.head === assigned + 1 && more.last === assigned + 3)
  }

  test("streaming plan guard: serve-twin micro-batch plans are clean") {
    // Closing guard for this suite's streaming runs (the artifact-backed
    // serve twins, mostly unnamed foreachBatch queries) — see
    // StreamingSpec's closing test and StreamGuards for the mechanism.
    StreamGuards.assertClean(Set("pin_probe", "unnamed"))
  }
}
