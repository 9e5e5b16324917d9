package graft

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Randomized checkpoint-kill restart equivalence (round 18, VERDICT r17
  * item 5). The fixed-boundary restart specs in StreamingSpec kill each
  * stateful twin at hand-picked batch boundaries; these properties kill
  * the four twins with the most state machinery — utouchTimersStream
  * (ListState + armed event-time timers), asOfEnrichStream (pending
  * buffer + carried dim state + re-armed timeouts), packStream (the
  * 3-number packer checkpoint), cdcUpsertStream (the external
  * merge-table sink) — at scalacheck-chosen points: the corpus is
  * sliced into a random number of files by a random row→file assignment
  * (so keys straddle the kill MID-KEY by construction, asserted per
  * case), phase 1 drains a random prefix of files and stops, phase 2
  * restarts a FRESH query instance from the same checkpoint with the
  * remaining files, and the final output must equal the batch truth
  * exactly. Deterministic seed (the ContractAndPropertySpec discipline)
  * so a failure replays.
  */
class RestartPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    val seed = rng.Seed(4242L)
    Iterator.iterate((g.pureApply(Gen.Parameters.default, seed), seed)) {
      case (_, s) => val s2 = s.next; (g.pureApply(Gen.Parameters.default, s2), s2)
    }.map(_._1).take(n).toSeq
  }

  /** Write `df` as ONE bare part-file `dir/name` with the given mtime
    * (the file source ignores subdirectories and orders by mtime).
    */
  private def moveIn(df: DataFrame, dir: String, name: String,
      mtime: Long): Unit = {
    val stage = TestSpark.tempDir("graft-restart-stage").toString + "/o"
    df.coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(dir, name)
    java.nio.file.Files.move(part.toPath, dest.toPath)
    dest.setLastModified(mtime): Unit
  }

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // ---------------------------------------------------------------- CDC

  test("cdcUpsertStream: random change log, random slicing, random kill point") {
    // change rows over few keys so kill points straddle keys constantly;
    // seq values are globally unique, so latest-op-wins is deterministic
    // regardless of how the log is sliced into micro-batches.
    val genCase = (for {
      n <- Gen.chooseNum(8, 24)
      keys <- Gen.listOfN(n, Gen.chooseNum(1L, 5L))
      ops <- Gen.listOfN(n, Gen.oneOf("I", "U", "D"))
      sts <- Gen.listOfN(n, Gen.oneOf("O", "F", "P"))
      cents <- Gen.listOfN(n, Gen.chooseNum(0L, 999L))
      nFiles <- Gen.chooseNum(2, 4)
      fileOf <- Gen.listOfN(n, Gen.chooseNum(0, nFiles - 1))
      kill <- Gen.chooseNum(1, nFiles - 1)
    } yield {
      val rows = keys.indices.map(i =>
        (keys(i), i + 1L, sts(i), cents(i), ops(i), fileOf(i)))
      (rows, nFiles, kill)
    }).retryUntil { case (rows, _, kill) =>
      // MID-KEY kill: at least one key has changes on both sides
      val (before, after) = rows.partition(_._6 < kill)
      before.map(_._1).toSet.intersect(after.map(_._1).toSet).nonEmpty &&
        before.nonEmpty && after.nonEmpty
    }
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("seq", LongType),
      StructField("st", StringType), StructField("cents", LongType),
      StructField("op", StringType)))
    samples(genCase, 3).zipWithIndex.foreach { case ((rows, nFiles, kill), ci) =>
      val tmp = TestSpark.tempDir(s"graft-cdc-prop$ci").toString
      val feed = s"$tmp/feed"; val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
      new java.io.File(feed).mkdirs()
      val base = System.currentTimeMillis() - 600000
      def dropFiles(range: Range): Unit = range.foreach { f =>
        val part = rows.filter(_._6 == f).map(r => (r._1, r._2, r._3, r._4, r._5))
        moveIn(part.toDF("k", "seq", "st", "cents", "op"),
          feed, f"f$f%02d.parquet", base + f * 5000)
      }
      def drain(): Unit = {
        val q = StreamJobs.cdcUpsertStream(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(feed), state, ckpt).start()
        try q.processAllAvailable() finally StreamGuards.stop(q)
      }
      dropFiles(0 until kill) // phase 1: random prefix of the log
      drain() // kill: query stops with the merge table mid-history
      dropFiles(kill until nFiles) // phase 2: the rest, fresh instance
      drain()
      val view = StreamJobs.cdcStateView(spark, state).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("seq"),
          r.getAs[String]("st"), r.getAs[Long]("cents"))).toSet
      val expect = rows.groupBy(_._1).values
        .map(_.maxBy(_._2)).filter(_._5 != "D")
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      assert(view === expect, s"case $ci (kill after file $kill/$nFiles)")
    }
  }

  // --------------------------------------------------------------- pack

  test("packStream: random contiguous slicing, random kill point") {
    // the packer requires doc_id monotonicity per stream ACROSS batches,
    // so slices are contiguous doc_id ranges — but cut points ignore
    // (lang, source) boundaries entirely, so streams straddle both the
    // file cuts and the kill (asserted).
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"source", $"doc_id", $"text")
    val all = docs.as[(String, String, Long, String)].collect().sortBy(_._3)
    val n = all.length
    val genCase = (for {
      nFiles <- Gen.chooseNum(3, 5)
      cuts <- Gen.listOfN(nFiles - 1, Gen.chooseNum(1, n - 1))
      kill <- Gen.chooseNum(1, nFiles - 1)
    } yield (cuts.distinct.sorted, kill))
      .retryUntil { case (cuts, kill) => cuts.nonEmpty && kill <= cuts.size }
    def nTok(t: String): Long = "\\S{1,4}".r.findAllIn(t).size.toLong
    val expected = all.groupBy(d => (d._1, d._2)).toSeq.flatMap {
      case ((l, src), ds) =>
        var cum = 0L
        val binPos = scala.collection.mutable.Map[Long, Long]()
        ds.sortBy(_._3).map { case (_, _, id, t) =>
          val tok = nTok(t)
          val bin = cum / 256L
          val pos = binPos.getOrElse(bin, 0L) + 1
          binPos(bin) = pos
          val row = (l, src, bin, pos, id, tok, cum % 256L)
          cum += tok
          row
        }
    }.toSet
    val outSchema = StructType(Seq(
      StructField("lang", StringType), StructField("source", StringType),
      StructField("bin", LongType), StructField("seq_pos", LongType),
      StructField("doc_id", LongType), StructField("n_tok", LongType),
      StructField("start_off", LongType)))
    samples(genCase, 2).zipWithIndex.foreach { case ((cuts, kill), ci) =>
      val bounds = (0 +: cuts :+ n).distinct.sorted
      val slices = bounds.sliding(2).map(b => all.slice(b(0), b(1))).toSeq
        .filter(_.nonEmpty)
      val killAt = math.min(kill, slices.size - 1)
      val tmp = TestSpark.tempDir(s"graft-pack-prop$ci").toString
      val feed = s"$tmp/feed"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      new java.io.File(feed).mkdirs()
      val base = System.currentTimeMillis() - 600000
      def dropSlice(i: Int): Unit =
        moveIn(slices(i).toSeq.toDF("lang", "source", "doc_id", "text"),
          feed, f"s$i%02d.parquet", base + i * 5000)
      def drain(): Unit = {
        val q = StreamJobs.packStream(
            StreamJobs.docsStream(spark, feed, maxFilesPerTrigger = Some(1)))
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(180000), "pack drain timed out")
      }
      (0 until killAt).foreach(dropSlice)
      drain() // kill mid-corpus: packer state lives in the checkpoint
      (killAt until slices.size).foreach(dropSlice)
      drain()
      val streamed = spark.read.schema(outSchema).parquet(out).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).toSet
      assert(streamed === expected,
        s"case $ci (cuts=$cuts kill=$killAt) diverged from the batch first-fit")
      // the kill genuinely fell mid-stream: some (lang, source) stream
      // has docs on both sides of it
      val killId = slices(killAt).head._3
      val straddles = expected.groupBy(r => (r._1, r._2)).exists {
        case (_, rs) => rs.exists(_._5 < killId) && rs.exists(_._5 >= killId)
      }
      assert(straddles, s"case $ci: kill fell on a stream boundary — vacuous")
    }
  }

  // -------------------------------------------------------------- as-of

  test("asOfEnrichStream: random file assignment, random two-sided kill point") {
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type",
        expr("cast(round(value * 100) as bigint)").as("v_cents"))
    val dimRows = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"ts", $"event_id", $"event_type".as("state"))
      .collect()
    val factRows = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"v_cents")
      .collect()
    val dimSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("state", StringType)))
    val factSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("v_cents", LongType)))
    val maxUs = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
    // batch truth: the same union + carry-forward window as q_scd2_asof
    val wCarry = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_us", $"is_fact", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val batch = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        lit(0).as("is_fact"), $"event_type".as("state"), lit(0L).as("v_cents"))
      .unionByName(ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
          lit(1).as("is_fact"), lit(null).cast("string").as("state"),
          $"v_cents"))
      .withColumn("cur", last($"state", ignoreNulls = true).over(wCarry))
      .filter($"is_fact" === 1)
      .select($"user_id", $"ts_us", $"event_id",
        coalesce($"cur", lit("none")).as("state_at_fact"), $"v_cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSet
    // SOUND randomization: the job's contract bounds feed disorder by the
    // 1-hour watermark lag (an arbitrary row-to-file shuffle of a
    // month-spanning corpus delivers rows the watermark has legitimately
    // closed — they are DROPPED as late, correctly). So the slicing is by
    // TIME BANDS over the merged dim+fact timeline at random cut points
    // (bands arrive in order, each band one micro-batch per side via
    // maxFilesPerTrigger=1 with per-band empty placeholder files keeping
    // the two sources batch-aligned), plus bounded JITTER: rows within
    // 30 min below a cut may randomly defer into the NEXT band's file —
    // a genuine cross-batch late arrival (a dim change landing a batch
    // after facts with later event time, mid-key), yet inside the lag:
    // the watermark visible to batch i+1 derives from batches ≤ i, so a
    // deferred row at ts ≥ cut − 30 min always clears it.
    val merged: Seq[(Int, Row, Long)] = // (0=dim,1=fact, row, ts_us)
      (dimRows.map(r => (0, r, r.getTimestamp(1).getTime * 1000L)) ++
        factRows.map(r => (1, r, r.getTimestamp(1).getTime * 1000L)))
        .sortBy(t => (t._3, t._1)).toSeq
    val nRows = merged.size
    val genCase = (for {
      nBands <- Gen.chooseNum(3, 5)
      cutIdx <- Gen.listOfN(nBands - 1, Gen.chooseNum(1, nRows - 1))
      jitterSalt <- Gen.chooseNum(0L, Long.MaxValue / 2)
      kill <- Gen.chooseNum(1, 4)
    } yield (cutIdx.distinct.sorted, jitterSalt, kill)).retryUntil {
      case (cuts, _, _) =>
        // every band wide enough that jitter can't drain it, every phase
        // holding a meaningful share of history, and at least one row in
        // a deferral window so the late-arrival leg is never vacuous
        val bs = (0 +: cuts :+ nRows).distinct.sorted
        val cts = bs.drop(1).dropRight(1).map(i => merged(i)._3)
        cuts.nonEmpty && bs.sliding(2).forall(b => b(1) - b(0) >= 50) && {
          val nb = bs.size - 1
          (0 until nRows).exists { i =>
            val b = bs.lastIndexWhere(_ <= i)
            b < nb - 1 && cts(b) - merged(i)._3 <= 3300L * 1000000L
          }
        }
    }
    samples(genCase, 2).zipWithIndex.foreach {
      case ((cuts, jitterSalt, kill0), ci) =>
        val bounds = (0 +: cuts :+ nRows).distinct.sorted
        val nBands = bounds.size - 1
        val killAt = math.min(kill0, nBands - 1)
        val cutTs = bounds.drop(1).dropRight(1).map(i => merged(i)._3)
        def bandOf(i: Int): Int = {
          val b = bounds.lastIndexWhere(_ <= i)
          val (_, row, ts) = merged(i)
          // bounded deferral across the upcoming cut: every row within
          // 55 min below it moves to the next band (safe: the watermark
          // visible to batch b+1 derives from batches ≤ b, i.e. it sits
          // ≥ 1 h below the cut, so a deferred row always clears it)
          if (b < nBands - 1 && cutTs(b) - ts <= 3300L * 1000000L) b + 1
          else b
        }
        val tmp = TestSpark.tempDir(s"graft-asof-prop$ci").toString
        val dimDir = s"$tmp/dim"; val factDir = s"$tmp/fact"
        val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
        new java.io.File(dimDir).mkdirs(); new java.io.File(factDir).mkdirs()
        val base = System.currentTimeMillis() - 600000
        def dropBands(range: Range): Unit = range.foreach { b =>
          val rows = merged.indices.filter(bandOf(_) == b).map(merged)
          // empty placeholder files keep both sources' file sequences
          // band-aligned so neither side runs ahead of the watermark
          moveIn(spark.createDataFrame(java.util.Arrays.asList(
              rows.filter(_._1 == 0).map(_._2): _*), dimSchema),
            dimDir, f"d$b%02d.parquet", base + b * 5000)
          moveIn(spark.createDataFrame(java.util.Arrays.asList(
              rows.filter(_._1 == 1).map(_._2): _*), factSchema),
            factDir, f"f$b%02d.parquet", base + b * 5000)
        }
        def drain(withSentinels: Boolean): Unit = {
          val (dim, fact) = (
            spark.readStream.schema(dimSchema).option("maxFilesPerTrigger", 1)
              .parquet(dimDir),
            spark.readStream.schema(factSchema).option("maxFilesPerTrigger", 1)
              .parquet(factDir))
          val q = StreamJobs.asOfEnrichStream(dim, fact)
            .writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          assert(q.awaitTermination(180000), "as-of drain timed out")
          if (withSentinels) {
            // two sentinel dim rows for an unrelated key push the
            // watermark past every real row so all pending state matures
            (0 to 1).foreach { i =>
              val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
                (maxUs + 7200L * 1000000L + i) / 1000000L, 0))
              moveIn(spark.createDataFrame(java.util.List.of(
                  Row(-1L, ts, 999999200L + i, "noise")), dimSchema),
                dimDir, s"zz_sent$i.parquet",
                System.currentTimeMillis() + 60000 + i)
              val q2 = StreamJobs.asOfEnrichStream(
                  spark.readStream.schema(dimSchema)
                    .option("maxFilesPerTrigger", 1).parquet(dimDir),
                  spark.readStream.schema(factSchema)
                    .option("maxFilesPerTrigger", 1).parquet(factDir))
                .writeStream.outputMode("append").format("parquet")
                .option("path", out).option("checkpointLocation", ckpt)
                .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
                .start()
              assert(q2.awaitTermination(180000), "sentinel drain timed out")
            }
          }
        }
        dropBands(0 until killAt)
        drain(withSentinels = false) // kill mid-timeline
        dropBands(killAt until nBands)
        drain(withSentinels = true)
        // the kill split at least one user's history AND deferred at
        // least one row across a batch cut (the late-arrival hard case)
        val usersBefore = (0 until nRows)
          .filter(bandOf(_) < killAt).map(merged(_)._2.getLong(0)).toSet
        val usersAfter = (0 until nRows)
          .filter(bandOf(_) >= killAt).map(merged(_)._2.getLong(0)).toSet
        assert(usersBefore.intersect(usersAfter).nonEmpty,
          s"case $ci: no user straddled the kill — vacuous " +
            s"(killAt=$killAt nBands=$nBands bounds=$bounds " +
            s"before=${usersBefore.size} after=${usersAfter.size})")
        assert((0 until nRows).exists(i =>
          bandOf(i) != bounds.lastIndexWhere(_ <= i)),
          s"case $ci: no row deferred across a cut — jitter vacuous")
        val outSchema = StructType(Seq(
          StructField("user_id", LongType), StructField("ts_us", LongType),
          StructField("event_id", LongType),
          StructField("state_at_fact", StringType),
          StructField("v_cents", LongType)))
        val streamed = spark.read.schema(outSchema).parquet(out).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
            r.getLong(4))).toSet
        assert(streamed === batch,
          s"case $ci (cuts=$cuts jitterSalt=$jitterSalt kill=$killAt/$nBands): " +
            s"extra=${(streamed -- batch).take(3)} " +
            s"missing=${(batch -- streamed).take(3)}")
    }
  }

  // ------------------------------------------------------------- utouch

  test("utouchTimersStream: random shuffling, random mid-corpus kill point") {
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val ev = Tables.events(spark, sf)
    val maxUs = ev.agg(max(unix_micros($"ts"))).head().getLong(0)
    val batch = graft.analytics.IncrementalQueries
      .attributionUTouch(spark, sf).collect()
      .map(r => r.getAs[String]("touch_type") ->
        (r.getAs[Long]("n_credits"), r.getAs[Long]("bp_total"),
          r.getAs[Long]("credited_cents")))
      .toMap
    val genCase = for {
      nFiles <- Gen.chooseNum(2, 4)
      salt <- Gen.chooseNum(0L, Long.MaxValue / 2)
      kill <- Gen.chooseNum(1, 3).map(k => math.min(k, nFiles - 1))
    } yield (nFiles, salt, kill)
    samples(genCase, 2).zipWithIndex.foreach { case ((nFiles, salt, kill), ci) =>
      val tmp = TestSpark.tempDir(s"graft-utouch-prop$ci").toString
      val drop = s"$tmp/drop"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      new java.io.File(drop).mkdirs()
      val base = System.currentTimeMillis() - 600000
      def dropFiles(range: Range): Unit = range.foreach { f =>
        moveIn(raw.filter(
            pmod(expr(s"event_id * 2654435761 + ${salt}L"), lit(nFiles)) === f),
          drop, f"e$f%02d.parquet", base + f * 5000)
      }
      def drain(tag: String): Unit = withRocksDb {
        val q = StreamJobs
          .utouchTimersStream(
            StreamJobs.eventsStream(spark, drop, maxFilesPerTrigger = Some(1)),
            delay = "365 days")
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(240000), s"drain $tag timed out (case $ci)")
      }
      dropFiles(0 until kill)
      drain("p1") // kill: buffered touches/purchases + armed timers in ckpt
      dropFiles(kill until nFiles)
      // sentinels advance the watermark past every purchase's window
      val sent = StructType(raw.schema.fields)
      Seq(366L, 367L).zipWithIndex.foreach { case (days, i) =>
        val tsUs = maxUs + days * 24 * 3600 * 1000000L
        val tsVal: Any = raw.schema("ts").dataType match {
          case LongType => tsUs * 1000L
          case _ => java.time.LocalDateTime.ofEpochSecond(
            tsUs / 1000000L, ((tsUs % 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        }
        moveIn(spark.createDataFrame(java.util.List.of(
            Row(999990L + i, tsVal, 999999L, "view", 0.0, "{}")), sent),
          drop, s"zz_sent$i.parquet", System.currentTimeMillis() + 60000 + i)
      }
      drain("p2")
      val creditSchema = StructType(Seq(
        StructField("touch_type", StringType),
        StructField("credit_bp", LongType),
        StructField("credited_cents", LongType)))
      val streamed = spark.read.schema(creditSchema).parquet(out)
        .groupBy($"touch_type")
        .agg(count(lit(1)).as("n"), sum($"credit_bp").as("bp"),
          sum($"credited_cents").as("cc"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(streamed === batch,
        s"case $ci (files=$nFiles salt=$salt kill=$kill): census diverged " +
          "— timers or ListState lost across the randomized restart")
      // the kill genuinely split users' histories
      val users = raw.select($"user_id", $"event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val straddle = users.groupBy(_._1).exists { case (_, es) =>
        val fs = es.map(e => (((e._2 * 2654435761L + salt) % nFiles
          + nFiles) % nFiles).toInt)
        fs.exists(_ < kill) && fs.exists(_ >= kill)
      }
      assert(straddle, s"case $ci: no user straddled the kill — vacuous")
    }
  }

  test("streaming plan guard: this suite's guarded runs are clean") {
    // Per-suite closing guard (round 19: StreamGuards accumulators are
    // scoped by suite, so this asserts exactly the runs above — the
    // cdcUpsertStream drains route through StreamGuards.stop unnamed).
    StreamGuards.assertClean(Set("unnamed"))
  }
}
