package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ingest.{CtaFixtures, CtaIngest}
import graft.sources.{RestPoller, RestTransports}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 polling connector (S1/T1 as a real MicroBatchStream,
  * `format("graft-rest")`): ingest equivalence against the batch normalize
  * path over the mock fixtures, poll-cycle offsets, and the reference's
  * pinned retry contract asserted THROUGH the source (not just through the
  * RestPoller unit, which IngestSpec covers).
  */
class RestFeedSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Mock transport: parse `rt=` out of the request URL, serve the fixture
    * body for that route — the offline stand-in for ttpositions.aspx. */
  private def fixtureTransport(url: String): RestPoller.HttpResponse = {
    val rt = url.split("[?&]").collectFirst {
      case kv if kv.startsWith("rt=") => kv.stripPrefix("rt=")
    }.getOrElse(fail(s"no rt= in $url"))
    val body = CtaFixtures.feeds.collectFirst {
      case (line, _, json) if line == rt => json
    }.getOrElse(fail(s"no fixture for route $rt"))
    RestPoller.HttpResponse(200, body)
  }

  private def baseOptions(transportId: String): Map[String, String] = Map(
    "base" -> "http://mock.local",
    "apikey" -> "k",
    "lines" -> CtaFixtures.feeds.map(_._1).mkString(","),
    "cycles" -> "1",
    "pollIntervalMs" -> "0",
    "pollTs" -> "2025-07-01T08:30:00",
    "transport" -> transportId)

  test("rate limit: cycles open by wall clock, bounded by maxCycles; offsets round-trip") {
    import graft.sources.{CycleOffset, RestFeedConfig, RestFeedMicroBatch, RestFeedPartition}
    // a 1-hour interval: only cycle 1 is open at stream start — a hot
    // trigger loop cannot out-poll the provider's envelope
    val slow = new RestFeedMicroBatch(RestFeedConfig(
      base = "", apiKey = "", lines = Seq("Red", "Blue"),
      pollIntervalMs = 3600000L, maxCycles = 100L,
      transportId = "none", fixedPollTs = None))
    val c1 = slow.latestOffset().asInstanceOf[CycleOffset].cycle
    assert(c1 === 1L, s"expected exactly one open cycle at start, got $c1")
    // interval 0: the clock never gates, maxCycles bounds the run
    val fast = new RestFeedMicroBatch(RestFeedConfig(
      base = "", apiKey = "", lines = Seq("Red"),
      pollIntervalMs = 0L, maxCycles = 7L,
      transportId = "none", fixedPollTs = None))
    assert(fast.latestOffset().asInstanceOf[CycleOffset].cycle === 7L)
    // offset JSON round-trips through the checkpoint log representation
    assert(fast.deserializeOffset(CycleOffset(41L).json()) === CycleOffset(41L))
    // batch (start, end] plans one partition per cycle, carrying every
    // route in `lines` order
    val parts = slow.planInputPartitions(CycleOffset(3L), CycleOffset(5L))
      .map(_.asInstanceOf[RestFeedPartition])
    assert(parts.map(p => (p.cycle, p.lines)).toSeq ===
      Seq((3L, Seq("Red", "Blue")), (4L, Seq("Red", "Blue"))))
  }

  test("a one-cycle landing batch writes one parquet file, rows equal batch normalize") {
    RestTransports.register("spec-land", fixtureTransport)
    val tmp = TestSpark.tempDir("graft-rest-land").toString
    val q = graft.streaming.StreamJobs.landObservations(
        graft.streaming.StreamJobs.rawFeedStreamRest(spark,
          baseOptions("spec-land") + ("cycles" -> "3") +
            ("maxCyclesPerTrigger" -> "1")),
        s"$tmp/lake", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    // one task per cycle: 3 one-cycle batches land 3 data files (one per
    // route with trains would be 6: Red and Blue each cycle)
    val lake = spark.read.parquet(s"$tmp/lake")
    assert(lake.inputFiles.length === 3, lake.inputFiles.mkString("\n"))
    val cols = Seq($"train_id", $"line", $"observed_at", $"next_station",
      $"is_train_delayed")
    def sorted(rows: Seq[org.apache.spark.sql.Row]) = rows.map(_.toSeq.mkString("|")).sorted
    val got = sorted(lake.select(cols: _*).collect().toSeq)
    val once = CtaIngest.normalize(CtaFixtures.feedDf(spark)).select(cols: _*)
      .collect().toSeq
    assert(once.nonEmpty)
    assert(got === sorted(Seq.fill(3)(once).flatten))
  }

  test("a cycle's routes are fetched concurrently, more routes than task slots") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    // every call waits until all 7 reference routes are in flight at once;
    // a reader that fetches fewer at a time (sequentially, or one route
    // per task on local[4,2]'s 4 slots) times out and answers 500
    val lines = graft.model.CtaSchemas.trainLines.map(_._1)
    assert(lines.size === 7)
    val inFlight = new CountDownLatch(lines.size)
    val calls = new AtomicInteger(0)
    val timeouts = new AtomicInteger(0)
    RestTransports.register("spec-latch", { _ =>
      calls.incrementAndGet()
      inFlight.countDown()
      if (inFlight.await(10, TimeUnit.SECONDS))
        RestPoller.HttpResponse(200, CtaFixtures.noRoute)
      else { timeouts.incrementAndGet(); RestPoller.HttpResponse(500, "timeout") }
    })
    val tmp = TestSpark.tempDir("graft-rest-latch").toString
    val q = spark.readStream.format("graft-rest")
      .options(baseOptions("spec-latch") - "lines").load()
      .writeStream.format("memory").queryName("rest_latch")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    assert(q.awaitTermination(120000))
    assert(timeouts.get() === 0)
    assert(calls.get() === lines.size, "each route fetched exactly once")
    // one row per route, in `lines` order
    assert(spark.table("rest_latch").select($"line").as[String].collect()
      .toSeq === lines)
  }

  test("admission control: maxCyclesPerTrigger bounds each micro-batch to one cycle") {
    RestTransports.register("spec-admission", fixtureTransport)
    val tmp = TestSpark.tempDir("graft-rest-adm").toString
    val batches = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("graft-rest")
      .options(baseOptions("spec-admission") +
        ("cycles" -> "3") + ("maxCyclesPerTrigger" -> "1") +
        ("lines" -> "Red,Blue"))
      .load()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += batch.count() }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    assert(q.awaitTermination(120000))
    // the 3-cycle drain is split into 3 batches of one cycle (2 routes)
    // each — the backpressure bound a catch-up after downtime needs —
    // and AvailableNow still self-stops at the frozen target
    assert(batches.toSeq === Seq(2L, 2L, 2L),
      s"expected 3 one-cycle batches, got $batches")
  }

  test("connector ingest == batch q_ingest_normalize over the mock fixtures") {
    RestTransports.register("spec-fixture", fixtureTransport)
    val tmp = TestSpark.tempDir("graft-rest-src").toString
    val q = graft.streaming.StreamJobs
      .rawFeedStreamRest(spark, baseOptions("spec-fixture"))
      .writeStream.format("memory").queryName("rest_ingest")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    assert(q.awaitTermination(120000))
    val got = spark.table("rest_ingest")
      .select($"train_id", $"line", $"observed_at", $"next_station",
        $"is_train_delayed")
      .collect().map(_.toSeq).toSet
    val want = CtaIngest.normalize(CtaFixtures.feedDf(spark))
      .select($"train_id", $"line", $"observed_at", $"next_station",
        $"is_train_delayed")
      .collect().map(_.toSeq).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("offsets are poll cycles: N cycles fetch each route N times, resume continues") {
    val calls = new AtomicInteger(0)
    RestTransports.register("spec-counting", { url =>
      calls.incrementAndGet(); fixtureTransport(url)
    })
    val tmp = TestSpark.tempDir("graft-rest-off").toString
    val opts = baseOptions("spec-counting") + ("cycles" -> "2")
    // file sink: the one memory can't do — recover from the checkpoint
    def drain(): Unit = {
      val q = spark.readStream.format("graft-rest").options(opts).load()
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      assert(q.awaitTermination(120000))
    }
    drain()
    // 2 cycles x 4 routes
    assert(calls.get() === 8)
    assert(spark.read.parquet(s"$tmp/out").count() === 8)
    // same checkpoint, same maxCycles: everything is committed, a resumed
    // drain fetches NOTHING (offset log, not the clock, decides)
    drain()
    assert(calls.get() === 8)
    assert(spark.read.parquet(s"$tmp/out").count() === 8)
  }

  test("restart anchors the poll clock to the RESTORED offset, not process start") {
    import graft.sources.{CycleOffset, RestFeedConfig, RestFeedMicroBatch}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // a resumed stream after 5 committed cycles: the clock target must sit
    // at the committed cycle (one fresh cycle opens immediately, as on a
    // fresh start) — NOT at 1 + elapsed/interval, which clamped every
    // step to zero until wall-clock caught up with the prior uptime
    // (~a day of silence per day of prior uptime at the 60 s cadence)
    val resumed = new RestFeedMicroBatch(RestFeedConfig(
      base = "", apiKey = "", lines = Seq("Red"),
      pollIntervalMs = 3600000L, maxCycles = 100L,
      transportId = "none", fixedPollTs = None))
    resumed.setLatestSeenOffset(CycleOffset(5L)) // checkpoint restore path
    val next = resumed
      .latestOffset(CycleOffset(5L), ReadLimit.allAvailable())
      .asInstanceOf[CycleOffset].cycle
    assert(next === 6L,
      s"resumed stream should open exactly one fresh cycle, got $next")
    // without the restore callback, the first latestOffset(start, _) call
    // anchors to its start cycle — same behavior
    val lazyAnchored = new RestFeedMicroBatch(RestFeedConfig(
      base = "", apiKey = "", lines = Seq("Red"),
      pollIntervalMs = 3600000L, maxCycles = 100L,
      transportId = "none", fixedPollTs = None))
    val n2 = lazyAnchored
      .latestOffset(CycleOffset(7L), ReadLimit.allAvailable())
      .asInstanceOf[CycleOffset].cycle
    assert(n2 === 8L)
  }

  test("catch-up after downtime: backlog opens at once, admission paces it, clock gates after") {
    import graft.sources.{CycleOffset, RestFeedConfig, RestFeedMicroBatch}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // clock injection: a stream with 5 committed cycles restarts after
    // 10 minutes of downtime at the 60 s reference cadence — 10 cycles
    // of backlog are owed IMMEDIATELY (not one per restart, the failure
    // mode the r12 anchor fix removed; not over 10 more minutes, which a
    // re-anchored clock would enforce)
    var now = 1000000000L
    val mb = new RestFeedMicroBatch(RestFeedConfig(
      base = "", apiKey = "", lines = Seq("Red"),
      pollIntervalMs = 60000L, maxCycles = 1000L,
      transportId = "none", fixedPollTs = None,
      maxCyclesPerTrigger = 2L), () => now)
    mb.setLatestSeenOffset(CycleOffset(5L)) // checkpoint restore anchors here
    now += 600000L // 10 min of downtime elapse
    // drain: each micro-batch steps at most 2 cycles toward the target
    // (5 committed + 1 fresh + 10 owed = 16) — sustained-rate recovery,
    // bounded per batch, no further clock advance needed
    val steps = Iterator.iterate(5L) { cur =>
      mb.latestOffset(CycleOffset(cur), ReadLimit.allAvailable())
        .asInstanceOf[CycleOffset].cycle
    }.drop(1).take(6).toSeq
    assert(steps === Seq(7L, 9L, 11L, 13L, 15L, 16L),
      s"backlog must drain in admission-sized steps to the clock target: $steps")
    // caught up: with the clock still, the next batch admits nothing
    val idle = mb.latestOffset(CycleOffset(16L), ReadLimit.allAvailable())
      .asInstanceOf[CycleOffset].cycle
    assert(idle === 16L, "caught-up stream must go idle, not over-poll")
    // steady state: one interval opens exactly one more cycle
    now += 60000L
    val next = mb.latestOffset(CycleOffset(16L), ReadLimit.allAvailable())
      .asInstanceOf[CycleOffset].cycle
    assert(next === 17L, "post-catch-up cadence must be 1 cycle per interval")
  }

  test("resume with a nonzero poll interval keeps fetching (checkpointed AvailableNow drains)") {
    val calls = new AtomicInteger(0)
    RestTransports.register("spec-resume-counting", { url =>
      calls.incrementAndGet(); fixtureTransport(url)
    })
    val tmp = TestSpark.tempDir("graft-rest-resume").toString
    // the documented scheduled-drain shape: a long interval, unbounded
    // cycles, one AvailableNow drain per process — each drain must fetch
    // its one fresh cycle even though elapsed wall-clock is ~0
    val opts = baseOptions("spec-resume-counting") -
      "cycles" + ("pollIntervalMs" -> "3600000")
    def drain(): Unit = {
      val q = spark.readStream.format("graft-rest").options(opts).load()
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      assert(q.awaitTermination(120000))
    }
    drain()
    val routes = CtaFixtures.feeds.size
    assert(calls.get() === routes) // cycle 1
    drain() // fresh scan instance = fresh process, offset restored from ckpt
    assert(calls.get() === 2 * routes,
      "resumed drain fetched nothing: poll clock re-anchored to process start")
    assert(spark.read.parquet(s"$tmp/out").count() === 2L * routes)
  }

  test("config guard: interval 0 with unbounded cycles and step is rejected") {
    import graft.sources.RestFeedConfig
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val err = intercept[IllegalArgumentException] {
      RestFeedConfig(new CaseInsensitiveStringMap(
        Map("base" -> "b", "apikey" -> "k", "pollIntervalMs" -> "0").asJava))
    }
    assert(err.getMessage.contains("2^63"))
    // bounding either knob makes it legal
    RestFeedConfig(new CaseInsensitiveStringMap(
      Map("pollIntervalMs" -> "0", "cycles" -> "5").asJava))
    RestFeedConfig(new CaseInsensitiveStringMap(
      Map("pollIntervalMs" -> "0", "maxCyclesPerTrigger" -> "2").asJava))
  }

  test("HTTP 429 retries up to 3 attempts through the source, then succeeds") {
    val attempts = new AtomicInteger(0)
    RestTransports.register("spec-flaky", { url =>
      if (attempts.incrementAndGet() <= 2)
        RestPoller.HttpResponse(429, "slow down")
      else fixtureTransport(url)
    })
    val tmp = TestSpark.tempDir("graft-rest-429").toString
    val q = spark.readStream.format("graft-rest")
      .options(baseOptions("spec-flaky") + ("lines" -> "Red")).load()
      .writeStream.format("memory").queryName("rest_retry")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    assert(q.awaitTermination(120000))
    // two 429s + the success — the reference's pinned <=3 budget absorbed it
    assert(attempts.get() === 3)
    assert(spark.table("rest_retry").count() === 1)
  }

  test("persistent 429 exhausts the 3-attempt budget and fails the task") {
    val attempts = new AtomicInteger(0)
    RestTransports.register("spec-throttled", { _ =>
      attempts.incrementAndGet(); RestPoller.HttpResponse(429, "nope")
    })
    val tmp = TestSpark.tempDir("graft-rest-429f").toString
    val q = spark.readStream.format("graft-rest")
      .options(baseOptions("spec-throttled") + ("lines" -> "Red")).load()
      .writeStream.format("memory").queryName("rest_retry_fail")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    val ex = intercept[StreamingQueryException] { q.awaitTermination(120000) }
    // exactly the reference budget: 3 HTTP attempts PER TASK ATTEMPT, not
    // 4, not 1 — times the 2 task attempts TestSpark's local[4,2] grants
    // (the task-re-drive layer TaskRetrySpec pins; the reference's lambda
    // is likewise re-invoked by its trigger after exhausting its budget)
    assert(attempts.get() === 3 * 2)
    assert(ex.getMessage != null)
  }

  test("non-retryable HTTP error raises immediately (1 attempt, no retry)") {
    val attempts = new AtomicInteger(0)
    RestTransports.register("spec-hard-error", { _ =>
      attempts.incrementAndGet(); RestPoller.HttpResponse(500, "boom")
    })
    val tmp = TestSpark.tempDir("graft-rest-500").toString
    val q = spark.readStream.format("graft-rest")
      .options(baseOptions("spec-hard-error") + ("lines" -> "Red")).load()
      .writeStream.format("memory").queryName("rest_hard_fail")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    intercept[StreamingQueryException] { q.awaitTermination(120000) }
    // 1 HTTP attempt per task attempt (no HTTP retry on a non-retryable
    // status) × the 2 task attempts of local[4,2]
    assert(attempts.get() === 1 * 2)
  }
}
