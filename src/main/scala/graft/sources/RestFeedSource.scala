package graft.sources

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util
import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import graft.model.CtaSchemas
import graft.streaming.StreamJobs
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1/T1 as a REAL streaming connector: a DataSource V2 `MicroBatchStream`
  * that polls the Train-Tracker positions API (reference
  * get_train_status.py:29-43 — `ttpositions.aspx?key=…&rt=…&outputType=JSON`
  * behind a per-minute scheduler, main.tf:271-277) instead of emulating the
  * feed with a drop directory.
  *
  * {{{
  * spark.readStream.format("graft-rest")
  *   .option("base", "https://…")         // API base URL
  *   .option("apikey", key)
  *   .option("lines", "Red,Blue,…")       // default: the 7-line dim
  *   .option("pollIntervalMs", "60000")   // reference cadence: 1 cycle/min
  *   .load()                              // → (line, poll_ts, json)
  * }}}
  *
  * Output schema is exactly [[graft.streaming.StreamJobs.rawFeedSchema]]
  * `(line, poll_ts, json)` — one row per (poll cycle, route) — so
  * [[graft.ingest.CtaIngest.normalize]] composes unchanged downstream, and
  * every landing/telemetry job written against the drop-dir emulation runs
  * against the live connector without modification.
  *
  * Design:
  *  - '''Offsets = completed poll cycles''' (a monotone long). Batch
  *    `(start, end]` plans one [[RestFeedPartition]] per cycle, carrying
  *    every route: tasks are cycle-level, so a one-cycle landing batch runs
  *    one task and writes one file. Inside the task the routes are fetched
  *    concurrently, one request in flight per route — the per-invocation
  *    parallelism the reference gets from 7 concurrent Lambda invocations
  *    (SURVEY.md §3). A task retry re-fetches every route of its cycle.
  *  - '''Rate limiting lives in `latestOffset`''': a new cycle becomes
  *    available only when `pollIntervalMs` wall-clock has elapsed since the
  *    stream started (cycle k at start + k·interval), so a hot trigger loop
  *    cannot out-poll the provider's envelope (BASELINE.md: 7 req/min —
  *    7 routes × 1 cycle/min). `maxCycles` bounds the run (tests, scheduled
  *    drains with Trigger.AvailableNow); the default is unbounded.
  *  - '''The retry contract is the pinned reference contract''': each
  *    per-route fetch goes through [[RestPoller.fetchLine]] → HTTP 429
  *    retried up to 3 attempts with exponential backoff, any other non-2xx
  *    raised immediately (reference tests/unit/test_get_train_status.py:
  *    83-106, 247-280). The retry runs INSIDE the partition reader, on the
  *    executor, per route — a poisoned route fails its cycle's task, not
  *    the driver, and the cycle admits no row.
  *  - '''At-least-once at the edge, exactly-once downstream''': a batch
  *    replayed after a crash-before-commit re-fetches (the API is a live
  *    feed; the reference's Firehose edge has the same property,
  *    get_train_status.py:60-79). The landing sink's checkpoint + the
  *    compaction dedup key (train_id, current_timestamp) make the lake
  *    exactly-once, as in the batch path.
  *
  * HTTP transport is looked up reader-side from [[RestTransports]] by the
  * `transport` option: the default `java-net-http` builds a JDK HttpClient
  * in the executor (no driver state captured); tests register in-JVM mocks
  * (visible in local mode, where executors share the JVM) to pin the retry
  * contract and the ingest equivalence offline.
  */
class RestFeedProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-rest"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StreamJobs.rawFeedSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RestFeedTable(RestFeedConfig(new CaseInsensitiveStringMap(properties)))
}

/** Immutable, serializable poll configuration (everything a partition
  * reader needs ships as plain strings/longs inside the partition). */
final case class RestFeedConfig(
    base: String,
    apiKey: String,
    lines: Seq[String],
    pollIntervalMs: Long,
    maxCycles: Long,
    transportId: String,
    fixedPollTs: Option[String],
    maxCyclesPerTrigger: Long = Long.MaxValue)

object RestFeedConfig {
  def apply(o: CaseInsensitiveStringMap): RestFeedConfig = {
    val c = RestFeedConfig(
      base = o.getOrDefault("base", ""),
      apiKey = o.getOrDefault("apikey", ""),
      lines = Option(o.get("lines"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(CtaSchemas.trainLines.map(_._1)),
      pollIntervalMs = o.getLong("pollintervalms", 60000L),
      maxCycles = o.getLong("cycles", Long.MaxValue),
      transportId = o.getOrDefault("transport", RestTransports.JavaNetHttp),
      fixedPollTs = Option(o.get("pollts")),
      maxCyclesPerTrigger = o.getLong("maxcyclespertrigger", Long.MaxValue))
    // pollIntervalMs <= 0 disables the rate limit, making "all cycles the
    // config allows" available at once; with unbounded cycles AND an
    // unbounded per-trigger step, latestOffset would return Long.MaxValue
    // and one batch would try to plan ~2^63 partitions on the driver.
    require(c.pollIntervalMs > 0 || c.maxCycles < Long.MaxValue ||
        c.maxCyclesPerTrigger < Long.MaxValue,
      "graft-rest: pollIntervalMs <= 0 requires a bounded 'cycles' or " +
        "'maxCyclesPerTrigger' option (otherwise one micro-batch would " +
        "admit ~2^63 poll cycles)")
    c
  }
}

class RestFeedTable(conf: RestFeedConfig) extends Table with SupportsRead {
  override def name(): String = s"graft-rest(${conf.lines.mkString(",")})"
  override def schema(): StructType = StreamJobs.rawFeedSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = StreamJobs.rawFeedSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new RestFeedMicroBatch(conf)
    }
}

/** Cycle-count offset: `json()` is the completed-cycle long, restart-safe
  * through the checkpoint's offset log. */
final case class CycleOffset(cycle: Long) extends Offset {
  override def json(): String = cycle.toString
}

/** `clock` injects the wall-clock for tests (the catch-up-after-downtime
  * spec advances it deterministically); production uses the default. */
class RestFeedMicroBatch(conf: RestFeedConfig,
    clock: () => Long = () => System.currentTimeMillis()) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.AcceptsLatestSeenOffset {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  // Wall-clock anchor for the rate limit: cycle k opens at
  // anchorMs + (k − anchorCycle)·interval. The anchor is pinned ONCE per
  // process to the first offset this stream observes — the RESTORED
  // offset on a checkpoint resume (via AcceptsLatestSeenOffset, or the
  // first latestOffset(start, _) call), cycle 0 on a fresh start. Round-12
  // bug: anchoring to process start while the offset restored from the
  // checkpoint meant a resumed stream's clock target (1 + elapsed/interval)
  // sat BELOW the committed cycle and every batch clamped to a zero step —
  // a stream restarted after N committed cycles fetched nothing until
  // wall-clock elapsed exceeded N·interval (~a day of silence per day of
  // prior uptime at the reference 60 s cadence).
  @volatile private var anchor: Option[(Long, Long)] = None // (cycle, ms)
  private def ensureAnchor(cycle: Long): Unit = synchronized {
    if (anchor.isEmpty) anchor = Some((cycle, clock()))
  }

  /** Completed cycles the wall clock has opened by `atMs`: the anchor
    * cycle counts as already complete, the next completes one interval
    * later. Capped by maxCycles; pollIntervalMs <= 0 disables the rate
    * limit (maxCycles bounds the run — enforced by RestFeedConfig). */
  private def cyclesByClock(atMs: Long): Long = {
    if (conf.pollIntervalMs <= 0) conf.maxCycles
    else {
      val (c0, t0) = anchor.getOrElse((0L, atMs))
      val byClock = c0 + 1L + math.max(0L, atMs - t0) / conf.pollIntervalMs
      math.min(conf.maxCycles, byClock)
    }
  }

  // Trigger.AvailableNow contract: the drain target is FROZEN at prepare
  // time — batches then step toward it (bounded per batch by the
  // admission limit) and the query self-stops when it is reached, even
  // if the clock would open further cycles mid-drain. The freeze captures
  // the prepare TIMESTAMP; the cycle target resolves against the anchor
  // at use time (the restored offset may be seen after prepare — the
  // set-once anchor makes the resolution order-independent).
  @volatile private var availableNowFreezeMs: Option[Long] = None

  override def initialOffset(): Offset = {
    ensureAnchor(0L)
    CycleOffset(0L)
  }

  /** Checkpoint resume: Spark reports the restored offset before the
    * first batch — anchor the poll clock there, so the clock target sits
    * AT the committed cycle, not at zero. */
  override def setLatestSeenOffset(offset: Offset): Unit =
    ensureAnchor(deserializeOffset(offset.json()).asInstanceOf[CycleOffset].cycle)

  override def latestOffset(): Offset =
    CycleOffset(cyclesByClock(clock()))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: a micro-batch never admits more than
    * `maxCyclesPerTrigger` poll cycles past the committed start — the
    * backpressure bound that keeps one batch's work (and the sink commit
    * it feeds) sized regardless of how far the stream has fallen behind
    * the clock (e.g. after downtime against a replayable feed). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CycleOffset].cycle
    ensureAnchor(s)
    val target =
      cyclesByClock(availableNowFreezeMs.getOrElse(clock()))
    // saturating step: s + Long.MaxValue must not wrap
    val step = math.min(conf.maxCyclesPerTrigger, math.max(0L, target - s))
    CycleOffset(s + step)
  }

  override def reportLatestOffset(): Offset =
    CycleOffset(
      cyclesByClock(availableNowFreezeMs.getOrElse(clock())))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowFreezeMs = Some(clock())

  override def deserializeOffset(json: String): Offset =
    CycleOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CycleOffset].cycle
    val e = end.asInstanceOf[CycleOffset].cycle
    (s until e).map(cycle => RestFeedPartition(cycle, conf.lines, conf.base,
      conf.apiKey, conf.transportId, conf.fixedPollTs): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new RestFeedReader(partition.asInstanceOf[RestFeedPartition])
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One poll cycle's fetch of every route — the unit of parallelism and of
  * task retry. Plain-string payload: serializes to executors with no
  * closure. */
final case class RestFeedPartition(
    cycle: Long,
    lines: Seq[String],
    base: String,
    apiKey: String,
    transportId: String,
    fixedPollTs: Option[String]) extends InputPartition

/** Executor-side reader: fetches the cycle's routes concurrently, each
  * through the pinned Backoff contract, and emits one row per route in
  * `lines` order once every fetch has returned. Any failed route fails the
  * task (the first failure in `lines` order is raised), so a cycle lands
  * whole or not at all. */
class RestFeedReader(p: RestFeedPartition) extends PartitionReader[InternalRow] {
  private lazy val rows = RestFeedReader.fetchCycle(p).iterator
  private var row: InternalRow = _

  override def next(): Boolean = rows.hasNext && { row = rows.next(); true }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

object RestFeedReader {
  private val PollTsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  // Unbounded on purpose: each route of each running cycle gets its own
  // thread, so all of a cycle's fetches are in flight at once (a bounded
  // pool smaller than the route count would serialize them). Idle threads
  // exit after 60 s.
  private val fetchPool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-rest-fetch")
    t.setDaemon(true)
    t
  }

  /** Each row's `poll_ts` is taken when its own fetch returns. */
  def fetchCycle(p: RestFeedPartition): Seq[InternalRow] = {
    val transport = RestTransports.get(p.transportId)
    val fetches = p.lines.map { line =>
      fetchPool.submit(new Callable[InternalRow] {
        override def call(): InternalRow = {
          val body = RestPoller.fetchLine(p.base, p.apiKey, line, transport)
          val ts = p.fixedPollTs.getOrElse(PollTsFormat.format(Instant.now()))
          InternalRow(UTF8String.fromString(line), UTF8String.fromString(ts),
            UTF8String.fromString(body))
        }
      })
    }
    // wait for every route before raising: a retried task must not overlap
    // requests its failed attempt left in flight
    val results =
      try fetches.map(f => Try(f.get()))
      catch { case e: InterruptedException =>
        fetches.foreach(_.cancel(true)); throw e }
    results.map {
      case Failure(e: ExecutionException) => throw e.getCause
      case r => r.get
    }
  }
}

/** Reader-side HTTP transport registry.
  *
  * `java-net-http` (the default) constructs a JDK `HttpClient` lazily in
  * the executor — nothing driver-side is captured, so the source works on a
  * real cluster with zero extra wiring. Any other id resolves from the
  * in-JVM registry: tests (and local-mode deployments wanting a custom
  * stack) `register` a function; in `local[n]` executors share the JVM so
  * the registration is visible. On a multi-JVM cluster a custom transport
  * must be registered executor-side (an `ExecutorPlugin` init hook) — the
  * lookup happens in the reader, by id, never by closure serialization.
  */
object RestTransports {
  type Transport = String => RestPoller.HttpResponse

  val JavaNetHttp = "java-net-http"

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Transport]()

  def register(id: String, t: Transport): Unit = registry.put(id, t)

  private lazy val javaNetHttp: Transport = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .build()
    url => {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(30)).GET().build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      RestPoller.HttpResponse(resp.statusCode(), resp.body())
    }
  }

  def get(id: String): Transport =
    if (id == JavaNetHttp) javaNetHttp
    else {
      val t = registry.get(id)
      require(t != null,
        s"no transport registered under '$id' in this JVM " +
          "(RestTransports.register it executor-side)")
      t
    }
}
