package graft.streaming

import graft.ingest.CtaIngest
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming realization of the reference's streaming topology
  * (SURVEY.md §2.7):
  *
  *  - T1 poll cadence → ProcessingTime trigger on a file-drop source
  *  - T2 Firehose buffering → micro-batch file sink
  *  - T3/T4 daily tumbling + sliding/session windows over `events`
  *  - T5 watermark late-data policy — the reference silently strands late
  *    rows (bucket_raw_data.py:85,93); we make the policy explicit
  *  - T6 keyed state (trip/session reconstruction) via
  *    flatMapGroupsWithState
  *  - T7 exactly-once per micro-batch via checkpoint + idempotent file sink
  *    (replaces the reference's at-least-once Firehose re-drive,
  *    get_train_status.py:52-79)
  */
object StreamJobs {

  /** Schema of the raw poll-drop NDJSON: one line per API poll. */
  val rawFeedSchema: StructType = StructType(Seq(
    StructField("line", StringType),
    StructField("poll_ts", StringType),
    StructField("json", StringType)))

  /** S1-as-stream: watch a drop directory of NDJSON poll files, normalize
    * with the same narrow pipeline as batch (CtaIngest.normalize works
    * unchanged on a streaming DataFrame — it is generate/project only). */
  def rawFeedStream(spark: SparkSession, dropDir: String): DataFrame =
    CtaIngest.normalize(
      spark.readStream.schema(rawFeedSchema).json(dropDir))

  /** S1-as-connector: the SAME normalized observation stream off the real
    * DataSource V2 polling source ([[graft.sources.RestFeedProvider]],
    * `format("graft-rest")`) instead of the drop-dir emulation — offsets
    * are poll cycles, the per-route fetch retries under the pinned Backoff
    * contract, and the connector emits [[rawFeedSchema]] rows so the
    * normalize/land/telemetry pipeline downstream is IDENTICAL.
    * RestFeedSourceSpec pins connector-ingest == batch
    * `q_ingest_normalize` over the mock fixtures and the 429/non-retryable
    * behavior through the source. */
  def rawFeedStreamRest(spark: SparkSession,
      options: Map[String, String]): DataFrame =
    CtaIngest.normalize(
      spark.readStream.format("graft-rest").options(options).load())

  /** Land the normalized observation stream as Hive-partitioned parquet with
    * checkpointing — exactly-once per micro-batch (T7). Caller starts/stops
    * the returned query. */
  def landObservations(normalized: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    normalized.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("load_date")
      .outputMode(OutputMode.Append)

  /** T7+ — the landing sink with in-flight TELEMETRY: the reference
    * emits per-invocation operational metrics alongside its writes
    * (rows fetched, delayed-train count); Spark's native form is
    * `Dataset.observe` — the metric aggregates are computed INSIDE the
    * same micro-batch plan as the write (no second read of the batch)
    * and surface per batch through
    * `StreamingQueryProgress.observedMetrics("ingest")`. Emitted here:
    * landed row count, delayed-train count, and distinct-line upper
    * bound via approx (observe forbids exact distinct — its state must
    * merge associatively, the same partial-aggregate contract as
    * streaming aggs). StreamingSpec drains a corpus and pins the
    * progress-reported totals to the landed parquet's own counts. */
  def landObservationsObserved(normalized: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    landObservations(
      normalized.observe("ingest",
        count(lit(1)).as("rows"),
        sum(when(col("is_train_delayed"), 1L).otherwise(0L)).as("delayed"),
        approx_count_distinct(col("line")).as("lines_est")),
      outDir, checkpointDir)

  /** T1 variant — AvailableNow: drain everything currently in the drop
    * directory in rate-limited micro-batches, then stop; the checkpoint
    * makes the next run resume where this one ended. The scheduled-batch
    * deployment mode (the reference's cron-style poll loop run as a
    * periodic drain) with the same exactly-once contract as the continuous
    * trigger. */
  def landObservationsAvailableNow(normalized: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    landObservations(normalized, outDir, checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())

  /** T2/T7 alternative sink: foreachBatch with a batch-id-keyed overwrite,
    * the idempotent-merge pattern for sinks without transactional appends.
    * A re-delivered micro-batch (failure before checkpoint commit)
    * overwrites its own directory instead of duplicating rows — the
    * exactly-once answer to the reference's at-least-once Firehose re-drive
    * (get_train_status.py:60-79). */
  def landObservationsIdempotent(normalized: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    normalized.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      }

  /** Streaming `events` source from a parquet directory (the test harness
    * drops sf parquet files in). `ts` has shipped as TIMESTAMP(NANOS)
    * (→ read as long, truncate to µs) and as naive timestamp[us]
    * (→ TIMESTAMP_NTZ, cast under the UTC session) across testdata
    * generations — sniff the batch-read schema once and normalize through
    * the batch path's [[graft.Tables.normalizeTs]], so stream==batch pins
    * hold. */
  def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the sniff batch-reads the directory; on an EMPTY source dir (the
    // harness-drops-files-in-later scenario) that read throws, so fall
    // back to the long-nanos default and let the normalizer below handle
    // whichever generation lands first
    val tsType = scala.util.Try(spark.read.parquet(dir).schema("ts").dataType)
      .getOrElse(LongType)
    val raw = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val reader = spark.readStream.schema(raw)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    graft.Tables.normalizeTs(reader.parquet(dir))
  }

  /** T3 — tumbling daily counts with an explicit 1-hour watermark (T5). */
  def tumblingDaily(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"), col("n"))

  /** T4 — sliding 1h/15m windowed totals. */
  def slidingHourly(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("n"))

  /** B2 twin — trailing-7-day sliding distinct users as a stream.
    * Exact COUNT(DISTINCT) is unsupported in streaming aggregations (the
    * state would be the identity set itself), which is precisely why the
    * batch tier carries the HLL sketch form (q_rolling_sketch): the
    * streaming window keeps one mergeable sketch per open window —
    * constant state — and emits the estimate when the watermark closes
    * the window. Window [d−6, d+1) ↔ batch day d. */
  def slidingDistinctUsers(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "7 days", "1 day").as("w"))
      .agg(approx_count_distinct(col("user_id")).as("users_7d_est"))
      .select(unix_micros(col("w.start")).as("w_start_us"),
        (unix_micros(col("w.end")) / 86400000000L - 1).cast("long").as("dayn"),
        col("users_7d_est"))

  /** B3 twin — per-user month-activity bitmap, streaming. bit_or is
    * algebraic (8-byte commutative-merge state per group), so the
    * streaming aggregate converges to the batch bitmap exactly; run in
    * complete mode (no window to close — the group key is (user, month))
    * and read the final table. */
  def bitmapPresenceStream(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"),
        date_format(date_trunc("MONTH", col("ts")), "yyyy-MM-dd").as("month"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), dayofmonth(ts) - 1))")
        .as("day_mask"))

  /** T4 — gap-based session windows (same semantics as the batch
    * q_session_windows query, enabling stream/batch equivalence tests). */
  def sessionWindows(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
        col("n_events"))

  /** T-extra — streaming-maintained latest-state table: the reference's
    * DynamoDB (hash=TrainId, range=UpdatedTimestamp) "current position"
    * read path (main.tf:25-43) as a keyed-upsert parquet view. Each
    * micro-batch reduces to one latest row per key (max_by on (ts,
    * event_id)), merges with the existing table, and swaps the directory —
    * a MERGE-pattern sink. Idempotent under re-delivery: max_by over a
    * union is insensitive to duplicate rows, so an at-least-once upstream
    * (the reference's Firehose re-drive) still yields exactly-one row per
    * key. The stage-and-swap is filesystem-atomic enough for the demo; an
    * object-store deployment would commit via manifest instead. State
    * table size is |keys|, never stream length. */
  def latestStateUpsert(events: DataFrame, stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val payload = struct(col("ts"), col("event_id"), col("event_type"), col("value"))
    val ordKey = struct(col("ts"), col("event_id"))
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val newLatest = batch
          .groupBy(col("user_id")).agg(max_by(payload, ordKey).as("st"))
          .select(col("user_id"), col("st.*"))
        val merged = mergedWithState(stateDir) { state =>
          state.map(_.unionByName(newLatest)).getOrElse(newLatest)
            .groupBy(col("user_id")).agg(max_by(payload, ordKey).as("st"))
            .select(col("user_id"), col("st.*"))
        }(s)
        publishState(stateDir, merged)
      }
  }

  /** Crash-recover then read the standing state table (if any) and build
    * the merged replacement: a replayed batch can find the live dir
    * missing because a prior attempt died between moving it aside and
    * publishing the stage — the `_old` copy is then the only surviving
    * state, restored BEFORE the _SUCCESS probe (otherwise the replay
    * would merge against empty state and the swap would delete `_old`). */
  private def mergedWithState(stateDir: String)(
      build: Option[DataFrame] => DataFrame)(s: SparkSession): DataFrame = {
    locally {
      val dirF = new java.io.File(stateDir)
      val asideF = new java.io.File(stateDir + "_old")
      if (!dirF.exists() && asideF.exists() && !asideF.renameTo(dirF))
        sys.error(s"state swap: failed to restore $asideF")
    }
    val cur = new java.io.File(stateDir, "_SUCCESS")
    build(if (cur.exists()) Some(s.read.parquet(stateDir)) else None)
  }

  /** Publish a replacement state table via rename-aside, not
    * delete-then-rename: the micro-batch is committed to the checkpoint
    * the moment foreachBatch returns, so a crash that loses the state
    * table here would be silent and permanent (replay resumes AFTER this
    * batch). Renaming the live dir aside first means every failure point
    * leaves either the new table or a recoverable `_old` copy; any rename
    * failure throws, which fails the batch and keeps the checkpoint from
    * advancing. */
  private def publishState(stateDir: String, merged: DataFrame): Unit = {
    val stage = stateDir + "_stage"
    merged.write.mode("overwrite").parquet(stage)
    val dir = new java.io.File(stateDir)
    val aside = new java.io.File(stateDir + "_old")
    graft.GraftSession.deleteRecursively(aside)
    if (dir.exists() && !dir.renameTo(aside))
      sys.error(s"state swap: failed to move $dir aside")
    if (!new java.io.File(stage).renameTo(dir)) {
      aside.renameTo(dir) // best-effort restore before failing the batch
      sys.error(s"state swap: failed to publish $stage")
    }
    graft.GraftSession.deleteRecursively(aside)
  }

  /** M7-as-stream — CDC log apply with delete TOMBSTONES: an unbounded
    * change feed (k, seq, st, cents, op ∈ I/U/D) maintained as a keyed
    * parquet state table, the streaming form of the batch
    * [[graft.analytics.WarehouseQueries.cdcApply]] semantics
    * (latest-op-wins by seq, resurrect-after-delete supported). Each
    * micro-batch compacts ITSELF (max_by seq per key), merges against
    * the standing table with the same max_by algebra, and swaps the
    * directory crash-safely (shared [[publishState]] machinery).
    * Tombstones stay IN the state table (a later U/I with higher seq
    * must win — dropping them on write would resurrect nothing and
    * re-apply everything); [[cdcStateView]] is the read view that
    * filters them. Idempotent under re-delivery: max_by over a union is
    * insensitive to duplicate change rows. State size is |live keys| +
    * |tombstones| — compaction of aged tombstones is the retention pass
    * (S12) applied to the state table. */
  def cdcUpsertStream(changes: DataFrame, stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val payload = struct(col("seq"), col("st"), col("cents"), col("op"))
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val newRows = batch
          .groupBy(col("k")).agg(max_by(payload, col("seq")).as("p"))
          .select(col("k"), col("p.*"))
        val merged = mergedWithState(stateDir) { state =>
          state.map(_.unionByName(newRows)).getOrElse(newRows)
            .groupBy(col("k")).agg(max_by(payload, col("seq")).as("p"))
            .select(col("k"), col("p.*"))
        }(s)
        publishState(stateDir, merged)
      }
  }

  /** Read view over [[cdcUpsertStream]]'s state table: live rows only
    * (tombstones filtered at read, retained in storage for ordering). */
  def cdcStateView(s: SparkSession, stateDir: String): DataFrame =
    s.read.parquet(stateDir).where(col("op") =!= "D")

  /** T6-next — per-user running totals on the Spark 4 arbitrary-state API
    * (`transformWithState`): the successor to flatMapGroupsWithState, with
    * named state variables behind a [[org.apache.spark.sql.streaming
    * .StatefulProcessorHandle]] instead of one opaque state object. State
    * here is a single ValueState row per user (constant per key), the
    * store is RocksDB (the only provider transformWithState supports), so
    * state scales with |users|, never stream length. Emits the updated
    * running totals each micro-batch (OutputMode.Update). */
  def runningTotals(events: DataFrame): Dataset[UserTotals] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("ts").as("event_time"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotals,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** T6-next with timers — gap sessionization on the transformWithState
    * API: events buffer in a named ListState, one event-time timer per key
    * re-arms at (last event + gap), and sessions emit from
    * `handleExpiredTimer` when the WATERMARK passes the gap — the state
    * machine flatMapGroupsWithState expresses with timeout flags, spelled
    * as explicit state + timers. State is per-key-bounded (one open
    * buffer), timers are one per key. */
  def timerSessions(events: DataFrame): Dataset[SessionOut] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("ts").as("event_time"))
      .withWatermark("event_time", "1 hour")
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessions,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** B6 twin — cumulative reach as a stream: stateful streaming
    * `dropDuplicates` keeps one state row per (event_type, user) and
    * passes only FIRST occurrences downstream, where an update-mode
    * running count per type converges to the batch distinct-user reach —
    * the streaming form of B6's first-occurrence rewrite (exact streaming
    * COUNT DISTINCT without holding an identity set in the aggregate; the
    * dedup state IS the identity set, keyed and store-backed, and a
    * production variant bounds it with `dropDuplicatesWithinWatermark`
    * exactly like the T5 re-delivery test). */
  def reachStream(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), col("user_id"))
      .dropDuplicates("event_type", "user_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cum_users"))

  /** B4 twin — per-user Markov transitions as a stream: one ValueState row
    * per user carries the LAST seen event across batches, so each arriving
    * event emits exactly one (prev, next) transition — the incremental
    * form of the batch lag-window census, with constant per-key state.
    * Rows are sorted by (ts_us, event_id) WITHIN each batch; across
    * batches the carry assumes per-key event-time monotone arrival (the
    * spec drives a single-batch drain; a late-data-tolerant variant would
    * buffer behind a watermark exactly like [[TimerSessions]]). Downstream
    * the transition stream feeds the same |types|² aggregate as batch. */
  def markovStream(events: DataFrame): Dataset[TransOut] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[TypedEv]
      .groupByKey(_.user_id)
      .transformWithState(new MarkovCarry,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** W5b twin — U-shaped (40/20/40) multi-touch attribution as a stream:
    * one ListState touch buffer per user holds the trailing 7-day
    * lookback ([[graft.analytics.IncrementalQueries.ATTR_WINDOW_US]],
    * shared with the batch form); each arriving purchase credits the
    * buffered touches with the SAME exact-integer-bp split the batch
    * window computes (touches are read, never consumed — they keep
    * crediting later purchases inside their window, exactly as the batch
    * left join fans them out), and a no-touch purchase emits the same
    * 10000 bp "none" row the batch null branch produces. State is
    * bounded by (per-user touch rate × 7 days): every batch evicts
    * buffered touches older than the newest seen timestamp minus the
    * window, under the per-key event-time monotone-arrival assumption
    * the Markov carry documents — [[utouchTimersStream]] is the
    * late-data leg that drops the assumption; see the [[UTouch]]
    * two-leg contract note for which leg a deployer picks and the
    * state-size formula of each. Downstream the credit stream feeds
    * the same per-touch-type census as batch. */
  def utouchStream(events: DataFrame): Dataset[UTouchCredit] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .as[AttrEv]
      .groupByKey(_.user_id)
      .transformWithState(new UTouchCarry,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** W5b twin, LATE-DATA leg — U-touch attribution with NO arrival-order
    * assumption: the reference's landing path is at-least-once and
    * UNORDERED (the poll loop's retries re-deliver, Firehose buffering
    * re-batches — get_train_status.py:52-79, main.tf:287-288), so the
    * monotone-arrival contract [[utouchStream]] documents does not hold
    * at the landing edge. Here every event buffers in ListState behind
    * an event-time watermark and purchases settle only once the
    * watermark proves their lookback window closed — the
    * [[TimerSessions]] pattern applied to attribution ([[UTouchTimers]]
    * for the close-condition argument). Emitted credits are final
    * (append mode): identical to batch whenever arrival disorder stays
    * inside the watermark delay, which is exactly the guarantee a
    * watermark states. The credit split itself is [[UTouch.credits]],
    * shared with the monotone leg.
    *
    * `delay` has NO default on purpose (the [[UTouch]] contract note):
    * it is the deployment's lateness bound AND a direct state
    * multiplier — per-key ListState holds touch-rate × (attribution
    * window W + delay) touches plus the unsettled purchases inside the
    * delay. Events later than `delay` are dropped by the watermark
    * filter, so a silently-inherited small value under-credits and a
    * silently-inherited large one over-buffers; the caller must state
    * the trade-off explicitly (the StreamingSpec replay passes
    * "365 days" to settle a year-spread fixture; a production poll
    * feed's re-delivery disorder is minutes, so "1 hour" is a sane
    * choice THERE). */
  def utouchTimersStream(events: DataFrame,
      delay: String): Dataset[UTouchCredit] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"),
        col("ts").as("event_time"))
      .withWatermark("event_time", delay)
      .as[AttrEvT]
      .groupByKey(_.user_id)
      .transformWithState(new UTouchTimers,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** T-extra — watermarked stream-stream interval self-join, the streaming
    * twin of the batch J6 range join (EventQueries.rangeJoinFollowers):
    * each event pairs with the same user's events in the following 10
    * minutes. Watermarks on BOTH inputs plus the bounded time-range
    * condition let the join state store evict buffered rows once the
    * watermark passes `ts + 10 min`, so state is bounded by
    * (arrival rate × window), never by stream length — the property that
    * makes this runnable forever on an unbounded 100-TB/day feed. */
  /** Parquet-backed documents stream (XP7 twin input). */
  def docsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** XP7 twin — single-pass weighted reservoir sampling over a documents
    * stream. A-Res is *the* canonical one-pass reservoir algorithm: each
    * document's priority key ln(u)/w is a pure function of the row (the
    * md5-derived uniform in [[graft.ext.PipelineQueries.scoredDocs]]), so
    * the top-k reservoir is order- and batch-split-independent and the
    * stream converges to EXACTLY the batch `q_sample_weighted` answer —
    * asserted as set equality, not subset, in StreamingSpec.
    *
    * State per language is the k-entry reservoir itself (k=3) plus a seen
    * counter — O(k), never O(stream). At 100 TB this is the shape that
    * samples a corpus feed without ever materializing or re-ranking it. */
  def weightedSampleStream(docs: DataFrame): Dataset[ReservoirOut] = {
    import docs.sparkSession.implicits._
    graft.ext.PipelineQueries.scoredDocs(docs)
      .as[ScoredDoc]
      .groupByKey(_.lang)
      .flatMapGroupsWithState[ReservoirState, ReservoirOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (lang: String, it: Iterator[ScoredDoc], state: GroupState[ReservoirState]) =>
          val prev = state.getOption.getOrElse(ReservoirState(Nil, 0L))
          var seen = prev.seen
          var top = prev.top
          it.foreach { d =>
            seen += 1
            top = (d :: top)
              .sortBy(e => (-e.score, e.doc_id))
              .take(WeightedReservoirK)
          }
          val next = ReservoirState(top, seen)
          state.update(next)
          next.top.zipWithIndex.iterator.map { case (d, i) =>
            ReservoirOut(lang, i + 1L, d.doc_id, d.n_tok, d.score, seen)
          }
      }
  }

  /** Reservoir size for [[weightedSampleStream]] — matches the batch
    * query's top-3 per language. */
  val WeightedReservoirK = 3

  /** T-extra: stream-STATIC dimension enrichment — the streaming form of
    * the J1 broadcast dim join. The static side is a plain batch
    * DataFrame whose PLAN re-executes per micro-batch — but a path-backed
    * parquet static pins its file listing when the streaming query is
    * analyzed (plan re-execution does NOT re-list; ArtifactSpec pins this
    * engine behavior), so a dim REFRESH between triggers is delivered by
    * re-creating the static per batch inside `foreachBatch` (e.g. a fresh
    * [[graft.sources.ArtifactStore.load]]) — the slowly-refreshing-dim
    * idiom demonstrated end-to-end in ArtifactSpec. Broadcast keeps the
    * join narrow — no stream-side state, no watermark needed: enrichment
    * is stateless, and the downstream count runs in update/complete mode.
    *
    * Scale: identical plan per micro-batch to the batch J1 join — dim
    * broadcast, stream side never shuffles for the join itself. */
  def dimEnrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"))

  /** Parquet-backed embeddings stream (X3 streaming-ingest twin input). */
  def embeddingsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** T-extra/X3: streaming incremental ANN ingest — the [[dimEnrichStream]]
    * pattern applied to the learned IVF index. New vectors are assigned to
    * the trained coarse quantizer as they arrive: the K-row centroid table
    * is the STATIC side, packed into one broadcast array, and the argmax
    * is a per-row fold — no rank window, no aggregation state, nothing
    * keyed on vector id. A RE-TRAINED index is picked up without
    * restarting the stream by running this transform inside `foreachBatch`
    * with a per-batch [[graft.sources.ArtifactStore.load]] (ArtifactSpec
    * demonstrates the version flip mid-stream; a static bound at
    * query start pins its file listing). At 100 TB this ingests an
    * unbounded vector feed with O(K) state per executor (the broadcast),
    * which is what makes "precompute the corpus assignment at ingest" —
    * the contract every IVF consumer here assumes — operationally real.
    * StreamingSpec pins stream == batch assignment (`rankedAssign` crn=1)
    * vector-for-vector. */
  def annIngestStream(vecs: DataFrame, cents: DataFrame): DataFrame =
    graft.ext.SimilarityQueries.assignStateless(vecs, cents)

  /** X3 delete path — the tombstone feed of [[annIngestStream]]'s index:
    * an unbounded stream of deleted vector ids lands each micro-batch in
    * the published code table's append-only tombstone log
    * ([[graft.sources.ArtifactStore.tombstone]]). A delete is visible to
    * every prober at its NEXT `loadSurviving` (per-batch load inside
    * `foreachBatch`, the same refresh-without-restart pattern as the
    * insert side) — immediately, without touching the corpus-sized code
    * table; a periodic [[graft.sources.ArtifactStore.compact]] folds the
    * log into a fresh version. Exactly-once is the log's idempotence, not
    * the checkpoint's: a re-delivered delete batch appends duplicate ids
    * the distinct + anti-join ignore. ArtifactSpec pins post-delete
    * probes == a from-scratch assignment of the surviving vectors, and
    * compaction == the same relation with the log cleared. */
  def annDeleteStream(deletes: DataFrame, root: String, name: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deletes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.ArtifactStore.tombstone(
          batch.select("vec_id"), root, name)
      }

  /** X3m streaming twin — serve FILTERED top-5 for an unbounded feed of
    * query vectors against the published index: the metadata-predicate
    * path of `q_sim_knn_filtered` composed with [[annIngestStream]]'s
    * loaded-artifact pattern. The static sides (trained quantizer,
    * indexed corpus + labels) broadcast; the per-query rank windows mean
    * this transform runs inside `foreachBatch` (each micro-batch is a
    * complete batch relation — the artifact-refresh deployment shape,
    * where the quantizer is re-`load`ed per batch). StreamingSpec pins
    * stream == batch `knnFiltered` on the filtered result set. */
  def annFilteredServeStream(queryVecs: DataFrame, cents: DataFrame,
      corpus: DataFrame): DataFrame =
    graft.ext.SimilarityQueries.filteredServe(queryVecs, cents, corpus)

  /** X4q streaming twin — tokenize an unbounded document feed with the
    * TRAINED merge table as the static side (a re-trained vocab applies
    * without restart via the same `foreachBatch` + per-batch
    * `ArtifactStore.load` pattern as [[annIngestStream]]). Tokenization
    * is a pure
    * per-row function (explode → 4 broadcast merge folds → per-doc agg
    * within the batch's complete docs), so the stream carries no keyed
    * state. Emits (doc_id, n_words, n_tokens) exactly as the batch
    * `q_tokens_per_doc`; StreamingSpec pins the equivalence. */
  def tokenizeStream(docs: DataFrame, merges: DataFrame): DataFrame =
    graft.ext.TextQueries.tokensPerDocOf(docs, merges)

  /** X4r streaming twin — tokenizer inference emitting TOKEN IDS on an
    * unbounded document feed: merge table + vocab ride as broadcast
    * statics (in deployment, `ArtifactStore.load`-ed per batch), the
    * rest is the same stateless narrow map + per-row explode as the
    * batch query — no shuffle, no keyed state, so stream == batch
    * row-for-row (StreamingSpec pins it). */
  def tokenIdsStream(docs: DataFrame, merges: DataFrame,
      vocab: DataFrame): DataFrame =
    graft.ext.TextQueries.tokenIdsOf(docs, merges, vocab)

  /** XP17 streaming twin — pack an unbounded APPEND-ONLY document feed
    * into training bins, carrying exactly the checkpoint state the batch
    * incremental packer ([[graft.ext.PipelineQueries.packIncremental]])
    * reconstructs from the manifest: per (lang, source) stream, the
    * packed-token total plus the current bin's doc count — O(1) state
    * per stream, never O(corpus). Each arriving doc's placement is pure
    * arithmetic on that state (`bin = t div budget`, seq_pos continues
    * the current bin or restarts), so the stream emits manifest rows
    * identical to a batch first-fit over the whole corpus — pinned in
    * StreamingSpec against a local full replay across a 2-batch split.
    * Docs are sorted by doc_id within each micro-batch group; ACROSS
    * batches the feed must be append-only in doc_id per stream (the same
    * monotonicity the batch incremental path assumes — a late lower id
    * would belong to an already-sealed bin in any packer). */
  def packStream(docs: DataFrame): Dataset[PackOut] = {
    import docs.sparkSession.implicits._
    val budget = 256L
    docs.select(col("lang"), col("source"), col("doc_id"),
        regexp_count(col("text"), lit("\\S{1,4}")).cast("long").as("n_tok"))
      .as[PackIn]
      .groupByKey(d => (d.lang, d.source))
      .flatMapGroupsWithState[PackState, PackOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((lang, source), it, state) =>
          val st0 = state.getOption.getOrElse(PackState(0L, 0L, 0L))
          var t = st0.tPacked
          var lastBin = st0.lastBin
          var lastCount = st0.lastCount
          val out = it.toSeq.sortBy(_.doc_id).map { d =>
            val bin = t / budget
            val pos = if (bin == lastBin && lastCount > 0) lastCount + 1 else 1L
            val row = PackOut(lang, source, bin, pos, d.doc_id, d.n_tok,
              t % budget)
            lastBin = bin
            lastCount = pos
            t += d.n_tok
            row
          }
          state.update(PackState(t, lastBin, lastCount))
          out.iterator
      }
  }

  /** XP23 streaming twin — cross-document attention contamination AT PACK
    * TIME: the packing stream already emits each doc's bin-local start
    * offset, which with its token count fully determines the doc's
    * attended-pair and cross-boundary-pair mass (the closed forms of
    * [[graft.ext.PipelineQueries.crossDocLevels]], shared verbatim via
    * the `sExpr` hook). One narrow projection over the manifest stream —
    * no extra state beyond the packer's own — so an ingest pipeline
    * watches its layout's contamination live instead of auditing after
    * the fact. StreamingSpec pins per-stream sums == the batch
    * q_pack_cross_doc census over a split feed. */
  def crossDocStream(docs: DataFrame): DataFrame = {
    val (c1, c2, c3) =
      graft.ext.PipelineQueries.crossDocLevels("div", "start_off")
    packStream(docs).toDF()
      .selectExpr(Seq("lang", "source", "doc_id", "n_tok") ++ c1: _*)
      .selectExpr(Seq("lang", "source", "doc_id", "n_tok", "s", "l1",
        "nfull", "r") ++ c2: _*)
      .selectExpr(Seq("lang", "source", "doc_id") ++ c3: _*)
  }

  /** Multimodal serve twin — probe an unbounded IMAGE feed against the
    * PUBLISHED banded dHash index (the [[graft.ext.MultimodalQueries
    * .mediaNearDup]] corpus structure, persisted through
    * [[graft.sources.ArtifactStore]] like every other trained static):
    * per arriving image, decode → dHash → band → equi-join the 4
    * multi-index keys → exact popcount ≤ 3 — "is this image already in
    * the corpus (or nearly)?", the admission check every multimodal
    * ingest runs before paying storage/compute for a duplicate frame.
    * Recall 1 by pigeonhole; decode+hash is a narrow typed map, the
    * probe a stream-static equi-join; the per-match dedup (`distinct`
    * across shared bands) is why it runs inside `foreachBatch` with the
    * index re-loaded per batch (the artifact-refresh shape).
    * ArtifactSpec pins stream == batch serve off the loaded index. */
  def imageNearDupServeStream(images: Dataset[(Long, Array[Byte])],
      index: DataFrame): DataFrame =
    graft.ext.MultimodalQueries.nearDupServe(images, index)

  /** X1c streaming twin — exact-substring ADMISSION against the published
    * corpus fingerprint index ([[graft.ext.DedupQueries.substringIndex]],
    * persisted through [[graft.sources.ArtifactStore]]): per arriving
    * document, every 40-CHAR window's 8-byte polynomial rolling-hash
    * fingerprint ([[graft.functions.RollingHash64]], base 1000003 mod 2⁶⁴,
    * code-point grain — the same windows the span dedup's verify stage
    * slices, so admission and span dedup agree on non-ASCII text too)
    * probes the index; the hit fraction (basis points) is the "already
    * substantially in the corpus" signal an ingest gate thresholds —
    * dedup-at-ingest, so a near-copy never reaches tokenization. The
    * probe is a stream-static equi-join on the fingerprint plus one
    * per-doc agg (why it runs inside `foreachBatch`, with the index
    * re-`load`ed per batch — the artifact-refresh shape shared by every
    * serve twin here). ArtifactSpec pins stream off the LOADED index ==
    * batch, full-overlap docs == 10000 bp, alien-alphabet docs == 0 bp. */
  def substringAdmitStream(docs: DataFrame, index: DataFrame): DataFrame =
    graft.ext.DedupQueries.substringOverlapOf(docs, index)

  /** X1f/X1g streaming twin — CHUNK-STORE admission on an unbounded doc
    * feed: each arriving document is CDC-chunked (the X1f boundary rule,
    * a pure narrow in-row map) and probed against the standing
    * content-addressed chunk store; the emitted per-doc chunk/byte
    * overlap bp is the dedup-at-ingest decision ("store only the novel
    * chunks" / "skip the near-verbatim re-crawl"). Runs inside
    * foreachBatch like the other serve twins — the store is an artifact
    * the operator refreshes between batches (compaction, GC per
    * `q_cdc_chunk_gc`) without restarting the stream. StreamingSpec pins
    * stream == batch plus the three anchor docs: a verbatim corpus copy
    * fully hits (10000 bp), an alien doc misses entirely (0 bp), and a
    * corpus-prefix+alien-suffix doc lands strictly between — the last
    * one BECAUSE chunk boundaries are content-defined, so the shared
    * prefix keeps its chunk identities inside a novel document. */
  def cdcAdmitStream(docs: DataFrame, store: DataFrame): DataFrame =
    graft.ext.DedupQueries.cdcOverlapOf(docs, store)

  /** XC2 streaming twin — score an unbounded document feed against the
    * TRAINED quality-classifier model (one weight relation including its
    * [[graft.ext.CurateQueries.BiasKey]] bias row) as the static side:
    * the "train once on weak labels, gate the feed forever" deployment
    * of the distilled quality filter. Featurization is a pure per-row
    * map; the weight lookup is a broadcast-able equi-join; the per-doc
    * score reduce is why this transform runs inside `foreachBatch` (each
    * micro-batch is a complete batch relation — the artifact-refresh
    * shape, where the model is re-`ArtifactStore.load`-ed per batch and
    * a re-trained filter applies without restart). ArtifactSpec pins the
    * stream off the LOADED model == the in-session batch scorer. */
  def qualityScoreStream(docs: DataFrame, model: DataFrame): DataFrame =
    graft.ext.CurateQueries.nbScore(docs, model)

  /** XC10 streaming twin — DSIR admission on an unbounded document feed:
    * the trained importance bucket table rides as a broadcast single-row
    * MAP and each doc folds its own token array through it, so the whole
    * filter is a stateless narrow map (no explode, no keyed state, no
    * watermark) and admits exactly the docs the batch selector keeps.
    * Unlike the XC2 scorer this needs no foreachBatch: the per-doc
    * reduce happens INSIDE the row via a higher-order fold, the shape
    * that turns a corpus-wide selection rule into a per-record ingest
    * gate. StreamingSpec pins stream == batch per-doc verdicts. */
  def dsirAdmitStream(docs: DataFrame, scores: DataFrame): DataFrame =
    graft.ext.CurateQueries.dsirScoreOf(docs, scores)

  /** L3 streaming twin — the stateless shard ROUTER on an unbounded
    * document feed: shard ids under both strategies are pure per-row
    * functions of doc_id (md5 → 16-bit key → mod / hash-range slots), so
    * the stream carries no keyed state, needs no watermark, and its
    * assignment equals the batch audit's row-for-row. In deployment the
    * sink `partitionBy`s the range slot — the write side of the
    * resharding-cost story `q_shard_assignment` measures (growing the
    * fleet relocates only range-boundary spillover, not ~15/16 of every
    * landed file). StreamingSpec pins stream == batch. */
  def shardRouteStream(docs: DataFrame): DataFrame =
    graft.analytics.LayoutQueries.shardRouteOf(docs)

  /** XC6 streaming twin — INCREMENTAL Pareto-frontier maintenance: fold
    * an arriving document batch into the standing skyline LENGTH
    * DICTIONARY (per len: best quality + census at that best). The
    * dictionary fold is associative and idempotent-under-refold, so the
    * standing state is a dictionary MERGE per micro-batch — O(|delta| +
    * |dict|), never a corpus replay — persisted/hot-swapped through
    * [[graft.sources.ArtifactStore]] like every serve twin here (why it
    * runs inside `foreachBatch`). The frontier itself ([[skylineFrontier]])
    * derives from the dictionary on read. ArtifactSpec pins
    * drained-stream frontier == the batch `q_skyline_docs` result. */
  def skylineDictUpdate(docs: DataFrame, standing: DataFrame): DataFrame =
    graft.ext.CurateQueries.skylineDictMerge(standing,
      graft.ext.CurateQueries.skylineDict(
        graft.ext.CurateQueries.skylineScore(docs)))

  /** The Pareto front served from a standing skyline dictionary. */
  def skylineFrontier(dict: DataFrame): DataFrame =
    graft.ext.CurateQueries.skylineOfDict(dict)

  /** L2 streaming twin — DENSE GLOBAL ID continuation over an unbounded
    * document feed: batch k's rows get ids
    * `(assigned_so_far, assigned_so_far + |batch|]`, assigned inside the
    * batch by the same blocked (never single-partition) rule as the
    * batch `q_global_row_ids`. The carried state is ONE number — the
    * running assigned count (the incremental-pack checkpoint discipline)
    * — so a restart resumes the id space with no gap and no overlap;
    * ids are arrival-ordered across batches, doc_id-ordered within one.
    * ArtifactSpec pins a doc_id-ordered two-batch drain equal to the
    * batch assignment and the count checkpoint's restart continuation. */
  def globalIdsUpdate(batch: DataFrame, assignedSoFar: Long): DataFrame =
    graft.analytics.LayoutQueries.globalRowIdsOf(batch, assignedSoFar)

  def followerJoin(events: DataFrame): DataFrame =
    followerJoinWithType(events, "inner")

  /** T7b — the LEFT OUTER form of [[followerJoin]]: the standard
    * enrichment-with-maybe-missing-events pattern (batch anchor: the J3
    * left-outer row and the J6 range join, fused — `q_join_range_outer`).
    * Matches emit as soon as both sides arrive, exactly like the inner
    * join; an event with NO follower inside its 10-minute window emits
    * one null-padded row — but only once the WATERMARK has closed the
    * window (wm > ts + 10 min), because until then a matching follower
    * could still arrive. The null rows are therefore a deferred,
    * watermark-gated emission: a drained drop-dir does NOT yield them
    * for the trailing ~70 min of event time until newer data advances
    * the watermark past each row's window (StreamingSpec drives this
    * with a far-future sentinel and pins the full row set — inner pairs
    * AND the null set — against the batch left-outer range join).
    *
    * State-eviction bound: a LEFT row is retained until the watermark
    * passes `ts + 10 min` (its window close, at which point the match
    * verdict is final and the row either already matched or emits the
    * null form); a RIGHT row is retained until the watermark passes
    * `r_ts` (no left row with an open window can still want it). With
    * the 1-hour watermark delay both sides hold O(events in the last
    * 70 minutes of event time) — bounded state regardless of stream
    * length, the property that lets this run forever at 100 TB/day. */
  def followerJoinOuter(events: DataFrame): DataFrame =
    followerJoinWithType(events, "left_outer")

  /** T7c — the FULL OUTER form: [[followerJoinOuter]]'s null-padded
    * no-follower rows PLUS the symmetric right side — events with no
    * PRECEDING same-user event inside the 10-minute window (null left
    * columns), i.e. session STARTERS, emitted when the watermark passes
    * the right row's event time (its preceding-window verdict is final
    * once no left row with `ts < r_ts` can still arrive). Same bounded
    * state as the left-outer form; StreamingSpec pins the complete
    * three-part row set (pairs, follower-less, starters) against the
    * batch full-outer range join after a sentinel-driven watermark
    * flush. */
  def followerJoinFull(events: DataFrame): DataFrame =
    followerJoinWithType(events, "full_outer")

  /** T7d — the LEFT SEMI form: "was this event followed within 10
    * minutes?" as a row-preserving EXISTS — each event emits AT MOST
    * once, on its first arriving follower, never once per follower like
    * the inner form (the streaming twin of the batch J4 semi join, as
    * [[followerJoinOuter]] is of J3). Emission is immediate (a match is a
    * final verdict — no watermark gating needed on the output), and the
    * state bound tightens vs inner: a matched left row can leave the
    * store at once, an unmatched one when the watermark closes its
    * window; right rows evict exactly as in [[followerJoin]].
    * StreamingSpec pins the emitted set equal to the batch left-semi
    * range join over the same corpus. */
  def followerJoinSemi(events: DataFrame): DataFrame =
    followerPairs(events, "left_semi").select(col("event_id"), col("event_type"))

  private def followerJoinWithType(events: DataFrame, joinType: String): DataFrame =
    followerPairs(events, joinType)
      .select(col("event_id"), col("r_id"), col("event_type"))

  /** Each event against the same user's events of the following 10
    * minutes, both sides watermarked 1 hour — the shared input of every
    * follower-join form. */
  private def followerPairs(events: DataFrame, joinType: String): DataFrame = {
    val left = events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
    val right = events
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", "1 hour")
    left.join(right,
        col("user_id") === col("r_user") &&
          col("r_ts") > col("ts") &&
          col("r_ts") <= col("ts") + expr("INTERVAL 10 MINUTES"),
        joinType)
  }

  /** T7e — TRUE two-input keyed stream-stream join: an ORDERS stream and a
    * LINEITEM stream (two independent sources, two independent watermarks)
    * equi-joined on the order key — the streaming form of the J2/J3 fact
    * join (`q_join_shuffle_fact` / `q_join_left_outer`), where the interval
    * family ([[followerJoin]]) is a self-join of one feed.
    *
    * Semantics: `o_orderkey = l_orderkey` AND the shipment's event time
    * within ±180 days of the order's — the time bound is what makes
    * UNBOUNDED two-stream state finite, and the batch anchor mirrors it
    * exactly. `joinType` ∈ inner | left_outer: the outer form emits one
    * null-padded row per order with NO qualifying shipment, gated on the
    * watermark closing the order's ±180-day window (until then a match
    * could still arrive).
    *
    * State-eviction bound (both sides watermarked 30 days): an ORDER row
    * is retained until the combined watermark passes
    * `o_orderdate + 180 days` (its window close — the match verdict is
    * then final); a LINEITEM row until it passes `l_shipdate + 180 days`
    * (no order whose window is still open can want it). Each side holds
    * O(rows in the last ~210 days of event time) — bounded regardless of
    * stream length. The join itself hash-partitions BOTH streams by the
    * equi-key, the same exchange the batch join plans, so a 1000-executor
    * run scales by key hash, with AQE/salting available exactly as in
    * batch. StreamingSpec pins inner == batch and the outer form's
    * complete row set (matches + the null set) == the batch left-outer
    * join after a both-side sentinel watermark flush. */
  def orderShipmentJoin(orders: DataFrame, lineitems: DataFrame,
      joinType: String = "inner"): DataFrame = {
    // event-time columns must be TIMESTAMP (watermarks reject NTZ); the
    // lake's naive-µs parquet reads as NTZ under the UTC session, where
    // this cast is a pure reinterpretation
    val left = orders
      .select(col("o_orderkey"),
        col("o_orderdate").cast(TimestampType).as("o_orderdate"),
        col("o_orderpriority"))
      .withWatermark("o_orderdate", "30 days")
    val right = lineitems
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast(TimestampType).as("l_shipdate"),
        col("l_returnflag"))
      .withWatermark("l_shipdate", "30 days")
    left.join(right,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") - expr("INTERVAL 180 DAYS") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 180 DAYS"),
        joinType)
      .select(col("o_orderkey"), col("o_orderpriority"), col("l_linenumber"),
        col("l_returnflag"))
  }

  /** J5's STREAMING twin (round 13) — stream-stream AS-OF enrichment:
    * every fact is decorated with the latest dim state AT the fact's
    * EVENT time, the reference's core read pattern (DynamoDB
    * hash=TrainId/range=UpdatedTimestamp current-position lookup,
    * main.tf:25-43) as a two-stream join. [[latestStateUpsert]] maintains
    * the "current state" VIEW; this is the missing enrich: facts and dim
    * changes arrive on independent streams, out of order within the
    * watermark lag, and each fact must see exactly the dim row that was
    * newest at ITS timestamp — not at processing time.
    *
    * Spark has no built-in stream-stream as-of join (the interval join
    * family bounds both sides; as-of needs "latest ≤ ts", unbounded
    * lookback), so this is keyed state doing a WATERMARK-ORDERED MERGE —
    * the same union+carry-forward identity the batch q_scd2_asof window
    * computes, replayed incrementally:
    *  - both streams tag into one feed (is_fact 0/1) keyed by user_id;
    *  - per key, rows buffer until the watermark passes their event time
    *    (only then can no earlier dim change still arrive);
    *  - matured rows replay in (ts, is_fact, event_id) order — dim rows
    *    advance the carried state, fact rows emit enriched. The carried
    *    state is the LATEST matured dim row, so lookback is unbounded
    *    without unbounded state.
    *
    * State bound per key: the carried dim state (O(1)) plus rows inside
    * the watermark lag (arrival rate × lag) — never stream length; an
    * EventTimeTimeout flushes matured rows when a quiet key gets no new
    * input. Emission order across keys is batch-dependent as in every
    * streaming job; the OUTPUT SET equals the batch as-of exactly
    * (StreamingSpec pins it over a split feed, including a dim update
    * that arrives a whole micro-batch AFTER facts with later event time).
    *
    * 100 TB shape: one hash exchange on user_id (the same exchange the
    * batch window plans), state store scales by |keys in lag window|,
    * and dim/fact volume asymmetry costs nothing (no replication — this
    * is a co-partitioned merge, not a broadcast). */
  def asOfEnrichStream(dimChanges: DataFrame, facts: DataFrame,
      tolUs: Long = Long.MaxValue): Dataset[AsOfOut] = {
    import dimChanges.sparkSession.implicits._
    val dim = dimChanges.select(
      col("user_id"), col("ts"), col("event_id"),
      lit(0).as("is_fact"), col("state"), lit(0L).as("v_cents"))
    val fct = facts.select(
      col("user_id"), col("ts"), col("event_id"),
      lit(1).as("is_fact"), lit(null).cast("string").as("state"),
      col("v_cents"))
    dim.unionByName(fct)
      .withWatermark("ts", "1 hour")
      // the watermarked ts column must survive into the keyed operator
      // (the event-time-timeout checker looks for it there); ts_us is the
      // µs integer the merge actually orders by
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("is_fact"), col("state"), col("v_cents"))
      .as[AsOfIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[AsOfIn], gs: GroupState[AsOfState]) =>
          val prev = gs.getOption.getOrElse(AsOfState(Nil, None, None))
          val buf = prev.pending ++ it
          // rows matured once the watermark passes their event time: no
          // earlier-timestamped dim change can still arrive for them
          val wmUs = gs.getCurrentWatermarkMs() * 1000L
          val (ready, pending) = buf.partition(_.ts_us <= wmUs)
          var cur = prev.curState
          var curTs = prev.curTs
          val out = List.newBuilder[AsOfOut]
          // the batch wCarry order: ts, then dim-before-fact, then id;
          // a carried state older than tolUs at the fact's event time is
          // reported as 'none' (the J5c freshness-SLA semantics) but
          // STAYS carried — a later fact inside the window can still
          // never see it fresh again (age only grows), yet the state
          // remains the correct base for debugging/inspection semantics
          ready.sortBy(r => (r.ts_us, r.is_fact, r.event_id)).foreach { r =>
            if (r.is_fact == 0) { cur = Option(r.state); curTs = Some(r.ts_us) }
            else out += AsOfOut(uid, r.ts_us, r.event_id,
              if (cur.isDefined && curTs.exists(t => r.ts_us - t <= tolUs))
                cur.get
              else "none",
              r.v_cents)
          }
          // carried state lives forever (|keys|-bounded, the latest-state
          // table's own bound); pending rows re-arm an event-time timeout
          // at their earliest maturity so a quiet key still flushes
          gs.update(AsOfState(pending, cur, curTs))
          if (pending.nonEmpty)
            gs.setTimeoutTimestamp(pending.map(_.ts_us).min / 1000L + 1L)
          out.result().iterator
      }
  }
}

/** One tagged row entering [[StreamJobs.asOfEnrichStream]]'s keyed merge:
  * a dim change (is_fact 0, state set) or a fact (is_fact 1, v_cents).
  * `ts` carries the watermark tag through to the keyed operator; `ts_us`
  * is the same instant as the integer the merge orders by. */
final case class AsOfIn(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
    event_id: Long, is_fact: Int, state: String, v_cents: Long)

/** Keyed state for [[StreamJobs.asOfEnrichStream]]: rows still inside the
  * watermark lag plus the carried latest-matured dim state. */
final case class AsOfState(pending: List[AsOfIn], curState: Option[String],
    curTs: Option[Long] = None)

/** One enriched fact: the dim state in force at the fact's event time. */
final case class AsOfOut(user_id: Long, ts_us: Long, event_id: Long,
    state_at_fact: String, v_cents: Long)

/** One A-Res-scored document (input row of
  * [[StreamJobs.weightedSampleStream]]). */
final case class ScoredDoc(lang: String, doc_id: Long, n_tok: Long, score: Double)

/** Reservoir state for [[StreamJobs.weightedSampleStream]]: the current
  * top-k entries plus a monotone seen-counter (lets the test identify each
  * key's final emission without timestamps). */
final case class ReservoirState(top: List[ScoredDoc], seen: Long)

/** One tokenized document entering [[StreamJobs.packStream]]. */
final case class PackIn(lang: String, source: String, doc_id: Long, n_tok: Long)

/** Packer checkpoint state per (lang, source) stream — the SAME two-ish
  * numbers the batch incremental packer derives from yesterday's
  * manifest: packed-token total, current bin id, and its doc count. */
final case class PackState(tPacked: Long, lastBin: Long, lastCount: Long)

/** One packing-manifest row as emitted by [[StreamJobs.packStream]]. */
final case class PackOut(
    lang: String, source: String, bin: Long, seq_pos: Long, doc_id: Long,
    n_tok: Long, start_off: Long)

/** One reservoir row as emitted per micro-batch. */
final case class ReservoirOut(
    lang: String, rnk: Long, doc_id: Long, n_tok: Long, score: Double,
    n_seen: Long)

/** Typed event for keyed-state processing. `event_time` carries the
  * watermark through the typed plan (flatMapGroupsWithState requires the
  * watermarked attribute to survive into its child). */
final case class Ev(
    user_id: Long, ts_us: Long, value: Double,
    event_time: java.sql.Timestamp)

/** One reconstructed session (T6 — the "trip reconstruction" access pattern
  * implied by the reference's per-train time-series key design,
  * main.tf:25-43). */
final case class SessionOut(
    user_id: Long, start_us: Long, end_us: Long, n_events: Int,
    total_value_cents: Long)

/** Keyed gap-sessionization with explicit state — the logic is a pure
  * function over a sorted buffer so batch (`flatMapGroups`) and streaming
  * (`flatMapGroupsWithState` with event-time timeout) share it exactly.
  */
object Sessionize {
  val GapUs: Long = 30L * 60 * 1000 * 1000

  /** Split a time-sorted event list into gap-closed sessions. Values are
    * accumulated in integer cents so the result is deterministic. */
  def sessionsOf(sorted: Seq[Ev]): Seq[SessionOut] = {
    if (sorted.isEmpty) return Seq.empty
    val out = Seq.newBuilder[SessionOut]
    var start = sorted.head.ts_us
    var last = start
    var n = 0
    var cents = 0L
    sorted.foreach { e =>
      if (e.ts_us - last >= GapUs) {
        out += SessionOut(e.user_id, start, last, n, cents)
        start = e.ts_us; n = 0; cents = 0L
      }
      last = e.ts_us; n += 1
      cents += math.round(e.value * 100)
    }
    out += SessionOut(sorted.head.user_id, start, last, n, cents)
    out.result()
  }

  /** Batch form: groupByKey + flatMapGroups (whole history per key). */
  def batch(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).flatMapGroups { (_, it) =>
      sessionsOf(it.toSeq.sortBy(e => (e.ts_us, e.value))).iterator
    }
  }

  /** Streaming form: buffer per key, emit sessions closed by gap or by
    * event-time timeout (watermark). State is the open-session buffer only —
    * bounded by session length, not stream length. */
  def streaming(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Ev], SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[Ev], state: GroupState[List[Ev]]) =>
          if (state.hasTimedOut) {
            val closed = sessionsOf(state.get.sortBy(e => (e.ts_us, e.value)))
            state.remove()
            closed.iterator
          } else {
            val buf = (state.getOption.getOrElse(Nil) ++ it.toList)
              .sortBy(e => (e.ts_us, e.value))
            val sessions = sessionsOf(buf)
            // keep the open (last) session buffered; emit the closed ones
            val open = buf.dropWhile(_.ts_us < sessions.last.start_us)
            state.update(open)
            state.setTimeoutTimestamp(sessions.last.end_us / 1000 + GapUs / 1000)
            sessions.init.iterator
          }
      }
  }
}

/** Typed event with its type label, for the Markov carry. */
final case class TypedEv(
    user_id: Long, ts_us: Long, event_id: Long, event_type: String)

/** One emitted transition of [[StreamJobs.markovStream]]. */
final case class TransOut(user_id: Long, prev_type: String, next_type: String)

/** StatefulProcessor for [[StreamJobs.markovStream]] — the per-user carry
  * is ONE event (16 bytes + type string), not a buffer: each batch sorts
  * its own rows, folds them against the carried last event, emits one
  * transition per row (except a user's very first), and stores the new
  * last event. */
class MarkovCarry
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEv, TransOut] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var last: ValueState[TypedEv] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    last = getHandle.getValueState[TypedEv]("last",
      org.apache.spark.sql.Encoders.product[TypedEv], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TypedEv],
      timerValues: TimerValues): Iterator[TransOut] = {
    val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
    var prev = if (last.exists()) Some(last.get()) else None
    val out = sorted.flatMap { e =>
      val t = prev.map(p => TransOut(key, p.event_type, e.event_type))
      prev = Some(e)
      t
    }
    prev.foreach(last.update)
    out.iterator
  }
}

/** Typed event for the U-touch attribution carry (purchase rows carry
  * their exact integer cents; touch rows' cents are unused). */
final case class AttrEv(user_id: Long, ts_us: Long, event_id: Long,
    event_type: String, cents: Long)

/** One emitted credit of [[StreamJobs.utouchStream]] — a (purchase,
  * touch) attribution in exact integer basis points, with the credited
  * cents already settled per row (cents·bp div 10⁴, the batch integer
  * arithmetic) so the census downstream is a plain sum. */
final case class UTouchCredit(touch_type: String, credit_bp: Long,
    credited_cents: Long)

/** StatefulProcessor for [[StreamJobs.utouchStream]]: a per-user
  * ListState buffer of the touches inside the trailing attribution
  * window. Each batch sorts its rows by (ts_us, event_id) — the batch
  * window's total order — folds them in: a touch appends to the buffer,
  * a purchase snapshots the buffered touches with
  * `p_ts − W ≤ t_ts < p_ts`, orders them (t_ts, t_id), and emits the
  * U-shape split (first 4000 + 2000 % (n−2), last 4000, middles
  * 2000 div (n−2); n=1 → 10000, n=2 → 5000 each, n=0 → one "none" row
  * at 10000 bp — each branch the batch CASE verbatim). The buffer is
  * trimmed after the fold to touches younger than maxSeenTs − W. */
class UTouchCarry
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AttrEv, UTouchCredit] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ListState}

  private val W = graft.analytics.IncrementalQueries.ATTR_WINDOW_US

  @transient private var touches: ListState[AttrEv] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    touches = getHandle.getListState[AttrEv]("touches",
      org.apache.spark.sql.Encoders.product[AttrEv], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[AttrEv],
      timerValues: TimerValues): Iterator[UTouchCredit] = {
    val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
    var buf = touches.get().toSeq
    val out = Seq.newBuilder[UTouchCredit]
    sorted.foreach { e =>
      if (e.event_type == "purchase") out ++= UTouch.credits(e, buf)
      else buf :+= e
    }
    val maxTs = sorted.last.ts_us // rows is non-empty by contract
    val kept = buf.filter(_.ts_us >= maxTs - W)
    touches.clear()
    if (kept.nonEmpty) touches.appendList(kept.toArray)
    out.result().iterator
  }
}

/** The U-shape credit split shared by the monotone-arrival carry
  * ([[UTouchCarry]]) and the watermark-buffered late-data leg
  * ([[UTouchTimers]]) — one implementation, so the two legs cannot
  * drift from each other or from the batch CASE they both mirror.
  *
  * ==The two-leg contract (which leg a deployer picks, and why)==
  *
  * Both legs compute the SAME attribution (this object's [[credits]]);
  * they differ only in the arrival-order contract they demand and the
  * state they pay for it:
  *
  *  - '''Carry leg''' ([[StreamJobs.utouchStream]], [[UTouchCarry]]):
  *    assumes per-key event-time arrival is MONOTONE (each user's
  *    events reach the processor in timestamp order across
  *    micro-batches). Purchases settle immediately on arrival, so
  *    credits stream out with no watermark latency. State per key =
  *    touch-rate × W (the 7-day lookback window only) — the floor for
  *    this computation; nothing is buffered beyond the window. A
  *    violated contract is SILENT: an out-of-order touch arriving after
  *    its purchase simply never credits it.
  *  - '''Timers leg''' ([[StreamJobs.utouchTimersStream]],
  *    [[UTouchTimers]]): no ordering assumption — correct under any
  *    arrival disorder up to the declared watermark `delay`. Purchases
  *    settle only when the watermark proves their window closed, so
  *    emission lags by up to `delay`, and state per key = touch-rate ×
  *    (W + delay) + unsettled purchases inside the delay. Disorder
  *    beyond `delay` is dropped by the watermark filter (bounded, but
  *    still a completeness cliff — which is why `delay` has no
  *    default).
  *
  * Pick the carry leg when the feed is per-key ordered (a partitioned
  * log keyed by user, or a replay of compacted landing files); pick the
  * timers leg at an at-least-once unordered landing edge (the
  * reference's poll loop retries re-deliver and its firehose buffering
  * re-batches), sizing `delay` to the observed re-delivery disorder.
  * At 100 TB the state delta between the legs is `touch-rate × delay`
  * per key — the reason `delay` is the deployer's explicit call. */
private[graft] object UTouch {
  private val W = graft.analytics.IncrementalQueries.ATTR_WINDOW_US

  /** Credits for purchase `p` given any superset `buf` of its window's
    * touches: filters to `p_ts − W ≤ t_ts < p_ts`, orders (t_ts, t_id),
    * and emits the U-shape split (first 4000 + 2000 % (n−2), last 4000,
    * middles 2000 div (n−2); n=1 → 10000, n=2 → 5000 each, n=0 → one
    * "none" row at 10000 bp — each branch the batch CASE verbatim). */
  def credits(p: AttrEv, buf: Seq[AttrEv]): Seq[UTouchCredit] = {
    val live = buf
      .filter(t => t.ts_us < p.ts_us && t.ts_us >= p.ts_us - W)
      .sortBy(t => (t.ts_us, t.event_id))
    val n = live.length.toLong
    def row(tpe: String, bp: Long) =
      UTouchCredit(tpe, bp, p.cents * bp / 10000L)
    if (n == 0) Seq(row("none", 10000L))
    else if (n == 1) Seq(row(live.head.event_type, 10000L))
    else if (n == 2) live.map(t => row(t.event_type, 5000L))
    else live.zipWithIndex.map { case (t, i) =>
      if (i == 0) row(t.event_type, 4000L + 2000L % (n - 2))
      else if (i == n - 1) row(t.event_type, 4000L)
      else row(t.event_type, 2000L / (n - 2))
    }
  }
}

/** Typed event for the late-data U-touch leg: [[AttrEv]] plus the
  * timestamp column the watermark is declared on. */
final case class AttrEvT(user_id: Long, ts_us: Long, event_id: Long,
    event_type: String, cents: Long, event_time: java.sql.Timestamp)

/** StatefulProcessor for [[StreamJobs.utouchTimersStream]] — the U-touch
  * attribution WITHOUT [[UTouchCarry]]'s per-key monotone-arrival
  * assumption. ALL events (touches and purchases) buffer in ListState;
  * a purchase settles only from the expired-timer path, once the
  * watermark proves its lookback closed (`wm ≥ p_ts`: any unseen touch
  * with `t_ts < p_ts ≤ wm` is beyond the lateness bound and the
  * watermark filter will drop it, so the settled split is final) — the
  * same conservative close condition as [[TimerSessions]]. Timers are
  * armed at ceil-to-ms of each pending purchase (so `wm ≥ timer`
  * implies `wm_us ≥ p_ts` exactly); stale extra timers are harmless by
  * the same argument as TimerSessions — the expiry path settles only
  * what the watermark proves and re-arms for the rest. Expiry trims
  * touches older than `wm − W` (no purchase at or after the watermark
  * can reach back to them), so state per key is bounded by touch rate ×
  * (attribution window + watermark delay) plus the unsettled purchases
  * inside the delay. Touch-ONLY keys reach the trim too: a batch with
  * no purchase arms a cleanup timer at (newest ts + W), and the expiry
  * path re-arms it while trimmed survivors remain — so a key that goes
  * quiet drains to ZERO state instead of parking its last window's
  * tail forever. */
class UTouchTimers
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AttrEvT, UTouchCredit] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ListState}

  private val W = graft.analytics.IncrementalQueries.ATTR_WINDOW_US

  @transient private var buf: ListState[AttrEv] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    buf = getHandle.getListState[AttrEv]("buf",
      org.apache.spark.sql.Encoders.product[AttrEv], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[AttrEvT],
      timerValues: TimerValues): Iterator[UTouchCredit] = {
    var minP = Long.MaxValue
    var maxTs = Long.MinValue
    rows.foreach { e =>
      buf.appendValue(AttrEv(e.user_id, e.ts_us, e.event_id,
        e.event_type, e.cents))
      if (e.event_type == "purchase" && e.ts_us < minP) minP = e.ts_us
      if (e.ts_us > maxTs) maxTs = e.ts_us
    }
    if (minP != Long.MaxValue) getHandle.registerTimer(minP / 1000 + 1)
    // cleanup timer for touch-only input: without it a key that never
    // purchases never reaches handleExpiredTimer, so its wm−W trim never
    // runs and the buffer grows with stream length. Armed at (newest
    // buffered ts + W) — once the watermark passes that, every touch
    // buffered NOW is older than wm−W and the expiry path drains it
    // (purchases arriving later carry p_ts ≥ wm and can only reach back
    // to wm−W, so nothing trimmed was still creditable). One timer per
    // touch-only batch, W later — low frequency; stale extras are
    // harmless (the expiry path settles/trims only what the watermark
    // proves and re-arms for the rest).
    else if (maxTs != Long.MinValue)
      getHandle.registerTimer((maxTs + W) / 1000 + 1)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[UTouchCredit] = {
    val wmUs = timerValues.getCurrentWatermarkInMs() * 1000
    val all = buf.get().toSeq
    val (purch, touch) = all.partition(_.event_type == "purchase")
    val (settle, pend) = purch.partition(_.ts_us <= wmUs)
    val out = settle.sortBy(e => (e.ts_us, e.event_id))
      .flatMap(p => UTouch.credits(p, touch))
    buf.clear()
    val kept = touch.filter(_.ts_us >= wmUs - W) ++ pend
    if (kept.nonEmpty) buf.appendList(kept.toArray)
    if (pend.nonEmpty)
      getHandle.registerTimer(pend.map(_.ts_us).min / 1000 + 1)
    // no pending purchase but touches survived the trim: re-arm the
    // cleanup timer (handleInputRows' touch-only arming) so the buffer
    // drains to empty once the watermark passes the newest touch + W —
    // state for a key that stops producing goes to ZERO, not to its
    // last window's tail
    else if (kept.nonEmpty)
      getHandle.registerTimer((kept.map(_.ts_us).max + W) / 1000 + 1)
    out.iterator
  }
}

/** Output row of [[StreamJobs.runningTotals]]: per-user running event count
  * and exact integer-cents value total. */
final case class UserTotals(user_id: Long, n_events: Long, total_cents: Long)

/** StatefulProcessor for [[StreamJobs.runningTotals]] — one named
  * ValueState variable per user holding the running totals; each batch
  * folds its rows into the state and emits the updated row. Cents are
  * accumulated as integers (math.round(value*100)) so totals are exact and
  * order-independent. */
class RunningTotals
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserTotals] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var totals: ValueState[UserTotals] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[UserTotals]("totals",
      org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timerValues: TimerValues): Iterator[UserTotals] = {
    var n = 0L
    var cents = 0L
    rows.foreach { e => n += 1; cents += math.round(e.value * 100) }
    val prev =
      if (totals.exists()) totals.get() else UserTotals(key, 0L, 0L)
    val next = UserTotals(key, prev.n_events + n, prev.total_cents + cents)
    totals.update(next)
    Iterator.single(next)
  }
}

/** StatefulProcessor for [[StreamJobs.timerSessions]]: ListState event
  * buffer + a single re-armed event-time timer per key. Sessions emit only
  * from the expired-timer path, i.e. only once the watermark proves the
  * gap — the same close condition as [[Sessionize]], so emitted sessions
  * are exactly the batch sessions once the watermark passes them. */
class TimerSessions
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, SessionOut] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ListState}

  @transient private var buf: ListState[Ev] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    buf = getHandle.getListState[Ev]("buf",
      org.apache.spark.sql.Encoders.product[Ev], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timerValues: TimerValues): Iterator[SessionOut] = {
    rows.foreach(buf.appendValue)
    // arm a timer at (last buffered event + gap). Earlier timers for this
    // key may still be pending — that is fine BY DESIGN: the expiry path
    // below emits only sessions the watermark has proven closed and
    // re-arms for the rest, so a stale timer can never emit early. (Do
    // NOT "clean up" with listTimers+deleteTimer here: timers are not
    // worth deleting, and an eager delete-all is exactly the kind of
    // key-scoping bug a conservative expiry path is immune to.)
    val lastMs = buf.get().map(_.ts_us).max / 1000
    getHandle.registerTimer(lastMs + Sessionize.GapUs / 1000)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
    // emit exactly the sessions whose gap the WATERMARK has passed; the
    // still-open tail goes back into the buffer with a fresh timer
    val wmUs = timerValues.getCurrentWatermarkInMs() * 1000
    val sorted = buf.get().toSeq.sortBy(_.ts_us)
    buf.clear()
    val sessions = Sessionize.sessionsOf(sorted)
    val (closed, open) = sessions.partition(_.end_us + Sessionize.GapUs <= wmUs)
    if (open.nonEmpty) {
      val keepFrom = open.head.start_us
      sorted.filter(_.ts_us >= keepFrom).foreach(buf.appendValue)
      getHandle.registerTimer(open.last.end_us / 1000 + Sessionize.GapUs / 1000)
    }
    closed.iterator
  }
}
