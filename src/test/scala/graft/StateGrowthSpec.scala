package graft

import graft.streaming._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** State-SIZE growth law for the heaviest stateful streams (r19 verdict
  * item 5). The stream==batch twins pin output CORRECTNESS; nothing until
  * this suite measured what the state STORE does as the feed grows. Each
  * test drives a job with a chronologically sliced feed and asserts the
  * `numRowsTotal` state metric (StreamingQueryProgress.stateOperators)
  * tracks the job's documented bound — keys for the keyed-state jobs, the
  * event-time window for the interval join — and NOT the cumulative feed
  * size. A state leak that makes rows grow with total input fails these
  * tests even while every output row stays correct.
  */
class StateGrowthSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001
  import spark.implicits._

  /** Total state rows reported by the most recent progress that carries
    * state-operator metrics (a trailing no-data batch can report an empty
    * operator list, so scan backwards). */
  private def stateRows(q: StreamingQuery): Long =
    q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(0L)

  test("packStream state is stream-count-bounded: rows track (lang,source), never the corpus") {
    val feedDir = TestSpark.tempDir("graft-packstate").toString
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"source", $"doc_id", $"text")
    val total = docs.count()
    val nStreams = docs.select($"lang", $"source").distinct().count()
    // three chronological (doc_id-ascending) slices — the append-only
    // order the packer documents as its feed contract
    val cuts = Seq(total / 3, 2 * total / 3, total + 1)
    docs.filter($"doc_id" < cuts(0)).coalesce(1)
      .write.mode("append").parquet(feedDir)
    val schema = StructType(Seq(
      StructField("lang", StringType), StructField("source", StringType),
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).parquet(feedDir)
    val q = StreamJobs.packStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("pack_state_out").start()
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      q.processAllAvailable()
      sizes += stateRows(q)
      for (c <- cuts.drop(1)) {
        docs.filter($"doc_id" < c && $"doc_id" >= cuts(sizes.length - 1))
          .coalesce(1).write.mode("append").parquet(feedDir)
        q.processAllAvailable()
        sizes += stateRows(q)
      }
    } finally StreamGuards.stop(q)
    assert(spark.table("pack_state_out").count() === total,
      "every doc must be packed exactly once")
    // O(1) per (lang,source) stream: after each slice the state rows
    // equal the number of DISTINCT STREAMS SEEN, never the doc count —
    // tripling the corpus moves state only by the new groups it opens
    val expected = cuts.map(c =>
      docs.filter($"doc_id" < c).select($"lang", $"source")
        .distinct().count())
    assert(sizes.toSeq === expected,
      s"pack state $sizes diverged from the seen-stream counts $expected " +
        s"($total docs fed, $nStreams total streams)")
  }

  test("asOfEnrichStream state is key-bounded after maturity: carried dim per key, not the feed") {
    val dimDir = TestSpark.tempDir("graft-asofstate-dim").toString
    val factDir = TestSpark.tempDir("graft-asofstate-fact").toString
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type",
        expr("cast(round(value * 100) as bigint)").as("v_cents"))
    val total = ev.count()
    val nKeys = ev.select($"user_id").distinct().count()
    val dimRows = ev.filter($"event_type" =!= "purchase")
      .select($"user_id", $"ts", $"event_id", $"event_type".as("state"))
    val factRows = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"v_cents")
    // two chronological halves per side, then far-future sentinels that
    // push the watermark past every real row so all pending rows mature
    val midTs = new java.sql.Timestamp(
      ev.agg(expr("percentile(unix_micros(ts), 0.5)")).head()
        .getDouble(0).toLong / 1000L)
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
    for (firstHalf <- Seq(true, false)) {
      val cond = if (firstHalf) $"ts" <= midTs else $"ts" > midTs
      dimRows.filter(cond).coalesce(1).write.mode("append").parquet(dimDir)
      factRows.filter(cond).coalesce(1).write.mode("append").parquet(factDir)
    }
    val dimSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("state", StringType)))
    val factSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("v_cents", LongType)))
    val q = StreamJobs.asOfEnrichStream(
        spark.readStream.schema(dimSchema).parquet(dimDir),
        spark.readStream.schema(factSchema).parquet(factDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_state_out").start()
    try {
      q.processAllAvailable()
      // sentinel rounds: one batch to advance the watermark, one to flush
      for (i <- 0 to 1) {
        val sentTs = new java.sql.Timestamp(maxTs.getTime + 86400000L * (30 + i))
        Seq((-1L, sentTs, 100000L + i, "noise"))
          .toDF("user_id", "ts", "event_id", "state")
          .coalesce(1).write.mode("append").parquet(dimDir)
        q.processAllAvailable()
      }
      // documented bound: one carried dim state per key + rows still
      // inside the watermark lag. After the sentinel flush only the
      // sentinel key's own rows can still be pending, so state rows must
      // sit at ~|keys| — two orders of magnitude under the feed size.
      val s = stateRows(q)
      assert(s <= nKeys + 1,
        s"as-of state $s exceeds the key bound $nKeys + sentinel " +
          s"(feed was $total rows — a pending-list leak grows with it)")
    } finally StreamGuards.stop(q)
  }

  test("orderShipmentJoin state tracks the interval window, not cumulative input") {
    val ordDir = TestSpark.tempDir("graft-osjstate-ord").toString
    val liDir = TestSpark.tempDir("graft-osjstate-li").toString
    val ord = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber", $"l_shipdate", $"l_returnflag")
    val totalFed = ord.count() + li.count()
    // four chronological year-range slices: the join's state bound is
    // the ±180d interval + 30d lag, ~a third of one slice's span
    val bounds = Seq("1994-01-01", "1996-01-01", "1997-06-01", "2000-01-01")
    var prev = "1900-01-01"
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def drop(lo: String, hi: String): Unit = {
      ord.filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
        .coalesce(1).write.mode("append").parquet(ordDir)
      li.filter($"l_shipdate" >= lo && $"l_shipdate" < hi)
        .coalesce(1).write.mode("append").parquet(liDir)
    }
    drop(prev, bounds.head); prev = bounds.head
    // schema read back from the staged files (the lake's own timestamp
    // flavor — NTZ under the UTC session — exactly the T7e pattern)
    val q = StreamJobs.orderShipmentJoin(
        spark.readStream.schema(spark.read.parquet(ordDir).schema)
          .parquet(ordDir),
        spark.readStream.schema(spark.read.parquet(liDir).schema)
          .parquet(liDir))
      .writeStream.outputMode("append").format("memory")
      .queryName("osj_state_out").start()
    try {
      q.processAllAvailable()
      sizes += stateRows(q)
      for (b <- bounds.drop(1)) {
        drop(prev, b); prev = b
        q.processAllAvailable()
        sizes += stateRows(q)
      }
    } finally StreamGuards.stop(q)
    // window-bounded, feed-unbounded: by the fourth slice the input has
    // quadrupled but retained rows must track the ±180d+lag window
    assert(sizes.last < totalFed * 2 / 5,
      s"join state ${sizes.last} is a feed-sized fraction of $totalFed: $sizes")
    assert(sizes.last <= sizes(1) * 8 / 5 + 50,
      s"join state kept growing across same-span chronological slices " +
        s"(leak, not window retention): $sizes")
  }

  test("zz state-growth guard coverage") {
    StreamGuards.assertClean(
      Set("pack_state_out", "asof_state_out", "osj_state_out"))
  }
}
