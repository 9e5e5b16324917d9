package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{GraftSession, Registry, SparkEntry}
import graft.ingest.CtaIngest
import graft.sources.{RestPoller, RestTransports}
import graft.streaming.StreamJobs
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** One benchmark run inside one JVM: set up, run the workload's timed
  * operations for the requested seconds, check outputs, and write every
  * raw record to `out` (JSON) and, when tracing, the spans next to it.
  * `perfbench/run.py` builds the inputs, starts this and the mock API, and
  * turns the records into metrics.
  *
  * Arguments are key=value pairs: workload, data, work, out, seconds,
  * passes, trace, seed, cpus, ready; mixes take queries; cta_pipeline takes
  * mock, cycles, raw, probe and expect. */
object Harness {
  final case class Op(kind: String, name: String, pass: Int, ok: Boolean,
      ms: Double, err: String = "", rows: Long = -1L,
      parts: Map[String, Double] = Map.empty, traced: Boolean = false)

  /** A traced run compares its traced passes with its untraced ones. The
    * first passes after the warm pass are still slow (a JVM warming up:
    * 8.6, 6.3, 5.1 s on one pipeline run), so a traced run first runs one
    * more untimed pass, numbered this, to keep warm-up out of the overhead. */
  val SettlePass = -2

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val h = new Harness(a)
    try h.run() finally h.close()
  }
}

final class Harness(args0: Map[String, String]) {
  import Harness.Op

  // inputs are generated while this JVM starts; `ready=<file>` names the
  // file whose appearance says they exist, with any late arguments in it
  private var a = args0
  private val workload = a("workload")
  private val data = new File(a("data")).getAbsolutePath
  private val work = new File(a("work")).getAbsolutePath
  private val seconds = a("seconds").toDouble
  private val minPasses = a("passes").toInt
  private val traceOn = a("trace") == "1"
  private val seed = a("seed").toLong
  private val cpus = a("cpus").toInt
  private val trace = new Trace(traceOn)
  private val ops = ArrayBuffer[Op]()
  private val checks = ArrayBuffer[(String, Boolean, String)]()
  private val extra = scala.collection.mutable.LinkedHashMap[String, String]()
  private val load1mStart = load1m
  private var firstTimedMs = -1.0
  private var spark: SparkSession = _
  private var stats: TaskStats = _
  private var batchLog: BatchLog = _

  private def load1m: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e6)
  }

  /** The error and its root cause, one line each at most. */
  private def short(t: Throwable): String = {
    def line(e: Throwable) =
      s"${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    if (root eq t) line(t) else s"${line(t)} (root cause ${line(root)})"
  }

  private def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += ((name, ok, detail))

  /** Whole passes until `seconds` have elapsed, at least `passes`. A traced
    * run orders its passes untraced, traced, traced, untraced (and again),
    * so a drift across the run cancels out of the tracing overhead. */
  private def morePasses(done: Int, elapsedS: Double): Boolean =
    if (traceOn) done < 4 || done % 4 != 0 || elapsedS < seconds
    else done < minPasses || elapsedS < seconds

  private def tracedPass(pass: Int): Boolean = traceOn && (pass % 4 == 1 || pass % 4 == 2)

  private def markTimedStart(): Unit = {
    if (firstTimedMs < 0) firstTimedMs = System.currentTimeMillis().toDouble
    setTraced(false)
  }

  // tracing records spans and attaches listeners only for the passes it
  // traces, so the untraced passes of the same run measure the plain cost.
  // Events reach listeners asynchronously: before the listeners come off,
  // the bus is drained so the traced ops' last events are not lost.
  private def setTraced(on: Boolean): Unit = if (traceOn) {
    trace.active = on
    if (on) {
      spark.sparkContext.addSparkListener(stats)
      spark.streams.addListener(batchLog)
    } else {
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(stats)
      spark.streams.removeListener(batchLog)
    }
  }

  def run(): Unit = {
    val session = trace.span("session", "GraftSession.build") {
      timed(GraftSession.build(s"local[$cpus]", cpus, "perfbench"))
    }
    spark = session._1
    extra("session_start_ms") = Json.num(session._2)
    a.get("ready").foreach(awaitInputs)
    stats = new TaskStats
    batchLog = new BatchLog
    workload match {
      case "cta_pipeline" => new Pipeline().run()
      case _ => runMix()
    }
  }

  private def awaitInputs(path: String): Unit = {
    val f = new File(path)
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!f.exists) {
      require(System.nanoTime() < deadline, s"inputs not ready: $path")
      Thread.sleep(10)
    }
    val late = scala.io.Source.fromFile(f, "UTF-8")
    try late.getLines().filter(_.contains('=')).foreach { l =>
      val i = l.indexOf('='); a += l.take(i) -> l.drop(i + 1)
    } finally late.close()
    require(!a.contains("abort"), "input generation failed")
  }

  // --- query mixes ---------------------------------------------------------

  private def runMix(): Unit = {
    val reg = SparkEntry.queries
    val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val outDir = s"$work/outputs"
    Files.write(Paths.get(s"$work/oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
        .map { case (k, v) => k -> Json.str(v) }).getBytes("UTF-8"))
    // warm pass: the first call of every query runs here, untimed — memo
    // builds, codegen and file listing — and writes the output the
    // oracle check compares
    val warm = ArrayBuffer[(String, Double, Boolean)]()
    val reached = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    val (_, warmMs) = trace.span("session", "warm") {
      timed(names.foreach { n =>
        val (ok, ms) = timed {
          try {
            val df = reg(n)(spark, data)
            df.write.mode("overwrite").parquet(s"$outDir/$n")
            reached(n) = Probe.functionsIn(df.queryExecution.optimizedPlan)
            true
          } catch { case t: Throwable => check(s"output:$n", false, short(t)); false }
        }
        warm += ((n, ms, ok))
      })
    }
    extra("warm_ms") = Json.num(warmMs)
    extra("functions_reached") = Json.obj(reached.map { case (n, fs) =>
      n -> Json.arr(fs.map(Json.str)) })
    extra("warm") = Json.obj(warm.map { case (n, ms, ok) =>
      n -> Json.obj(Seq("ms" -> Json.num(ms), "ok" -> ok.toString)) })
    if (traceOn) names.foreach(n => ops += runQuery(reg, n, Harness.SettlePass, traced = false))
    val passMs = ArrayBuffer[Double]()
    val passTraced = ArrayBuffer[Boolean]()
    val localDir = ArrayBuffer[Double]()
    val rnd = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    markTimedStart()
    while (morePasses(pass, elapsed)) {
      val traced = tracedPass(pass)
      setTraced(traced)
      val order = rnd.shuffle(names)
      val (_, ms) = timed(order.foreach(n => ops += runQuery(reg, n, pass, traced)))
      setTraced(false)
      passMs += ms
      passTraced += traced
      localDir += Probe.dirMb(spark.sparkContext.getConf.get("spark.local.dir", ""))
      pass += 1
    }
    extra("pass_ms") = Json.arr(passMs.map(Json.num))
    extra("pass_traced") = Json.arr(passTraced.map(_.toString))
    extra("local_dir_mb_by_pass") = Json.arr(localDir.map(Json.num))
    if (traceOn) {
      trace.active = true
      try Probe.functions(spark, data, trace).foreach { case (k, v) =>
        extra(s"functions.$k") = Json.num(v) }
      catch { case e: Throwable => check("probe:functions", false, short(e)) }
    }
    extra("tiers") = Json.obj(names.map(n =>
      n -> Json.str(Registry.tierOf.getOrElse(n, "none"))))
  }

  /** build (the registry fn), plan (executedPlan), execute (toRdd.count)
    * — the frozen-plan semantics of graft.Bench. */
  private def runQuery(reg: Map[String, (SparkSession, String) => DataFrame],
      n: String, pass: Int, traced: Boolean): Op = {
    trace.op += 1
    val label = s"q:$n:$pass"
    spark.sparkContext.setJobGroup(label, label, interruptOnCancel = false)
    val t = System.nanoTime()
    var b, p = 0.0
    try trace.span("bench", n) {
      val (df, bms) = timed(trace.span("query", "build")(reg(n)(spark, data)))
      b = bms
      val (_, pms) = timed(trace.span("query", "plan")(df.queryExecution.executedPlan))
      p = pms
      val (rows, ems) = timed(trace.span("query", "execute")(df.queryExecution.toRdd.count()))
      Op("query", n, pass, ok = true, (System.nanoTime() - t) / 1e6, rows = rows,
        parts = Map("build_ms" -> b, "plan_ms" -> p, "exec_ms" -> ems), traced = traced)
    } catch {
      case e: Throwable =>
        Op("query", n, pass, ok = false, (System.nanoTime() - t) / 1e6, short(e),
          traced = traced)
    } finally spark.sparkContext.clearJobGroup()
  }

  // --- CTA pipeline --------------------------------------------------------

  private final class Pipeline {
    private val base = a("mock")
    private val cycles = a("cycles").toInt
    private val rawDay = a("raw")
    private val expect = Expect.load(a("expect"))
    private val traceTransport = "perfbench-traced-http"

    def run(): Unit = {
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
      RestTransports.register(traceTransport, { url =>
        val s = trace.nowMs
        val r = RestTransports.get(RestTransports.JavaNetHttp)(url)
        trace.record("sources", "fetch", s, trace.nowMs)
        r
      })
      // warm pass (pass -1): two cycles and one hour of the raw day through
      // every code path of a pass; untimed, and its outputs are not compared
      val (_, warmMs) = trace.span("session", "warm") {
        timed(onePass(-1, traced = false, nCycles = 2,
          raw = new File(rawDay).listFiles().map(_.getPath).min))
      }
      extra("warm_ms") = Json.num(warmMs)
      if (traceOn) onePass(Harness.SettlePass, traced = false)
      val passMs = ArrayBuffer[Double]()
      val passTraced = ArrayBuffer[Boolean]()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var pass = 0
      markTimedStart()
      while (morePasses(pass, elapsed)) {
        val traced = tracedPass(pass)
        passMs += onePass(pass, traced)
        passTraced += traced
        pass += 1
      }
      extra("pass_ms") = Json.arr(passMs.map(Json.num))
      extra("pass_traced") = Json.arr(passTraced.map(_.toString))
      if (traceOn) {
        trace.active = true
        try probes() catch { case e: Throwable => check("probe:pipeline", false, short(e)) }
      }
    }

    /** Land `cycles` one-cycle batches into a fresh lake, compact the raw
      * day, run the trend query on both lakes. Returns the pass's summed
      * op time (the checks between ops are not timed). */
    private def onePass(pass: Int, traced: Boolean, nCycles: Int = cycles,
        raw: String = rawDay): Double = {
      val warm = pass < 0
      val lake = s"$work/lake_$pass"
      val ckpt = s"$work/ckpt_$pass"
      val daily = s"$work/daily_$pass"
      Probe.get(s"$base/reset")
      setTraced(traced)
      var total = 0.0
      trace.op += 1
      val opts = Map("base" -> base, "apikey" -> "bench",
        "cycles" -> nCycles.toString, "pollIntervalMs" -> "0",
        "maxCyclesPerTrigger" -> "1", "pollTs" -> expect.pollTs,
        "transport" -> (if (traced) traceTransport else RestTransports.JavaNetHttp))
      val t = System.nanoTime()
      val drained = try {
        trace.span("bench", "drain") {
          val q = trace.span("streaming", "start") {
            StreamJobs.landObservations(StreamJobs.rawFeedStreamRest(spark, opts),
              lake, ckpt).trigger(Trigger.AvailableNow()).start()
          }
          try trace.span("streaming", "awaitTermination")(q.awaitTermination())
          finally q.stop()
          q.recentProgress.toSeq
        }
      } catch { case e: Throwable =>
        ops += Op("batch", "drain", pass, ok = false, (System.nanoTime() - t) / 1e6,
          short(e), traced = traced)
        Seq.empty
      }
      val drainMs = (System.nanoTime() - t) / 1e6
      total += drainMs
      drained.filter(_.numInputRows > 0).foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        ops += Op("batch", s"batch${p.batchId}", pass, ok = true,
          d.getOrElse("triggerExecution", 0.0), rows = p.numInputRows,
          parts = d, traced = traced)
      }
      val landedOk = drained.nonEmpty
      if (landedOk) {
        ops += Op("drain", "drain", pass, ok = true, drainMs, traced = traced,
          rows = drained.map(_.numInputRows).sum)
        if (!warm) checkLake(lake).foreach(why => failPass("batch", pass, why))
      }
      setTraced(false)
      // daily compaction of one raw day
      setTraced(traced)
      total += timedOp("compact", "compact", pass, traced) {
        CtaIngest.compact(spark, raw, daily)
        -1L
      }
      setTraced(false)
      if (!warm) checkDaily(daily).foreach(why => failPass("compact", pass, why))
      setTraced(traced)
      if (landedOk) total += timedOp("trend", "trend_fresh", pass, traced) {
        val r = Trend.run(Trend.fromLake(spark, lake))
        if (!warm && r != expect.fresh)
          throw new IllegalStateException(s"output differs: ${Trend.diff(r, expect.fresh)}")
        r.byLineHour.size.toLong
      }
      total += timedOp("trend", "trend_daily", pass, traced) {
        val r = Trend.run(Trend.fromDaily(spark, daily))
        if (!warm && r != expect.daily)
          throw new IllegalStateException(s"output differs: ${Trend.diff(r, expect.daily)}")
        r.byLineHour.size.toLong
      }
      setTraced(false)
      if (pass == 0 || traced) {
        extra(s"lake_$pass") = Probe.tree(lake)
        extra(s"daily_$pass") = Probe.tree(daily)
        extra(s"ckpt_$pass") = Probe.tree(ckpt)
      }
      total
    }

    private def timedOp(kind: String, name: String, pass: Int, traced: Boolean)(
        body: => Long): Double = {
      trace.op += 1
      val label = s"$name:$pass:${trace.op}"
      spark.sparkContext.setJobGroup(label, label, interruptOnCancel = false)
      val t = System.nanoTime()
      val op = try {
        val rows = trace.span("bench", name)(trace.span(layerOf(name), name)(body))
        Op(kind, name, pass, ok = true, (System.nanoTime() - t) / 1e6, rows = rows,
          traced = traced, parts = Map("op" -> trace.op.toDouble))
      } catch { case e: Throwable =>
        Op(kind, name, pass, ok = false, (System.nanoTime() - t) / 1e6, short(e),
          traced = traced)
      } finally spark.sparkContext.clearJobGroup()
      ops += op
      op.ms
    }

    private def layerOf(name: String) = if (name == "compact") "ingest" else "query"

    /** A pass whose output is wrong: its `kind` ops become failures, so
      * none of their times is reported. */
    private def failPass(kind: String, pass: Int, why: String): Unit =
      for (i <- ops.indices if ops(i).kind == kind && ops(i).pass == pass && ops(i).ok)
        ops(i) = ops(i).copy(ok = false, err = why)

    /** None when the lake holds the expected rows and delayed rows per line. */
    private def checkLake(lake: String): Option[String] = try {
      val got = spark.read.parquet(lake).groupBy("line").agg(count(lit(1)).as("n"),
        sum(col("is_train_delayed").cast("long")).as("d")).collect()
        .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2))).toMap
      if (got == expect.landed) None
      else Some(s"landed rows differ: got=$got want=${expect.landed}")
    } catch { case e: Throwable => Some(short(e)) }

    /** None when the compacted day holds each (train_id, current_timestamp)
      * exactly once and all of them. */
    private def checkDaily(daily: String): Option[String] = try {
      val n = spark.read.parquet(daily).count()
      val distinct = spark.read.parquet(daily)
        .select("train_id", "current_timestamp").distinct().count()
      extra("daily_rows") = n.toString
      if (n == expect.dailyDistinct && distinct == n) None
      else Some(s"compacted rows=$n distinct=$distinct want=${expect.dailyDistinct}")
    } catch { case e: Throwable => Some(short(e)) }

    /** Layer probes, traced run only: fetchLine latency straight against
      * the mock and batch normalize throughput over one simulated hour. */
    private def probes(): Unit = {
      val transport = RestTransports.get(RestTransports.JavaNetHttp)
      val fetch = (0 until 200).map { _ =>
        timed(RestPoller.fetchLine(base, "bench", "PROBE", transport))._2
      }
      extra("fetch_ms") = Json.arr(fetch.drop(20).map(Json.num))
      val raw = spark.read.schema(StreamJobs.rawFeedSchema).json(a("probe")).cache()
      raw.count()
      val runs = (0 until 4).map { _ =>
        timed(trace.span("ingest", "normalize")(CtaIngest.normalize(raw).count()))
      }
      raw.unpersist()
      extra("normalize_rows") = Json.num(runs.head._1.toDouble)
      extra("normalize_ms") = Json.arr(runs.drop(1).map(r => Json.num(r._2)))
      extra("mock_stats") = Probe.get(s"$base/stats")
    }
  }

  // --- result --------------------------------------------------------------

  /** Heap still in use after a full collection: what the session retains. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def close(): Unit = {
    val loadEnd = load1m
    if (spark != null) {
      extra("live_heap_mb") = Json.num(liveHeapMb())
      val st = spark.sparkContext.getRDDStorageInfo
      extra("storage_mem_mb") = Json.num(st.map(_.memSize).sum / 1048576.0)
      extra("storage_disk_mb") = Json.num(st.map(_.diskSize).sum / 1048576.0)
      extra("local_dir_mb") = Json.num(Probe.dirMb(spark.sparkContext.getConf.get("spark.local.dir", "")))
      if (traceOn) {
        extra("task_stats") = Json.obj(stats.byLabel.map { case (k, m) =>
          k -> Json.obj(m.map { case (f, v) => f -> Json.num(v) }) })
        extra("batch_log") = Json.arr(batchLog.batches.map(m =>
          Json.obj(m.map { case (k, v) => k -> Json.num(v) })))
      }
      extra("confs") = Json.obj(spark.conf.getAll.toSeq.sortBy(_._1)
        .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
          k.startsWith("spark.local") || k.startsWith("spark.serializer") }
        .map { case (k, v) => k -> Json.str(v) })
      extra("spark_version") = Json.str(spark.version)
    }
    val rss = Probe.vmHwmMb
    val opsJson = Json.arr(ops.map { o =>
      Json.obj(Seq("kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
        "pass" -> o.pass.toString, "ok" -> o.ok.toString, "ms" -> Json.num(o.ms),
        "rows" -> o.rows.toString, "err" -> Json.str(o.err),
        "traced" -> o.traced.toString,
        "parts" -> Json.obj(o.parts.map { case (k, v) => k -> Json.num(v) })))
    })
    val checksJson = Json.arr(checks.map { case (n, ok, d) =>
      Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
    })
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "trace_on" -> traceOn.toString,
      "first_timed_epoch_ms" -> Json.num(firstTimedMs),
      "load_1m_start" -> Json.num(load1mStart),
      "load_1m_end" -> Json.num(loadEnd),
      "peak_rss_mb" -> Json.num(rss),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "ops" -> opsJson, "checks" -> checksJson) ++ extra)
    Files.write(Paths.get(a("out")), out.getBytes("UTF-8"))
    if (traceOn) trace.write(a("out") + ".spans.jsonl")
    if (spark != null) spark.stop()
  }
}
