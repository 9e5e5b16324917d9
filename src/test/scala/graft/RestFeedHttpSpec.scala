package graft

import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.ingest.{CtaFixtures, CtaIngest}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** The S1 retry contract over a REAL socket — the integration leg the
  * reference pins against the live endpoint
  * (tests/integration/test_cta_api_response.py:8-40). RestFeedSourceSpec
  * exercises the same contract through in-JVM mock transports; this spec
  * closes the remaining fidelity gap by serving the mock ttpositions
  * payloads from a localhost `com.sun.net.httpserver.HttpServer` and
  * driving `format("graft-rest")` through its DEFAULT `java-net-http`
  * transport — real TCP connect, real HTTP status lines, real response
  * bodies, scripted 429s.
  */
class RestFeedHttpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Serve `/ttpositions.aspx` from a scripted handler: `script(route,
    * perRouteCounter)` decides each response's (status, body). The body
    * receives the server's base URL; the server always stops. */
  private def withServer(script: (String, Int) => (Int, String))(
      body: (String, java.util.concurrent.ConcurrentHashMap[String, AtomicInteger],
        java.util.concurrent.atomic.AtomicReference[String]) => Unit): Unit = {
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val counts =
      new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    val lastQuery = new java.util.concurrent.atomic.AtomicReference[String]("")
    server.createContext("/ttpositions.aspx", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        lastQuery.set(q)
        val rt = q.split("&").collectFirst {
          case kv if kv.startsWith("rt=") => kv.stripPrefix("rt=")
        }.getOrElse("?")
        val n = counts.computeIfAbsent(rt, _ => new AtomicInteger(0))
          .incrementAndGet()
        val (status, bodyStr) = script(rt, n)
        val bytes = bodyStr.getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        if (status == RestFeedHttpSpec.Truncate) {
          // declare more bytes than will ever arrive, then slam the
          // connection: the client sees a mid-body transport failure
          ex.sendResponseHeaders(200, bytes.length + 64L)
          ex.getResponseBody.write(bytes)
          ex.close()
        } else {
          ex.sendResponseHeaders(status, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        }
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}", counts,
      lastQuery)
    finally server.stop(0)
  }

  private def fixtureBody(rt: String): String =
    CtaFixtures.feeds.collectFirst {
      case (line, _, json) if line == rt => json
    }.getOrElse(fail(s"no fixture for route $rt"))

  private def options(base: String): Map[String, String] = Map(
    "base" -> base,
    "apikey" -> "k",
    "lines" -> CtaFixtures.feeds.map(_._1).mkString(","),
    "cycles" -> "1",
    "pollIntervalMs" -> "0",
    "pollTs" -> "2025-07-01T08:30:00",
    "transport" -> "java-net-http") // the REAL default transport

  test("real socket: 429<=3 retry budget absorbed per route, ingest equals batch normalize") {
    // every route answers 429 twice, then the fixture payload — the
    // reference's exact pinned budget (tests/unit/
    // test_get_train_status.py:83-106) must absorb it over real HTTP
    withServer((rt, n) =>
      if (n <= 2) (429, "slow down") else (200, fixtureBody(rt))) {
      (base, counts, lastQuery) =>
        val tmp =
          TestSpark.tempDir("graft-http-429").toString
        val q = graft.streaming.StreamJobs
          .rawFeedStreamRest(spark, options(base))
          .writeStream.format("memory").queryName("rest_http_ingest")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/ckpt")
          .start()
        assert(q.awaitTermination(120000))
        // exactly 3 requests per route: two 429s + the success
        CtaFixtures.feeds.map(_._1).foreach { line =>
          assert(counts.get(line).get() === 3,
            s"route $line: expected 2x429 + 1 success over the socket")
        }
        // the API contract's query parameters arrived intact on the wire
        // (the reference's integration test pins this request shape)
        val qs = lastQuery.get()
        assert(qs.contains("key=k") && qs.contains("outputType=JSON"),
          s"request query drifted from ttpositions contract: $qs")
        // and the rows that came back over HTTP normalize identically to
        // the batch path over the same fixture payloads
        val got = spark.table("rest_http_ingest")
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
  }

  test("real socket: persistent 429 exhausts 3 attempts and fails the task") {
    withServer((_, _) => (429, "nope")) { (base, counts, _) =>
      val tmp =
        TestSpark.tempDir("graft-http-429f").toString
      val q = spark.readStream.format("graft-rest")
        .options(options(base) + ("lines" -> "Red")).load()
        .writeStream.format("memory").queryName("rest_http_429_fail")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      intercept[StreamingQueryException] { q.awaitTermination(120000) }
      // 3 wire attempts per task attempt × the 2 task attempts of
      // TestSpark's local[4,2] (task re-drive is pinned by TaskRetrySpec)
      assert(counts.get("Red").get() === 3 * 2,
        "budget must be exactly 3 attempts on the wire per task attempt")
    }
  }

  test("real socket: non-retryable HTTP 500 raises after exactly one request") {
    withServer((_, _) => (500, "boom")) { (base, counts, _) =>
      val tmp =
        TestSpark.tempDir("graft-http-500").toString
      val q = spark.readStream.format("graft-rest")
        .options(options(base) + ("lines" -> "Red")).load()
        .writeStream.format("memory").queryName("rest_http_500_fail")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      intercept[StreamingQueryException] { q.awaitTermination(120000) }
      assert(counts.get("Red").get() === 1 * 2,
        "non-retryable status must raise immediately (reference " +
          "raise_for_status; no HTTP retry) — one request per task " +
          "attempt, times local[4,2]'s 2 task attempts")
    }
  }

  test("real socket: truncated 200 body fails the task, admits NO partial batch") {
    // a poll whose connection dies mid-body is a transport failure, not a
    // 429: it must fail the task after its one request (no silent retry
    // burning the 429 budget) and, exactly-once critical, the memory sink
    // must see ZERO rows from the broken poll — a partial batch from a
    // half-read body would be an admitted corruption the checkpoint then
    // makes permanent
    withServer((rt, _) => (RestFeedHttpSpec.Truncate, fixtureBody(rt))) {
      (base, counts, _) =>
        val tmp =
          TestSpark.tempDir("graft-http-trunc").toString
        val q = spark.readStream.format("graft-rest")
          .options(options(base) + ("lines" -> "Red")).load()
          .writeStream.format("memory").queryName("rest_http_trunc")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/ckpt")
          .start()
        intercept[StreamingQueryException] { q.awaitTermination(120000) }
        assert(counts.get("Red").get() === 1 * 2,
          "a transport failure is not rate limiting: one request per " +
            "task attempt (no HTTP retry), times local[4,2]'s 2 attempts")
        assert(spark.table("rest_http_trunc").count() === 0,
          "no rows may be admitted from a truncated poll")
    }
  }
}

object RestFeedHttpSpec {
  /** Sentinel "status" for the scripted handler: respond 200 but declare
    * more bytes than are sent, then close — a mid-body transport failure
    * as the client sees it. */
  val Truncate: Int = -1
}
