package graft

import graft.sources.{Backoff, RestPoller}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Retry-contract tests (mirroring the reference's pinned retry behavior)
  * and partitioned-lake pruning. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001
  import spark.implicits._

  private def countingHttp(statuses: Int*): (Iterator[Int], String => RestPoller.HttpResponse, () => Int) = {
    var calls = 0
    val it = statuses.iterator
    val f = (_: String) => { calls += 1; RestPoller.HttpResponse(it.next(), "{}") }
    (it, f, () => calls)
  }

  test("429 is retried up to 3 attempts then raises (reference contract)") {
    val (_, http, calls) = countingHttp(429, 429, 429, 429)
    val e = intercept[Backoff.RetryableError] {
      RestPoller.fetchLine("http://x", "k", "Red", http, sleeper = _ => ())
    }
    assert(e.getMessage.contains("429"))
    assert(calls() === 3) // exactly 3 attempts, as the reference tests pin
  }

  test("429 then success succeeds within the budget") {
    val (_, http, calls) = countingHttp(429, 200)
    val body = RestPoller.fetchLine("http://x", "k", "Red", http, sleeper = _ => ())
    assert(body === "{}")
    assert(calls() === 2)
  }

  test("non-retryable status raises immediately without retry") {
    val (_, http, calls) = countingHttp(503, 200)
    intercept[RuntimeException] {
      RestPoller.fetchLine("http://x", "k", "Red", http, sleeper = _ => ())
    }
    assert(calls() === 1)
  }

  test("url matches the reference's query-string shape") {
    assert(RestPoller.url("https://api", "KEY", "Org") ===
      "https://api/ttpositions.aspx?key=KEY&rt=Org&outputType=JSON")
  }

  test("partitioned lake write prunes partitions on read") {
    val lake = TestSpark.tempDir("graft-lake").toString + "/events"
    Tables.events(spark, sf)
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .write.partitionBy("day").parquet(lake)
    val pruned = spark.read.parquet(lake).filter($"day" === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("day#"), plan)
    // only the selected partition's rows are read
    val expected = Tables.events(spark, sf)
      .filter(date_format($"ts", "yyyy-MM-dd") === "2024-01-05").count()
    assert(pruned.count() === expected)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .head.metrics.get("numFiles")
    // 30 day-partitions exist; the scan should touch only one
    assert(spark.read.parquet(lake)
      .select($"day").distinct().count() === 30)
  }
}
