package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's pass and summary logic: a query that throws is recorded as
  * failed and never counts as a timing. */
class BenchSpec extends AnyFunSuite {
  import Bench.{Run, measure, timeRun}

  test("a failed query is left out of total, tiers, min-of-2 and the recheck") {
    val tierOf = Registry.tierOf
    val good = Seq("q_agg_pricing_summary", "q_join_semi")
    val bad = "q_tokens_per_doc"
    val names = (good :+ bad).sorted
    assert(names.forall(tierOf.contains))
    val calls = collection.mutable.Map[String, Int]().withDefaultValue(0)
    val m = measure(names, prior = Map.empty) { n =>
      calls(n) += 1
      timeRun(n) {
        if (n == bad) throw new IllegalStateException("injected failure")
      }
    }
    assert(m.failed === Seq(bad))
    val (r1, r2) = m.raw.toMap.apply(bad)
    assert(!r1.ok && !r2.ok)
    assert(m.results.keySet === good.toSet)
    assert(m.total === good.map(m.results).sum)
    // the cost-flagged recheck (top 5 by min-of-2) takes every completed
    // query here, and only those
    assert(m.recheck.keySet === good.toSet)
    assert(calls(bad) === 2)
    // bad sits in a tier of its own here, so its time cannot hide in one
    assert(!good.map(tierOf).contains(tierOf(bad)))
    assert(m.tiers.toMap ===
      good.groupBy(tierOf).map { case (t, ns) => t -> ns.map(m.results).sum })
    val line = Bench.compactLine(m, "/data/sf0.1")
    assert(line.contains("\"n_failed\":1"))
    assert(line.contains(s"\"value\":${m.total}"))
    assert(line.length < 200)
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    assert((parsed \ "metric").values === "total")
  }

  test("a query that fails only in the recheck is failed too") {
    var runs = 0
    val m = measure(Seq("q_join_semi"), prior = Map.empty) { n =>
      runs += 1
      if (runs <= 2) Run(0.1, ok = true) else Run(0.01, ok = false)
    }
    assert(m.failed === Seq("q_join_semi"))
    assert(m.results.isEmpty && m.total === 0.0)
    assert(Bench.compactLine(m, "sf").contains("\"n_failed\":1"))
  }

  test("a baseline is taken only when both sf and cpus match") {
    def snap(sf: String, cpus: Option[Int], sec: Double) =
      s"""{"sf":"$sf",""" + cpus.fold("")(c => s""""cpus":$c,""") +
        s""""queries":{"q_join_semi":$sec,"q_join_anti":2}}"""
    val cands = Seq(
      "bench_baseline_r30.json" -> snap("/data/sf0.1", Some(32), 1.0),
      "bench_baseline_r29.json" -> "{not json",
      "bench_baseline_r28.json" -> snap("/data/sf1", Some(4), 2.0),
      "bench_baseline_r27.json" -> snap("/data/sf0.1", Some(4), 3.0),
      "bench_baseline_r26.json" -> snap("/data/sf0.1", Some(4), 4.0),
      "bench_baseline_r17.json" -> snap("/data/sf0.1", None, 5.0))
    // the first candidate in order that matches both
    assert(Bench.selectBaseline(cands, "/data/sf0.1", 4) === Some(
      "bench_baseline_r27.json" -> Map("q_join_semi" -> 3.0, "q_join_anti" -> 2.0)))
    assert(Bench.selectBaseline(cands, "/data/sf0.1", 32).map(_._1) ===
      Some("bench_baseline_r30.json"))
    // another core count, another sf, or a snapshot that never recorded
    // its cpus: no baseline at all, never the nearest one
    assert(Bench.selectBaseline(cands, "/data/sf0.1", 8) === None)
    assert(Bench.selectBaseline(cands, "/data/sf10", 4) === None)
    assert(Bench.selectBaseline(cands.takeRight(1), "/data/sf0.1", 4) === None)
    assert(Bench.selectBaseline(Seq.empty, "/data/sf0.1", 4) === None)
  }
}
