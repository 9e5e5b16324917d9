package graft

import org.scalatest.funsuite.AnyFunSuite

/** Oracle TRACTABILITY as a test (round 13, VERDICT r12 item 6): every
  * declared oracle must complete in DuckDB within a hard per-query budget
  * at sf0.001, so an intractable oracle (the round-12 outage: DuckDB 1.0
  * inlines every CTE and one unrolled-chain oracle planned
  * combinatorially, >25 min at sf0.01, stalling the driver's sequential
  * gate into an EMPTY round) fails `sbt test` the day it is authored —
  * not at driver time, silently.
  *
  * The probe shells to the DuckDB replica (`tools/oracle_time.py`); on a
  * box without python3+duckdb the spec is CANCELED (assume), never
  * silently green — the full gate still covers it wherever the driver
  * runs. The 30 s budget is ~15× the slowest healthy oracle at this SF
  * (q_ann_eval's brute-truth arm, ~1.9 s idle — everything else is
  * milliseconds) measured while the suite's own 32-thread Spark load
  * saturates the box; the pathology this guards (CTE-inlining blowup) is
  * 25+ MINUTES, so the margin costs no detection power. A 10 s budget
  * tripped on contention alone (round-13 session-3 flake).
  */
class OracleBudgetSpec extends AnyFunSuite {

  private def duckdbAvailable: Boolean =
    try {
      val p = new ProcessBuilder("python3", "-c", "import duckdb")
        .redirectErrorStream(true).start()
      p.waitFor() == 0
    } catch { case _: java.io.IOException => false }

  test("every declared oracle runs inside the DuckDB budget at sf0.001") {
    assume(duckdbAvailable, "python3+duckdb not on this box; driver gate covers it")
    assume(new java.io.File(TestSpark.sf0001).isDirectory)
    val tmp = TestSpark.tempFile("graft-oracles", ".json")
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(tmp,
      SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    val pb = new ProcessBuilder("python3", "tools/oracle_time.py",
      TestSpark.sf0001, tmp.toString, "30")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    assert(rc == 0,
      s"intractable/erroring oracles:\n${
        out.linesIterator.filter(_.startsWith("OVER-BUDGET")).mkString("\n")}")
    // the probe genuinely ran everything (one timing line per oracle)
    val timed = out.linesIterator.count(l => l.nonEmpty && !l.startsWith("OVER"))
    assert(timed == SparkEntry.oracleSql.size, s"probe timed $timed oracles")
  }

  test("every oracle's column names equal the Spark side's schema") {
    // The driver's hash gate sorts columns BY NAME before comparing
    // values, so an alias drifting on either side is a guaranteed
    // driver-time hash mismatch. This catches it at `sbt test` time:
    // Spark schemas come from the built DataFrames' analyzed plans,
    // oracle schemas from DuckDB DESCRIBE (planning only). Note the
    // Spark side is NOT execution-free: queries whose builders eagerly
    // localCheckpoint() a shared dictionary (chain-drift/modal-agreement
    // rankedMembers, the epoch-budget/train-readiness waterfill base)
    // run those sf0.001 corpus jobs during construction — a few seconds,
    // accepted as this probe's cost.
    assume(duckdbAvailable, "python3+duckdb not on this box; driver gate covers it")
    assume(new java.io.File(TestSpark.sf0001).isDirectory)
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sqlTmp = TestSpark.tempFile("graft-oracles", ".json")
    java.nio.file.Files.writeString(sqlTmp,
      SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    val spark = TestSpark.spark
    val schemaTmp = TestSpark.tempFile("graft-schemas", ".json")
    java.nio.file.Files.writeString(schemaTmp,
      SparkEntry.oracleSql.keys.map { name =>
        val fields = SparkEntry.queries(name)(spark, TestSpark.sf0001)
          .schema.fieldNames
        s"${q(name)}: ${fields.map(q).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}"))
    val pb = new ProcessBuilder("python3", "tools/oracle_schema.py",
      TestSpark.sf0001, sqlTmp.toString, schemaTmp.toString)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    assert(rc == 0, s"oracle/Spark column-name drift:\n${
      out.linesIterator.dropWhile(!_.startsWith("SCHEMA-DRIFT")).mkString("\n")}")
    val checked = out.linesIterator.count(_.startsWith("OK "))
    assert(checked == SparkEntry.oracleSql.size,
      s"probe checked $checked of ${SparkEntry.oracleSql.size} oracles")
  }
}
