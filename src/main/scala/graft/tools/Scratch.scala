package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev tool: interleaved A/B timing of declared queries (full-plan
  * execution like the bench; jobs labeled per arm and rep). Not part of the
  * declared surface.
  *
  * Usage: `runMain graft.tools.Scratch <dir> <reps> <query1,query2,...>`,
  * session sized by `SPARK_GRAFT_CPUS`. After one untimed warmup round
  * (codegen, file listing, memo builds), arms run INTERLEAVED — a full
  * round of all arms, `reps` times — so box drift hits every arm equally;
  * per-arm min, shuffle bytes and all raw times print at the end. To A/B
  * an alternative form, declare it as a query; the measurements of past
  * A/Bs are in the OPTIMIZATION_r*.md files.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Scratch <dir> <reps> <query1,query2,...>")
    val (dir, reps, arms) = (args(0), args(1).toInt, args(2).split(",").toSeq)
    val spark = GraftSession.buildLocal("graft-scratch")
    spark.sparkContext.setLogLevel("ERROR")
    // cumulative shuffle-byte counters so each arm's exchange volume is
    // visible next to its wall time
    val tm = new graft.TaskTotals
    spark.sparkContext.addSparkListener(tm)
    spark.range(100000L).selectExpr("sum(id)").collect()
    // the registry is assembled once, outside the timed region
    val reg = SparkEntry.queries
    def run(n: String): Unit = reg(n)(spark, dir).queryExecution.toRdd.count()
    arms.foreach(run)
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val bytes = scala.collection.mutable.Map[String, (Long, Long)]()
    for (r <- 1 to reps; n <- arms) {
      spark.sparkContext.setJobDescription(s"$n rep$r")
      val (w0, r0) = (tm.shufWriteB.get, tm.shufReadB.get)
      val t0 = System.nanoTime()
      run(n)
      times(n) :+= (System.nanoTime() - t0) / 1e9
      bytes(n) = (tm.shufWriteB.get - w0, tm.shufReadB.get - r0)
    }
    arms.foreach { n =>
      val ts = times(n)
      val (w, rd) = bytes(n)
      println(f"AB $n%-14s min=${ts.min}%7.3f  shufW=${w / 1e6}%9.2fMB shufR=${rd / 1e6}%9.2fMB  raw=[${ts.map(t => f"$t%.3f").mkString(", ")}]")
    }
    spark.stop()
  }
}
