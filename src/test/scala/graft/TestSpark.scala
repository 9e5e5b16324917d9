package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  /** [[GraftSession.confs]] on `local[4,2]`, deliberately WITHOUT
    * GraftExtensions: the suite's session stands in for a session graft
    * did not build, which the queries must work on (whoever calls them may
    * own the session), so any function or rule a query needs must install
    * itself from the query side, as `GraftExtensions.registerOn` does.
    * local[4,2]: maxFailures=2, so a task's first-attempt failure is
    * re-driven once — TaskRetrySpec exercises the re-drive contract SURVEY
    * §4 maps from the reference's retry loop; plain local[N] would fail the
    * whole job on the first injected task failure. */
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-tests")
      .config(GraftSession.confs(4))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** A fresh temp dir named `prefix…`, deleted with its contents when the
    * test JVM exits. Every test temp dir and file comes from here or
    * [[tempFile]] (RegistrySpec bans the raw calls elsewhere), so a suite
    * run leaves nothing behind in the temp root. */
  def tempDir(prefix: String): java.nio.file.Path =
    deleteAtExit(java.nio.file.Files.createTempDirectory(prefix))

  /** A fresh temp file `prefix…suffix`, deleted when the test JVM exits. */
  def tempFile(prefix: String, suffix: String): java.nio.file.Path =
    deleteAtExit(java.nio.file.Files.createTempFile(prefix, suffix))

  private def deleteAtExit(p: java.nio.file.Path): java.nio.file.Path = {
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => GraftSession.deleteRecursively(p.toFile)))
    p
  }

  /** The value of `body` and the number of Spark jobs it launched on this
    * thread: `body` runs under a fresh job group, and the listener bus is
    * drained before the group's jobs are counted. */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val a = try body finally sc.clearJobGroup()
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
    (a, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
