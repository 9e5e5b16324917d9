package graft

import java.nio.file.Files

import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types.{DoubleType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` infers each table's parquet schema once per session, and
  * `GraftSession.contentKey` — the staleness guard of that memo — sees
  * the real files of any Hadoop path. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs `body` launches on this thread. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val a = try body finally sc.clearJobGroup()
    ListenerBridge.drain(sc)
    (a, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private def freshDir(): String =
    Files.createTempDirectory("graft-tables-spec").toFile.getAbsolutePath

  private def writeT(dir: String, sql: String): Unit =
    spark.sql(sql).write.mode("overwrite").parquet(s"$dir/t.parquet")

  test("a second Tables.load of one table launches no Spark job") {
    val dir = freshDir()
    writeT(dir, "SELECT id AS k, id * 2 AS v FROM range(10)")
    // the first load infers the schema (one job): the counter sees it
    val (first, firstJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(firstJobs === 1)
    val (second, secondJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(secondJobs === 0, "the memoized schema must spare the inference job")
    assert(second.schema === first.schema)
    assert(second.count() === 10)
  }

  test("a table rewritten with other columns is re-inferred within the session") {
    val dir = freshDir()
    writeT(dir, "SELECT id AS k, CAST(id AS STRING) AS s FROM range(5)")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("k", "s"))
    writeT(dir, "SELECT id AS k, CAST(id AS DOUBLE) AS d, id AS e FROM range(7)")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq === Seq("k", "d", "e"))
    assert(again.schema("d").dataType === DoubleType)
    assert(again.count() === 7)
  }

  test("events under nanosAsLong true and false key two separate schema entries") {
    // a private copy of the events table, so no other spec's loads share
    // its keys
    val dir = freshDir()
    Files.copy(new java.io.File(TestSpark.sf0001, "events.parquet").toPath,
      new java.io.File(dir, "events.parquet").toPath)
    val prev = spark.conf.getOption(NanosAsLong)
    try {
      // Tables.events sets nanosAsLong=true itself
      val (_, trueJobs) = jobsOf(Tables.events(spark, dir))
      assert(trueJobs === 1)
      spark.conf.set(NanosAsLong, "false")
      val (f, falseJobs) = jobsOf(Tables.load(spark, dir, "events"))
      assert(falseJobs === 1, "a changed parquet conf must key a fresh inference")
      assert(f.schema("ts").dataType === TimestampNTZType)
      // both entries stay: neither conf value re-infers
      val (_, trueAgain) = jobsOf(Tables.events(spark, dir))
      spark.conf.set(NanosAsLong, "false")
      val (_, falseAgain) = jobsOf(Tables.load(spark, dir, "events"))
      assert((trueAgain, falseAgain) === ((0, 0)))
    } finally prev match {
      case Some(v) => spark.conf.set(NanosAsLong, v)
      case None => spark.conf.unset(NanosAsLong)
    }
  }

  test("two loads of one table self-join on distinct attribute ids") {
    // the memo holds the schema, never the DataFrame: each load is a fresh
    // relation, so a self-join needs no aliasing and resolves both sides
    val a = Tables.load(spark, TestSpark.sf0001, "nation")
    val b = Tables.load(spark, TestSpark.sf0001, "nation")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val j = a.join(b, a("n_regionkey") === b("n_regionkey") &&
      a("n_nationkey") < b("n_nationkey"))
    val perRegion = a.groupBy("n_regionkey").count().collect().map(_.getLong(1))
    assert(j.count() === perRegion.map(n => n * (n - 1) / 2).sum)
  }

  test("contentKey fingerprints a file:-URI dir, so a rewrite changes the key") {
    val dir = freshDir()
    val uri = new java.io.File(dir).toURI.toString.stripSuffix("/")
    assert(uri.startsWith("file:"))
    writeT(dir, "SELECT id AS k FROM range(3)")
    val before = GraftSession.contentKey(uri, Seq("t"))
    assert(GraftSession.contentKey(uri, Seq("t")) === before)
    writeT(dir, "SELECT id AS k FROM range(4)")
    assert(GraftSession.contentKey(uri, Seq("t")) !== before,
      "a regenerated table must not keep its stale memo key")
    // and a table that is not there fingerprints without throwing
    assert(GraftSession.contentKey(uri, Seq("absent")) ===
      GraftSession.contentKey(uri, Seq("absent")))
  }
}
