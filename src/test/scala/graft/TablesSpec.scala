package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{DoubleType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` infers each table's parquet schema once per session, and
  * `GraftSession.contentKey` — the staleness guard of that memo — sees
  * the real files of any Hadoop path. The other content-keyed memos (the
  * embeddings count, `q_span_scrub`'s hot-span set) follow a table
  * rewritten within the session the same way. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  import TestSpark.jobsOf

  private def freshDir(): String =
    TestSpark.tempDir("graft-tables-spec").toFile.getAbsolutePath

  private def writeT(dir: String, sql: String, table: String = "t"): Unit =
    spark.sql(sql).write.mode("overwrite").parquet(s"$dir/$table.parquet")

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

  test("a rewritten embeddings table is counted afresh by embCount") {
    val dir = freshDir()
    writeT(dir, "SELECT id AS vec_id FROM range(10)", "embeddings")
    assert(ext.SimilarityQueries.embCount(spark, dir) === 10L)
    writeT(dir, "SELECT id AS vec_id FROM range(17)", "embeddings")
    assert(ext.SimilarityQueries.embCount(spark, dir) === 17L,
      "the IVF K growth law must see the rewritten table's count")
  }

  test("a second q_span_scrub build launches no Spark job") {
    val scrub = SparkEntry.queries("q_span_scrub")
    scrub(spark, TestSpark.sf0001)
    val (_, jobs) = jobsOf(scrub(spark, TestSpark.sf0001))
    assert(jobs === 0, "the hot-span set is collected once per documents version")
  }

  test("a rewritten documents table re-derives q_span_scrub's hot set") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val dir = freshDir()
    val docs = Tables.documents(spark, TestSpark.sf0001)
    docs.write.parquet(s"$dir/documents.parquet")
    val scrub = SparkEntry.queries("q_span_scrub")
    assert(jobsOf(scrub(spark, dir))._2 >= 1)
    assert(jobsOf(scrub(spark, dir))._2 === 0)
    // the new first span of every document is hot in the new version and
    // absent from the old one's hot set
    docs.withColumn("text", concat(lit("zq zq zq "), col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the rewritten table's schema inference runs apart from the build
    Tables.documents(spark, dir)
    val (df, jobs) = jobsOf(scrub(spark, dir))
    assert(jobs >= 1, "a rewritten documents table must collect its hot set again")
    val rewritten = df.collect().toSeq
    assert(rewritten.forall(r =>
      r.getAs[Long]("docs_touched") == r.getAs[Long]("n_docs")), rewritten)
    GraftSession.clearMemos(spark)
    assert(rewritten === scrub(spark, dir).collect().toSeq)
  }
}
