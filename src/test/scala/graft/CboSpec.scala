package graft

import graft.analytics.CboQueries
import org.apache.spark.sql.catalyst.plans.logical.{Join, LeafNode, LogicalPlan}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins SURVEY §4's cost-based-optimization claim: catalog statistics are
  * really computed, visible to the optimizer, and change a join order the
  * rule-based optimizer would keep.
  */
class CboSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001

  /** Table names referenced by the join tree, in plan-string (top-down,
    * left-to-right) order — i.e. the join order the optimizer settled on. */
  private def joinOrder(plan: LogicalPlan): Seq[String] = {
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: LogicalPlan): Unit = p match {
      case j: Join => walk(j.left); walk(j.right)
      case l: LeafNode =>
        CboQueries.statTables.find(t => l.toString.contains(t))
          .foreach(names += _)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    names.toSeq
  }

  test("ANALYZE stats give the optimizer real rowCounts") {
    val p = GraftSession.ensureStats(spark, sf, CboQueries.statTables)
    GraftSession.withCbo(spark) {
      val stats = spark.table(s"${p}lineitem")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.isDefined && stats.rowCount.get.toLong > 0)
      // column stats exist too (ANALYZE ... FOR ALL COLUMNS)
      assert(stats.attributeStats.nonEmpty)
    }
  }

  test("join-reorder DP replans the deliberately bad written order") {
    val p = GraftSession.ensureStats(spark, sf, CboQueries.statTables)
    val sql =
      s"""SELECT n_name, COUNT(*) AS n
         |FROM ${p}lineitem
         |JOIN ${p}orders ON l_orderkey = o_orderkey
         |JOIN ${p}customer ON o_custkey = c_custkey
         |JOIN ${p}nation ON c_nationkey = n_nationkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY n_name""".stripMargin
    val plain = joinOrder(spark.sql(sql).queryExecution.optimizedPlan)
    val cbo = GraftSession.withCbo(spark) {
      val df = spark.sql(sql)
      joinOrder(df.queryExecution.optimizedPlan)
    }
    info(s"rule-based order: $plain")
    info(s"cbo order:        $cbo")
    // without stats-driven reorder the written (bad) order survives
    assert(plain === Seq("lineitem", "orders", "customer", "nation"))
    // with stats + DP the order changes, and the selective filtered dim
    // side (customer⋈nation) is joined before the lineitem fact
    assert(cbo !== plain)
    assert(cbo.indexOf("nation") < cbo.indexOf("lineitem") ||
      cbo.indexOf("customer") < cbo.indexOf("lineitem"))
  }

  test("q_cbo_star_join returns rows under the CBO-frozen plan") {
    val rows = CboQueries.cboStarJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n")).sum > 0)
  }

  test("ensureStats keys on content: same dir reuses, changed data re-registers") {
    val p1 = GraftSession.ensureStats(spark, sf, Seq("nation"))
    val p2 = GraftSession.ensureStats(spark, sf, Seq("nation"))
    assert(p1 === p2) // memoized: same content, same catalog prefix
    // a copied-then-touched dir must fingerprint differently, so a
    // regenerated lake can never serve stale statistics
    val tmp = TestSpark.tempDir("graft_stats_").toFile
    val srcFile = new java.io.File(sf, "nation.parquet")
    val dst = new java.io.File(tmp, "nation.parquet")
    java.nio.file.Files.copy(srcFile.toPath, dst.toPath)
    val p3 = GraftSession.ensureStats(spark, tmp.getAbsolutePath, Seq("nation"))
    dst.setLastModified(dst.lastModified() + 60000)
    val p4 = GraftSession.ensureStats(spark, tmp.getAbsolutePath, Seq("nation"))
    assert(p3 !== p4)
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // third leg of the optimizer-evidence tier (with DPP and the CBO
    // reorder): InjectRuntimeFilter plants a bloom_filter_might_contain
    // probe from the selective dim side into the fact scan, cutting
    // shuffle input before the join — at 100 TB this is what keeps a
    // 0.1%-selective dim join from shuffling the whole fact table. The
    // size thresholds are tuned for production scans, so pin them down
    // for the sf0.001 fixture; restore after.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag")).count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("might_contain"), plan.take(3000))
      assert(joined.collect().nonEmpty)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }
}
