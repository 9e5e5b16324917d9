package graft

import graft.operators.Salting
import graft.sources.Bucketing
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-path operators: salted aggregation/join equivalence and
  * shuffle-free bucketed joins (plan-shape asserted). */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001
  import spark.implicits._

  test("salted sum/count agrees with direct aggregation") {
    val li = Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_quantity")
    val direct = li.groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("sum_l_quantity"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val salted = Salting.saltedSumCount(li, Seq("l_returnflag"), "l_quantity", 8)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet === direct.keySet)
    salted.foreach { case (k, (s, c)) =>
      assert(c === direct(k)._2)
      assert(math.abs(s - direct(k)._1) < 1e-6)
    }
  }

  test("reliable-checkpoint flag: an iterative round runs through checkpoint(dir)") {
    // Default is localCheckpoint (executor-local, not fault-tolerant);
    // setting spark.graft.checkpoint.dir opts iterative operators into
    // RELIABLE checkpoints — the cluster-scale mode where executor loss
    // costs one round's files, not the whole iteration.
    val dir = TestSpark.tempDir("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val st = graft.analytics.HierarchyQueries.jumpStatePlan(spark, sf)
      // the jump build checkpoints every round; under the flag those are
      // reliable checkpoints, so the plan bottoms out in an RDD scan and
      // checkpoint files exist under the configured dir
      assert(st.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
      val n = st.count()
      assert(n > 0)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no reliable checkpoint files written under $dir")
      // depth histogram must match the localCheckpoint path's semantics:
      // same row count as the plain (default-mode) build
      spark.conf.unset("spark.graft.checkpoint.dir")
      val plain = graft.analytics.HierarchyQueries.jumpStatePlan(spark, sf)
      assert(plain.count() === n)
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      // SparkContext offers no checkpoint-dir unset, so the context keeps
      // pointing at this (now deleted) temp dir for the rest of the shared
      // suite — harmless while no other test opts into reliable mode, and
      // GraftSession.ckpt now WARNS if a different dir is configured later.
      // Delete the tree so the suite leaves no checkpoint files behind.
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) {
        java.nio.file.Files.walk(root)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("the pre-sort barrier writes no reliable checkpoint files") {
    // reliable mode is for iterative rounds; a presentation sort's
    // barrier (a shuffle placed by PresortBarrier) must not write the
    // query's whole output to durable storage
    def files(d: String): Long = {
      val p = java.nio.file.Paths.get(d.stripPrefix("file:"))
      if (!java.nio.file.Files.exists(p)) 0L
      else java.nio.file.Files.walk(p)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
    }
    val q = SparkEntry.queries("q_join_semi")
    val want = q(spark, sf).collect().toSeq
    val dir = TestSpark.tempDir("graft_presort").toString
    // an earlier reliable-mode test may have fixed the context's dir
    // elsewhere (SparkContext offers no reset); watch that one too
    val ctxDir = spark.sparkContext.getCheckpointDir
    val before = ctxDir.map(files).getOrElse(0L)
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val got = q(spark, sf).collect().toSeq
      assert(got === want)
      assert(files(dir) === 0L, s"the pre-sort barrier wrote reliable checkpoint files under $dir")
      assert(ctxDir.map(files).getOrElse(0L) === before)
      assert(spark.sparkContext.getCheckpointDir === ctxDir)
    } finally {
      spark.conf.unset("spark.graft.checkpoint.dir")
      val root = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("repeated pre-sort barrier runs retain no RDD blocks") {
    // the barrier is a shuffle stage, not a checkpoint: its files belong
    // to the plan and go with it, so a long-lived session running the
    // same heavy sorted query again and again holds no more storage than
    // its memoized builds (here: the BPE merge table)
    val q = SparkEntry.queries("q_tokens_per_doc")
    val want = q(spark, sf).collect().toSeq
    def held: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val memos = held
    (1 to 10).foreach(_ => assert(q(spark, sf).collect().toSeq === want))
    assert(held -- memos === Set.empty[Int],
      "each run left RDD blocks behind: " +
        spark.sparkContext.getRDDStorageInfo.filterNot(i => memos(i.id)).mkString("; "))
  }

  test("salted join agrees with direct join") {
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity")
    val o = Tables.orders(spark, sf)
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    val direct = li.join(o, Seq("l_orderkey")).count()
    val salted = Salting.saltedJoin(li, o, "l_orderkey", 4).count()
    assert(salted === direct)
  }

  test("as-of join: self-probe returns each row's own value (inclusive <=)") {
    val e = Tables.events(spark, sf)
    val probe = e.select($"user_id", $"ts", $"event_id", $"value".as("expected"))
    val build = e.select($"user_id", $"ts", $"value")
    val out = graft.operators.AsOfJoin
      .lastValueAsOf(probe, build, "user_id", "ts", "value", "state")
      .collect()
    assert(out.length === e.count())
    // (user_id, ts) is unique, so the latest build value at ts is the row's own
    out.foreach { r =>
      assert(r.getAs[Double]("state") === r.getAs[Double]("expected"))
    }
  }

  test("native as-of join exec matches the composable union+window rewrite") {
    import graft.plans.NativeAsOfJoin
    val e = Tables.events(spark, sf)
    // probe 5 minutes back: some rows match an older event, the earliest
    // rows of each user match nothing (null state)
    val probe = e.select($"user_id", (unix_micros($"ts") - 300000000L).as("ts_us"),
      $"event_id")
    val build = e.select($"user_id", unix_micros($"ts").as("ts_us"), $"value")
    val native = NativeAsOfJoin.join(probe, build, "user_id", "ts_us", "value", "state")
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), plan)
    val nRows = native.collect()
      .map(r => r.getLong(2) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    val composable = graft.operators.AsOfJoin
      .lastValueAsOf(probe, build, "user_id", "ts_us", "value", "state")
      .collect()
      .map(r => r.getLong(2) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    assert(nRows.size === composable.size)
    assert(nRows === composable)
    // sanity: both null (pre-history) and non-null matches occur
    assert(nRows.values.exists(_.isEmpty) && nRows.values.exists(_.nonEmpty))
  }

  test("native as-of join: NULL keys/ts match nothing, NULL build rows ignored") {
    import graft.plans.NativeAsOfJoin
    val probe = Seq(
      (Option(1L), Option(10L), "a"),
      (Option.empty[Long], Option(20L), "b"),
      (Option(1L), Option.empty[Long], "c"),
      (Option(2L), Option(5L), "d"),
      (Option(1L), Option(5L), "e"))
      .toDF("k", "ts_us", "tag")
    val build = Seq(
      (Option(1L), Option(8L), 1.0),
      (Option.empty[Long], Option(1L), 99.0),
      (Option(1L), Option.empty[Long], 98.0),
      (Option(2L), Option(4L), 2.0))
      .toDF("k", "ts_us", "v")
    val out = NativeAsOfJoin.join(probe, build, "k", "ts_us", "v", "state")
      .collect()
      .map(r => r.getAs[String]("tag") ->
        Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    assert(out === Map(
      "a" -> Some(1.0), // build (1, 8) <= (1, 10)
      "b" -> None,      // NULL key matches nothing
      "c" -> None,      // NULL ts matches nothing
      "d" -> Some(2.0), // build (2, 4) <= (2, 5)
      "e" -> None))     // build ts 8 > probe ts 5
  }

  test("bucketed fact-fact join plans without exchanges") {
    // spark.sql.warehouse.dir is static — use the default warehouse and
    // drop the managed tables (and their files) afterwards. Disable
    // broadcast so the planner actually uses the bucketed SMJ path (at real
    // scale both sides are far over the broadcast threshold anyway).
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity"),
      "li_bucketed", "l_orderkey", 8)
    Bucketing.writeBucketed(
      Tables.orders(spark, sf).select($"o_orderkey", $"o_totalprice"),
      "o_bucketed", "o_orderkey", 8)
    val joined = Bucketing.readTable(spark, "li_bucketed")
      .join(Bucketing.readTable(spark, "o_bucketed"),
        $"l_orderkey" === $"o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
    assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
    // same rows as the unbucketed join
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey").count()
    assert(joined.count() === direct)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("bucket pruning: an equality filter on the bucket key reads 1 bucket") {
    Bucketing.writeBucketed(
      Tables.orders(spark, sf).select($"o_orderkey", $"o_totalprice"),
      "o_prune_bucketed", "o_orderkey", 8)
    // auto-bucketed-scan turns the bucketed layout OFF when no operator
    // needs its distribution, which also forfeits bucket pruning — for a
    // selective point-lookup the pruning IS the benefit, so pin it on
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    try {
      val key = Tables.orders(spark, sf).agg(min($"o_orderkey")).head().getLong(0)
      val plan = Bucketing.readTable(spark, "o_prune_bucketed")
        .where($"o_orderkey" === key)
        .queryExecution.executedPlan.toString
      // the scan must report selecting exactly one of the 8 bucket files —
      // at 100 TB this is the difference between reading 1/8 of the table
      // and all of it, before any row-level filtering happens
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning missing:\n$plan")
    } finally {
      spark.conf.set(autoKey, prevAuto)
      spark.sql("DROP TABLE IF EXISTS o_prune_bucketed")
    }
  }

  test("AQE coalesces post-shuffle partitions for small outputs") {
    // the runtime-replan leg: a grouped aggregate whose shuffle output is
    // tiny must not keep all configured shuffle partitions alive — AQE
    // folds them into a handful of right-sized ones (at 100 TB the same
    // machinery right-sizes every stage's partition count from real stats)
    val df = Tables.orders(spark, sf)
      .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
    df.collect() // AQE finalizes the plan only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead coalesced"),
      s"expected AQE-coalesced shuffle read:\n$plan")
  }

  test("identical subplans share ONE shuffle (ReusedExchange)") {
    // the eighth optimizer-evidence leg: when one plan references the
    // same aggregation twice (here: each order's line-count joined back
    // to itself to compare against the per-count average shape), Spark's
    // ReuseExchange rule must materialize the shuffle ONCE and wire the
    // second consumer to a ReusedExchange node — at 100 TB the
    // difference between scanning+shuffling the fact table once vs twice
    val counts = Tables.lineitem(spark, sf)
      .groupBy($"l_orderkey").agg(count(lit(1)).as("n_lines"))
    // BOTH consumers read the full aggregate output — if one side's
    // column were pruned, the subtrees would differ and nothing could be
    // reused (exactly what an earlier draft of this test showed)
    val joined = counts.as("a")
      .join(counts.as("b"), Seq("l_orderkey"))
      .select($"l_orderkey", ($"a.n_lines" + $"b.n_lines").as("s"))
    joined.collect() // AQE finalizes the plan only on execution
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"expected the second aggregate consumer to reuse the first's shuffle:\n$plan")
  }

  test("parquet answers MIN/MAX/COUNT from footers (aggregate pushdown)") {
    // the ninth optimizer-evidence leg: an unfiltered MIN/MAX/COUNT over
    // a parquet table must be answered from row-group STATISTICS, not a
    // data scan — at 100 TB that is the difference between touching
    // every page of the fact table and reading a few thousand footers.
    // Pushdown requires the DSv2 parquet reader, so the v1 fallback list
    // is cleared for this test only (and restored).
    val conf = spark.conf
    val prevV1 = conf.get("spark.sql.sources.useV1SourceList")
    val prevAgg = conf.getOption("spark.sql.parquet.aggregatePushdown")
    try {
      conf.set("spark.sql.sources.useV1SourceList", "")
      conf.set("spark.sql.parquet.aggregatePushdown", "true")
      val df = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(min($"l_extendedprice").as("mn"),
          max($"l_extendedprice").as("mx"),
          count(lit(1)).as("n"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [MIN(l_extendedprice), " +
        "MAX(l_extendedprice), COUNT(*)]"),
        s"expected the aggregate pushed into the parquet scan:\n$plan")
      // and the pushed answer must agree with the executed v1 path
      val viaV1 = Tables.lineitem(spark, sf)
        .agg(min($"l_extendedprice"), max($"l_extendedprice"), count(lit(1)))
        .head()
      assert(df.head() === viaV1)
    } finally {
      conf.set("spark.sql.sources.useV1SourceList", prevV1)
      prevAgg match {
        case Some(v) => conf.set("spark.sql.parquet.aggregatePushdown", v)
        case None => conf.unset("spark.sql.parquet.aggregatePushdown")
      }
    }
  }

  test("a join infers IsNotNull and pushes it into both parquet scans") {
    // the tenth optimizer-evidence leg: InferFiltersFromConstraints. An
    // inner equi-join implies its keys are non-null; Catalyst must turn
    // that constraint into an explicit filter and push it down to BOTH
    // scans (PushedFilters: [IsNotNull(...)]) — at 100 TB this skips
    // null-heavy row groups on the fact side before the shuffle, a filter
    // nobody wrote. Asserted on the executed plan, not the logical one.
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey", $"o_custkey")
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .select($"c_custkey", $"c_name")
    val j = o.join(c, $"o_custkey" === $"c_custkey")
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey)]"),
      s"expected inferred IsNotNull pushed to the orders scan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey)]"),
      s"expected inferred IsNotNull pushed to the customer scan:\n$plan")
  }

  test("a provably-empty side collapses the whole join without scanning") {
    // the eleventh optimizer-evidence leg: PropagateEmptyRelation. A side
    // whose filter folds to false becomes an empty LocalRelation, and the
    // inner join above it collapses to empty at OPTIMIZATION time — the
    // executed plan must contain no file scan at all. The real-world shape
    // is a partition predicate outside the calendar (yesterday's job
    // re-run against an already-compacted range): the 100-TB fact table
    // must not be listed, let alone read.
    val li = Tables.lineitem(spark, sf)
    val empty = li.filter(lit(1) === lit(2)).select($"l_orderkey")
    val j = Tables.orders(spark, sf)
      .join(empty, $"o_orderkey" === $"l_orderkey")
    assert(j.count() === 0L)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("BatchScan"),
      s"expected the empty side to erase every scan:\n$plan")
    assert(plan.contains("LocalTableScan"),
      s"expected an empty LocalTableScan stub:\n$plan")
  }

  test("join strategy hints override the planner's size-based choice") {
    // the twelfth optimizer-evidence leg: explicit physical-strategy
    // control. Size stats make customer⋈orders a broadcast join; the
    // MERGE hint must force sort-merge anyway (the operator a 100-TB
    // deploy pins when the "small" side's stats lie or memory is tight),
    // and conversely BROADCAST must force a broadcast where the planner
    // would shuffle (threshold dropped to zero for the test).
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey", $"o_custkey")
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .select($"c_custkey", $"c_name")
    val merged = o.join(c.hint("merge"), $"o_custkey" === $"c_custkey")
    merged.collect()
    val mPlan = merged.queryExecution.executedPlan.toString
    assert(mPlan.contains("SortMergeJoin") &&
      !mPlan.contains("BroadcastHashJoin"),
      s"MERGE hint not honored:\n$mPlan")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val bcast = o.join(c.hint("broadcast"), $"o_custkey" === $"c_custkey")
      bcast.collect()
      val bPlan = bcast.queryExecution.executedPlan.toString
      assert(bPlan.contains("BroadcastHashJoin"),
        s"BROADCAST hint not honored under threshold -1:\n$bPlan")
      // same rows either way — the hint changes the plan, never the result
      assert(merged.count() === bcast.count())
    } finally spark.conf.set(key, prev)
  }

  test("AQE splits a runtime-skewed sort-merge join partition") {
    // the UNPLANNED-skew leg, complementing q_join_salted (which handles
    // skew known ahead of time): one synthetic hot key dominates the left
    // side; with the skew thresholds scaled to test data, AQE must detect
    // the oversized partition at runtime and split it (SMJ marked
    // skew=true) — at 100 TB this is the safety net for the hot keys the
    // skew census did NOT predict. Join hints are avoided so the join
    // stays a genuine SMJ.
    val conf = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      // ~50k rows of ONE key with a fat payload (≈10 MB partition) vs a
      // few thousand singleton keys — one shuffle partition far beyond
      // both the absolute threshold and factor×median
      val hot = spark.range(0, 55000).select(
        when($"id" < 50000, lit(7L)).otherwise($"id").as("k"),
        concat(lit("p"), expr("repeat(uuid(), 5)")).as("pay"))
      val right = spark.range(0, 8000).select($"id".as("k"),
        concat(lit("dim_"), $"id").as("tag"))
      val joined = hot.join(right, Seq("k"))
        .groupBy($"tag").agg(sum(length($"pay")).as("bytes"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected an AQE skew-split SMJ (skew=true):\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a null-rejecting filter rewrites LEFT OUTER into INNER join") {
    // the sixteenth optimizer-evidence leg: EliminateOuterJoin. A filter
    // above a left-outer join that can never pass on the padded null row
    // makes the outer semantics unobservable; Catalyst must plan an INNER
    // join. At 100 TB this is the difference between a join that must
    // materialize every unmatched probe row and one that can broadcast,
    // semi-prune, and reorder freely — recovered from a predicate the
    // query author wrote for other reasons.
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey", $"o_custkey")
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .select($"c_custkey", $"c_name")
    val j = o.join(c, $"o_custkey" === $"c_custkey", "left_outer")
      .filter($"c_name".isNotNull)
    val joinTypes = j.queryExecution.optimizedPlan.collect {
      case jn: org.apache.spark.sql.catalyst.plans.logical.Join =>
        jn.joinType.toString
    }
    assert(joinTypes === Seq("Inner"),
      s"expected the outer join eliminated, got $joinTypes:\n" +
        j.queryExecution.optimizedPlan)
    // and the padded-null rows really are gone
    assert(j.count() ===
      o.join(c, $"o_custkey" === $"c_custkey").count())
  }

  test("a partition-key filter above a window is pushed into the scan") {
    // the seventeenth optimizer-evidence leg: predicate pushdown THROUGH
    // a window operator. A filter on the window's partition key cannot
    // change any window result (each partition is filtered wholesale), so
    // Catalyst pushes it below the Window and all the way into the
    // parquet scan. At 100 TB the window's sort+exchange then runs on the
    // selected keys only — the filter author never sees the difference,
    // the cluster does.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag").orderBy($"l_orderkey", $"l_linenumber")
    val q = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_quantity")
      .withColumn("rn", row_number().over(w))
      .filter($"l_returnflag" === "A")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(l_returnflag,A)"),
      s"expected the partition-key filter in PushedFilters:\n$plan")
    // and in the optimized logical plan the filter sits BELOW the window
    import org.apache.spark.sql.catalyst.plans.logical
    val lp = q.queryExecution.optimizedPlan
    val aboveWindow = lp.collect {
      case f: logical.Filter
        if f.collectFirst { case w: logical.Window => w }.isDefined => f
    }
    assert(aboveWindow.isEmpty,
      s"expected no filter left above the window:\n$lp")
    val win = lp.collectFirst { case w: logical.Window => w }
    assert(win.exists(_.child.collectFirst {
      case f: logical.Filter => f }.isDefined) ||
      // …or it was folded entirely into the scan relation
      lp.collectFirst { case f: logical.Filter => f }.isEmpty,
      s"expected the filter pushed below the window:\n$lp")
  }

  test("a limit over UNION ALL is pushed into both branches") {
    // the eighteenth optimizer-evidence leg: LimitPushDown. LIMIT n over a
    // union must become a LOCAL limit inside each branch, so each branch
    // stops after n rows instead of materializing its whole relation
    // into the final limit — on a 100-TB union of two fact scans, the
    // difference between reading a handful of row groups and reading
    // everything.
    val a = spark.read.parquet(s"$sf/orders.parquet").select($"o_orderkey")
    val b = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey".as("o_orderkey"))
    val q = a.union(b).limit(7)
    val localLimits = q.queryExecution.optimizedPlan.collect {
      case ll: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => ll
    }
    // one LocalLimit per union branch (the global limit sits above)
    assert(localLimits.size >= 2,
      s"expected the limit pushed into both union branches:\n" +
        q.queryExecution.optimizedPlan)
    assert(q.count() === 7L)
  }

  test("EXCEPT and INTERSECT plan as anti/semi joins, never materialized sets") {
    // the twentieth optimizer-evidence leg: ReplaceExceptWithAntiJoin /
    // ReplaceIntersectWithSemiJoin. Declarative set ops must lower to the
    // join operators the engine can broadcast, shuffle-partition, and
    // push filters around — not to a "build both sets and diff them"
    // plan. On 100-TB operands this is what makes EXCEPT/INTERSECT
    // runnable at all: the anti/semi join streams one side.
    val o = spark.read.parquet(s"$sf/orders.parquet").select($"o_custkey")
    val c = spark.read.parquet(s"$sf/customer.parquet").select($"c_custkey")
      .toDF("o_custkey")
    val ex = o.except(c)
    val exTypes = ex.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.joinType.toString
    }
    assert(exTypes.exists(_.startsWith("LeftAnti")),
      s"EXCEPT should lower to an anti join, got $exTypes:\n" +
        ex.queryExecution.optimizedPlan)
    val in = o.intersect(c)
    val inTypes = in.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.joinType.toString
    }
    assert(inTypes.exists(_.startsWith("LeftSemi")),
      s"INTERSECT should lower to a semi join, got $inTypes:\n" +
        in.queryExecution.optimizedPlan)
    // and the rewrites preserve set semantics (they add the distinct)
    assert(ex.count() === o.distinct().exceptAll(c.distinct()).distinct().count())
  }

  test("same-spec window functions collapse into ONE WindowExec") {
    // the nineteenth optimizer-evidence leg: CollapseWindow. Several
    // window aggregates over the same partition/order spec must share a
    // single Window operator (one exchange, one sort, one pass) instead
    // of stacking one operator per expression — the plan property that
    // keeps multi-metric window queries (q_window_analytics et al.) at
    // one shuffle regardless of how many metrics ride the frame.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_returnflag").orderBy($"l_orderkey")
    val q = spark.read.parquet(s"$sf/lineitem.parquet")
      .select($"l_orderkey", $"l_returnflag", $"l_quantity",
        $"l_extendedprice")
      .withColumn("run_qty", sum($"l_quantity").over(w))
      .withColumn("run_price", sum($"l_extendedprice").over(w))
      .withColumn("run_rows", count(lit(1)).over(w))
    q.collect()
    val wins = q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.size === 1 && wins.head.windowExpressions.size === 3,
      s"expected the three window aggregates fused into one Window node:\n" +
        q.queryExecution.optimizedPlan)
  }
}
