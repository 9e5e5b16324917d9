package graft

import graft.functions.Haversine
import graft.plans.GraftExtensions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sq8_code matches the HOF quantization form bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    val df = Tables.embeddings(spark, TestSpark.sf0001).limit(200)
    val hof = df
      .select($"vec_id", $"embedding",
        array_max(transform($"embedding", x => abs(x.cast(DoubleType)))).as("mx"))
      .withColumn("sc", when($"mx" === 0d, lit(1d)).otherwise($"mx"))
      .select($"vec_id",
        transform($"embedding",
          x => floor(x.cast(DoubleType) / $"sc" * 127)).as("code"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = df
      .select($"vec_id", functions.Sq8Code.sq8Code($"embedding").as("code"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native === hof)
    // SQL registration + zero-vector guard
    GraftSession.registerAll(spark, TestSpark.sf0001)
    val zero = spark.sql(
      "SELECT sq8_code(CAST(array(0.0, 0.0) AS ARRAY<FLOAT>)) AS c")
      .collect().head.getSeq[Long](0)
    assert(zero === Seq(0L, 0L))
  }

  test("minhash_sig matches the HOF signature form bit-for-bit") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (1 to 8).map(r.getString).toList).toMap
    val native = asMap(graft.ext.DedupQueries.minhashSigs(spark, TestSpark.sf0001))
    val hof = asMap(graft.ext.DedupQueries.minhashSigsHof(spark, TestSpark.sf0001))
    assert(native === hof)
    assert(native.nonEmpty)
  }

  test("count-min sketch: never undercounts, merge == single-pass") {
    val d = 4; val w = 64
    val items = (1 to 500).map(i => s"item_${i % 37}")
    val agg = new functions.CountMin(d, w)
    // single-pass reduce
    val one = items.foldLeft(agg.zero)(agg.reduce)
    // split + merge (the partial-aggregation path)
    val (l, r) = items.splitAt(211)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(one.toSeq === merged.toSeq)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
    exact.foreach { case (item, n) =>
      val est = functions.CountMin.estimate(one.toSeq, item, d, w)
      assert(est >= n) // CMS never undercounts
      assert(est <= n + (d.toLong * items.size) / w)
    }
  }

  test("haversine: zero distance, known distance, symmetry") {
    assert(Haversine.km(41.8781, -87.6298, 41.8781, -87.6298) === 0.0)
    // Chicago Loop to O'Hare is ~25 km great-circle
    val loopToOhare = Haversine.km(41.8781, -87.6298, 41.9742, -87.9073)
    assert(loopToOhare > 24 && loopToOhare < 27)
    assert(Haversine.km(1, 2, 3, 4) === Haversine.km(3, 4, 1, 2))
  }

  test("codegen path agrees with interpreted eval") {
    // range-backed so the projection isn't constant-folded into a
    // LocalTableScan — forces the generated-code path
    val df = spark.range(3)
      .select((($"id" * 0.07) + 41.9).as("lat"), lit(-87.65).as("lon"))
    val viaExpr = df.select(
      Haversine.haversineKm($"lat", $"lon", lit(41.8781), lit(-87.6298))
        .as("d")).as[Double].collect()
    val direct = (0 until 3)
      .map(i => Haversine.km(i * 0.07 + 41.9, -87.65, 41.8781, -87.6298))
    assert(viaExpr.toSeq === direct)
    // the '*(n)' prefix marks operators inside a WholeStageCodegen stage;
    // a codegen fallback would print a bare 'Project'
    val plan = df.select(Haversine.haversineKm($"lat", $"lon",
      lit(41.8781), lit(-87.6298))).queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [haversine_km"))
  }

  test("jaro_winkler pins DuckDB's jaro_winkler_similarity bit-for-bit") {
    import graft.functions.JaroWinkler
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      JaroWinkler.sim(UTF8String.fromString(a), UTF8String.fromString(b))
    // expected values are DuckDB 1.x jaro_winkler_similarity outputs,
    // captured verbatim — full double precision, no rounding
    assert(jw("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    assert(jw("JELLYFISH", "SMELLYFISH") === 0.8962962962962964)
    assert(jw("hello world", "hello wrold") === 0.9818181818181818)
    // boost threshold is STRICT jaro > 0.7: 0.7083 boosts, 0.6667 doesn't
    assert(jw("ab", "abcdefghijklmnop") === 0.7666666666666667)
    assert(jw("aaaa", "aabb") === 0.6666666666666666)
    // degenerate cases — blank vs blank is 0.0 in DuckDB/strcmp95 (no
    // evidence), NOT the intuitive 1.0 the r16 fixture asserted without
    // actually capturing it (r17 re-probed every value here verbatim)
    assert(jw("", "") === 0.0)
    assert(jw("", "ABC") === 0.0)
    // odd-mismatch transposition counts take strcmp95's INTEGER t/2 —
    // the case family where the fractional variant diverges (captured
    // verbatim from DuckDB, r17)
    assert(jw("bacccb", "cbab") === 0.8055555555555555)
    assert(jw("babcbac", "ccaacab") === 0.6761904761904761)
    // byte-grained windows on multi-byte text (captured verbatim, r17)
    assert(jw("日本", "本日") === 0.5555555555555555)
    assert(jw("🚂a", "a🚂") === 0.8666666666666667)
    assert(jw("A", "A") === 1.0)
    assert(jw("AB", "BA") === 0.0) // window 0: no cross-position matches
    assert(jw("a", "b") === 0.0)
    // symmetry
    assert(jw("CRATE", "TRACE") === jw("TRACE", "CRATE"))
  }

  test("jaro_winkler codegen agrees with interpreted eval, stays in WSCG") {
    import graft.functions.JaroWinkler
    import org.apache.spark.unsafe.types.UTF8String
    val df = spark.range(26)
      .select(concat(lit("name"), $"id".cast("string")).as("a"),
        concat(lit("nmae"), ($"id" + 1).cast("string")).as("b"))
    val viaExpr = df.select(JaroWinkler.jaroWinkler($"a", $"b").as("j"))
      .as[Double].collect()
    val direct = (0 until 26).map(i =>
      JaroWinkler.sim(UTF8String.fromString(s"name$i"),
        UTF8String.fromString(s"nmae${i + 1}")))
    assert(viaExpr.toSeq === direct)
    val plan = df.select(JaroWinkler.jaroWinkler($"a", $"b"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [jaro_winkler"))
  }

  test("bounding-box rule derives pushable range predicates from a radius filter") {
    import graft.plans.HaversineBoundingBox
    val tmp = TestSpark.tempDir("graft-geo").toString + "/pts"
    spark.range(1000)
      .select(($"id" % 100 * 0.05 + 40.0).as("lat"),
        ($"id" % 97 * 0.06 - 90.0).as("lon"), $"id")
      .write.parquet(tmp)
    val pts = spark.read.parquet(tmp)
    val radius = Haversine.haversineKm($"lat", $"lon",
      lit(41.8781), lit(-87.6298)) < 50.0
    // registerOn leaves the rule on the shared session for good, so the
    // baseline takes it out whatever suite ran first
    val prev = spark.experimental.extraOptimizations
    val without = prev.filterNot(_ == HaversineBoundingBox)
    try {
      spark.experimental.extraOptimizations = without
      val bare = pts.filter(radius)
      assert(!bare.queryExecution.optimizedPlan.toString.contains(">= 41.4"))
      val noRule = bare.collect().map(_.getLong(2)).sorted
      spark.experimental.extraOptimizations = without :+ HaversineBoundingBox
      val withRule = pts.filter(radius)
      val optimized = withRule.queryExecution.optimizedPlan.toString
      assert(optimized.contains("(lat#") && optimized.contains(">= 41.4"),
        optimized) // 41.8781 - 50/110 ≈ 41.4236 lower bound appeared
      val physical = withRule.queryExecution.executedPlan.toString
      assert(physical.contains("PushedFilters: ") &&
        physical.contains("GreaterThanOrEqual(lat,41.4"), physical)
      // exact circle semantics preserved
      assert(withRule.collect().map(_.getLong(2)).sorted === noRule)
    } finally {
      spark.experimental.extraOptimizations = prev
      GraftSession.deleteRecursively(new java.io.File(tmp).getParentFile)
    }
  }

  test("registerOn installs the bounding-box rule on a session graft did not build") {
    val tmp = TestSpark.tempDir("graft-geo").toString + "/pts"
    spark.range(1000)
      .select(($"id" % 100 * 0.05 + 40.0).as("lat"),
        ($"id" % 97 * 0.06 - 90.0).as("lon"), $"id")
      .write.parquet(tmp)
    try {
      graft.plans.GraftExtensions.registerOn(spark)
      val physical = spark.read.parquet(tmp)
        .filter(Haversine.haversineKm($"lat", $"lon", lit(41.8781), lit(-87.6298)) < 50.0)
        .queryExecution.executedPlan.toString
      assert(physical.contains("PushedFilters: ") &&
        physical.contains("GreaterThanOrEqual(lat,41.4"), physical)
    } finally GraftSession.deleteRecursively(new java.io.File(tmp).getParentFile)
  }

  test("a GraftSession.build session pushes the bounding box of a radius filter above a join") {
    import org.apache.spark.sql.SparkSession
    val tmp = TestSpark.tempDir("graft-geo").toFile
    val path = new java.io.File(tmp, "pts").toString
    spark.range(1000)
      .select(($"id" % 100 * 0.05 + 40.0).as("lat"),
        ($"id" % 97 * 0.06 - 90.0).as("lon"), $"id")
      .write.parquet(path)
    // with no active or default session, build makes a new session (with
    // GraftExtensions) on the running SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val built = try GraftSession.build("local[4,2]", 4, "graft-tests-built")
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    try {
      assert(built ne spark)
      assert(built.experimental.extraOptimizations
        .count(_ == graft.plans.HaversineBoundingBox) === 1)
      val q = built.read.parquet(path)
        .join(built.range(1000).select($"id", ($"id" % 7).as("tag")), "id")
        .filter(Haversine.haversineKm($"lat", $"lon", lit(41.8781), lit(-87.6298)) < 50.0)
      val physical = q.queryExecution.executedPlan.toString
      assert(physical.contains("PushedFilters: ") &&
        physical.contains("GreaterThanOrEqual(lat,41.4"), physical)
      val expected = (0L until 1000L).filter(i => Haversine.km(
        i % 100 * 0.05 + 40.0, i % 97 * 0.06 - 90.0, 41.8781, -87.6298) < 50.0)
      assert(expected.nonEmpty)
      assert(q.select($"id").as[Long].collect().sorted.toSeq === expected)
    } finally GraftSession.deleteRecursively(tmp)
  }

  test("SQL registration via extensions and registerOn") {
    GraftExtensions.registerOn(spark)
    val d = spark.sql(
      "SELECT haversine_km(41.9742, -87.9073, 41.8781, -87.6298) AS d")
      .as[Double].head()
    assert(math.abs(d - Haversine.km(41.9742, -87.9073, 41.8781, -87.6298)) < 1e-12)
    // null propagation
    val n = spark.sql("SELECT haversine_km(CAST(NULL AS DOUBLE), 0D, 0D, 0D)")
      .collect().head
    assert(n.isNullAt(0))
    // jaro_winkler answers SQL and propagates nulls
    val jw = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS j")
      .as[Double].head()
    assert(jw === 0.9611111111111111)
    assert(spark.sql("SELECT jaro_winkler(NULL, 'x')").collect().head.isNullAt(0))
  }

  test("long_array_dot agrees with the aggregate/zip_with HOF form") {
    import graft.functions.LongArrayDot
    // range-backed so the projection isn't constant-folded — codegen path
    val df = spark.range(100)
      .select($"id",
        array($"id", $"id" * 2, $"id" - 7).as("a"),
        array($"id" + 1, lit(3L), $"id" * $"id").as("b"))
    val native = df.select(LongArrayDot.longArrayDot($"a", $"b").as("d"))
      .as[Long].collect()
    val hof = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L),
        (acc, v) => acc + v).as("d"))
      .as[Long].collect()
    assert(native.toSeq === hof.toSeq)
    // stays inside WholeStageCodegen (no fallback to interpreted Project)
    val plan = df.select(LongArrayDot.longArrayDot($"a", $"b"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("long_array_dot"), plan)
    // the Project carrying it sits inside a WholeStageCodegen stage
    // (stage number may vary across Spark versions, hence the regex)
    assert("\\*\\(\\d+\\) Project \\[long_array_dot".r.findFirstIn(plan).isDefined, plan)
  }

  test("BoundedCollect stops accumulating at cap+1 elements") {
    import graft.functions.BoundedCollect
    import graft.functions.BoundedCollect.DocSig
    val agg = BoundedCollect.docSigs(3) // buffers at most 4
    // direct state-machine semantics
    val full = (1 to 10).foldLeft(agg.zero)((b, i) =>
      agg.reduce(b, DocSig(i.toLong, Seq("x"))))
    assert(full.length === 4) // cap+1 sentinel, not 10
    assert(agg.merge(full, full).length === 4)
    val small = agg.reduce(agg.zero, DocSig(1L, Seq("a")))
    assert(agg.merge(small, small).length === 2)
    // end-to-end: hot key bounded and detectable, cold keys complete
    val df = spark.range(100)
      .select(when($"id" < 90, lit(0L)).otherwise($"id").as("k"),
        $"id".as("doc_id"), array(lit("s")).as("sig"))
    val udafFn = udaf(agg)
    val out = df.groupBy($"k").agg(udafFn($"doc_id", $"sig").as("ms"))
      .select($"k", size($"ms").as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(0L) === 4) // hot key: capped at cap+1, never 90
    (90L until 100L).foreach(k => assert(out(k) === 1))
  }

  test("long_array_dot NULL semantics mirror zip_with padding") {
    GraftExtensions.registerOn(spark)
    // length mismatch → NULL (zip_with pads the short side with NULL)
    val mismatch = spark.sql(
      "SELECT long_array_dot(array(1L, 2L), array(1L, 2L, 3L))").collect().head
    assert(mismatch.isNullAt(0))
    // NULL element → NULL
    val nullElem = spark.sql(
      "SELECT long_array_dot(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L))")
      .collect().head
    assert(nullElem.isNullAt(0))
    // NULL array → NULL
    val nullArr = spark.sql(
      "SELECT long_array_dot(CAST(NULL AS ARRAY<BIGINT>), array(1L))")
      .collect().head
    assert(nullArr.isNullAt(0))
    // exact value via SQL surface
    val v = spark.sql(
      "SELECT long_array_dot(array(2L, 3L), array(5L, 7L))").as[Long].head()
    assert(v === 31L)
  }

  test("sorted_contains: binary search agrees with array_contains on sorted input") {
    import graft.functions.SortedArrayContains
    GraftExtensions.registerOn(spark)
    // range-backed random-ish strings so codegen runs (not constant-folded);
    // compare against array_contains element-for-element over sorted arrays
    val df = spark.range(500)
      .select($"id",
        sort_array(array(
          concat(lit("w"), ($"id" % 13).cast("string")),
          concat(lit("w"), ($"id" % 7).cast("string")),
          concat(lit("q"), ($"id" % 5).cast("string")))).as("arr"),
        concat(lit("w"), ($"id" % 11).cast("string")).as("probe"))
    val pairs = df.select(
        SortedArrayContains.sortedContains($"arr", $"probe").as("bs"),
        array_contains($"arr", $"probe").as("lin"))
      .collect()
    pairs.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1)))
    // codegen: the Project carrying it sits inside a WholeStageCodegen stage
    val plan = df.select(SortedArrayContains.sortedContains($"arr", $"probe"))
      .queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[sorted_contains".r.findFirstIn(plan).isDefined, plan)
    // SQL surface + null semantics mirroring array_contains on sorted input:
    // NULL array / NULL probe → NULL
    assert(spark.sql(
      "SELECT sorted_contains(CAST(NULL AS ARRAY<STRING>), 'x')").collect().head.isNullAt(0))
    assert(spark.sql(
      "SELECT sorted_contains(array('a','b'), CAST(NULL AS STRING))").collect().head.isNullAt(0))
    // empty array → false; present → true; absent (no nulls) → false
    assert(spark.sql("SELECT sorted_contains(CAST(array() AS ARRAY<STRING>), 'x')")
      .as[Boolean].head() === false)
    assert(spark.sql("SELECT sorted_contains(sort_array(array('c','a','b')), 'b')")
      .as[Boolean].head() === true)
    assert(spark.sql("SELECT sorted_contains(sort_array(array('c','a','b')), 'z')")
      .as[Boolean].head() === false)
    // absent but null element present (nulls sort FIRST under asc) → NULL,
    // exactly array_contains's three-valued answer
    val withNull = spark.sql(
      "SELECT sorted_contains(sort_array(array('b', CAST(NULL AS STRING), 'a')), 'z')," +
        "       array_contains(sort_array(array('b', CAST(NULL AS STRING), 'a')), 'z')")
      .collect().head
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))
    // and a match still wins over the null element
    assert(spark.sql(
      "SELECT sorted_contains(sort_array(array('b', CAST(NULL AS STRING), 'a')), 'a')")
      .as[Boolean].head() === true)
  }

  test("sorted_contains interpreted eval (the HOF filter path) matches codegen") {
    import graft.functions.SortedArrayContains
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(xs: Seq[String]): ArrayData =
      ArrayData.toArrayData(xs.sorted.map(x =>
        if (x == null) null else UTF8String.fromString(x)).toArray[Any])
    // exhaustive probe sweep over a 1000-element sorted array — every
    // element found, every gap absent
    val xs = (0 until 1000).map(i => f"s$i%04d")
    val a = arr(xs)
    xs.foreach(x => assert(SortedArrayContains.search(a, UTF8String.fromString(x)) === true))
    assert(SortedArrayContains.search(a, UTF8String.fromString("s0999x")) === false)
    assert(SortedArrayContains.search(a, UTF8String.fromString("")) === false)
    assert(SortedArrayContains.search(a, UTF8String.fromString("zzz")) === false)
    // single-element and two-element edges
    val one = arr(Seq("m"))
    assert(SortedArrayContains.search(one, UTF8String.fromString("m")) === true)
    assert(SortedArrayContains.search(one, UTF8String.fromString("a")) === false)
    assert(SortedArrayContains.search(one, UTF8String.fromString("z")) === false)
  }

  test("rolling_hash64: rolling recurrence equals direct per-window evaluation") {
    import graft.functions.RollingHash64
    import org.apache.spark.unsafe.types.UTF8String
    // direct O(n·W) evaluation of each window, independent of the
    // rolling recurrence AND of the UTF-8 decode under test: Java's own
    // codePoints() stream is the grain reference (one slot per code
    // point — what Spark substring/length and DuckDB substr count)
    def direct(s: String, w: Int): Seq[Long] = {
      val c = s.codePoints().toArray
      (0 to c.length - w).map { p =>
        var h = 0L
        (p until p + w).foreach(i => h = h * RollingHash64.Base + c(i))
        h
      }
    }
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaa", "abcabcabcabc", "xy",
      // 2-byte (é, λ), 3-byte (日本語) and 4-byte supplementary (🚂 —
      // ONE code point here though TWO Java chars) sequences: positions
      // must stay code-point-grained through all UTF-8 widths
      "héllo wörld héllo wörld", "日本語テキスト日本語テキスト",
      "a🚂b🚂a🚂b🚂", "καλημέρα κόσμε καλημέρα")
    for (t <- texts; w <- Seq(1, 3, 8)) {
      val got = RollingHash64.hash(UTF8String.fromString(t), w).toLongArray().toSeq
      val n = t.codePointCount(0, t.length)
      val want = if (n < w) Seq.empty else direct(t, w)
      assert(got === want, s"text='$t' w=$w")
    }
    // equal windows hash equal; the two distinct windows of "aba"/"ab"
    // at shared content agree across strings
    val h1 = RollingHash64.hash(UTF8String.fromString("xxabyy"), 2).toLongArray()
    val h2 = RollingHash64.hash(UTF8String.fromString("ab"), 2).toLongArray()
    assert(h1.contains(h2(0)))
  }

  test("rolling_hash64 is total on malformed UTF-8 (U+FFFD, Spark's char stepping)") {
    import graft.functions.RollingHash64
    import org.apache.spark.unsafe.types.UTF8String
    // crawl-shaped garbage must never throw or desync: each malformed
    // sequence hashes as U+FFFD at exactly the position Spark's
    // substring/numChars stepping assigns it, so the fingerprint stream
    // stays in lockstep with the substring() slices consumers take
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val cases: Seq[(Array[Byte], String, String)] = Seq(
      // truncated 3-byte lead at end of string
      (bytes('a', 'b', 'c', 0xe6), "abc�", "truncated 3-byte tail"),
      // truncated 4-byte lead at end (two bytes present of four)
      (bytes('x', 'y', 0xf0, 0x9f), "xy�", "truncated 4-byte tail"),
      // stray continuation byte mid-string: one char per Spark stepping
      (bytes('a', 'b', 0x80, 'c', 'd'), "ab�cd", "stray continuation"),
      // 2-byte lead whose continuation is ASCII: consumes both bytes
      (bytes(0xc3, 'x', 'y'), "�y", "invalid continuation"),
      // 0xF8+ lead bytes are invalid everywhere in UTF-8: one char each
      (bytes(0xf8, 'a', 'b'), "�ab", "0xF8 garbage lead"),
      // 0xC0/0xC1 are invalid OVERLONG leads — Spark steps 1, not 2,
      // so the following (valid-shaped) continuation is its own char
      (bytes(0xc0, 0x80, 'a'), "��a", "overlong C0 lead"),
      // 0xF5-0xF7 encode above U+10FFFF — invalid leads, step 1
      (bytes(0xf5, 'a'), "�a", "0xF5 out-of-range lead"))
    for ((raw, subst, label) <- cases; w <- Seq(1, 2, 3)) {
      val s = UTF8String.fromBytes(raw)
      val got = RollingHash64.hash(s, w).toLongArray().toSeq // must not throw
      val want = RollingHash64.hash(UTF8String.fromString(subst), w)
        .toLongArray().toSeq
      assert(got === want, s"$label w=$w: malformed bytes must hash as the " +
        "U+FFFD-substituted string")
      assert(got.length === math.max(0, s.numChars() - w + 1),
        s"$label w=$w: position count must match numChars stepping")
    }
  }

  test("rolling_hash64 codegen agrees with eval and stays in WSCG; SQL form works") {
    import graft.functions.RollingHash64
    import org.apache.spark.unsafe.types.UTF8String
    val df = spark.range(4)
      .select(concat(lit("doc "), $"id".cast("string"), lit(" word soup sample")).as("t"))
    val viaExpr = df.select(
      RollingHash64.rollingHash64($"t", lit(5)).as("h"))
    val rows = viaExpr.as[Seq[Long]].collect()
    val direct = (0 until 4).map(i =>
      RollingHash64.hash(
        UTF8String.fromString(s"doc $i word soup sample"), 5).toLongArray().toSeq)
    assert(rows.toSeq === direct)
    val plan = viaExpr.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [rolling_hash64"),
      s"expected rolling_hash64 inside a WholeStageCodegen project:\n$plan")
    // SQL registration (TestSpark's bare session needs registerOn)
    graft.plans.GraftExtensions.registerOn(spark)
    val viaSql = df.selectExpr("rolling_hash64(t, 5) AS h").as[Seq[Long]].collect()
    assert(viaSql.toSeq === direct)
  }

  test("cdc_chunks: one-pass native chunker matches a brute replay, stays in WSCG") {
    import graft.functions.CdcChunks
    import org.apache.spark.unsafe.types.UTF8String
    val W = 8
    val MOD = 64L
    // brute replay at code-point grain (the DuckDB ord/substring grain)
    def chunksOf(t: String): Seq[String] = {
      val cps = t.codePoints().toArray
      if (cps.isEmpty) return Seq.empty
      def poly(p: Int): Long = // p 0-based window start
        (0 until W).map(i => cps(p + i) * Seq.fill(i)(33L).product).sum
      val cuts =
        if (cps.length < W) Seq.empty
        else (0 to cps.length - W).filter(p => poly(p) % MOD == 0).map(_ + 1)
      val bounds = (0 +: cuts :+ cps.length).distinct.sorted
      bounds.sliding(2).map { case Seq(a, b) =>
        new String(cps, a, b - a) }.toSeq
    }
    // texts exercising: empty, shorter than W, ASCII with real cuts, a
    // multi-byte code point (é), and a supplementary-plane code point
    // (surrogate pair in UTF-16 — one character at the chunker's grain)
    val texts = Seq("", "short", "the quick brown fox jumps over the " +
      "lazy dog again and again and again and again",
      "café latte every morning before the standup meeting starts",
      "emoji 😀 inside a long enough text to cut somewhere maybe")
    texts.foreach { t =>
      val got = CdcChunks.chunks(UTF8String.fromString(t), W, MOD)
      val gotSeq = (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString)
      assert(gotSeq === chunksOf(t), s"text: $t")
      // chunks always reassemble the document exactly
      assert(gotSeq.mkString === t)
    }
    // expression API through a real plan (range, not a foldable local
    // relation): codegen result == interpreted eval, and the projection
    // stays inside whole-stage codegen
    val df = spark.range(2).select($"id",
      concat(lit("doc "), $"id".cast("string"),
        lit(" " + texts(2))).as("t"))
    val viaExpr = df.select($"id", $"t",
      CdcChunks.cdcChunks($"t", W, MOD).as("c"))
    viaExpr.as[(Long, String, Seq[String])].collect().foreach {
      case (_, t, c) => assert(c === chunksOf(t))
    }
    val plan = viaExpr.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("cdc_chunks"),
      s"expected cdc_chunks inside a WholeStageCodegen project:\n$plan")
  }

  test("rolling_hash64 rejects or coerces bad argument types at ANALYSIS") {
    graft.plans.GraftExtensions.registerOn(spark)
    val df = spark.range(3).select($"id", $"id".cast("string").as("s"))
    // BIGINT text argument: analysis-time error, not an executor
    // ClassCastException mid-job
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("rolling_hash64(id, 5)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("rolling_hash64"))
    // an integer-literal width in SQL is INT already; a long width must
    // be coerced or rejected, never cast-crash
    val ok = df.selectExpr("rolling_hash64(s, 1) AS h").count()
    assert(ok === 3)
  }
}
