package graft

import graft.model.{SchemaContract, TestTableSchemas}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** §5 tier-3 contract checks (every test table matches its pinned schema)
  * and scalacheck-generated round-trip properties — the upgrade of the
  * reference's ad-hoc special-character JSON cases
  * (tests/unit/test_get_train_status.py:109-163).
  */
class ContractAndPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001
  import spark.implicits._

  test("all ten test tables satisfy their pinned schema contracts") {
    TestTableSchemas.all.foreach { case (name, expected) =>
      val df = if (name == "events") Tables.events(spark, sf)
        else Tables.load(spark, sf, name)
      SchemaContract.assertMatches(df, expected, name)
    }
  }

  test("schema drift is reported with every violation named") {
    val drifted = Tables.region(spark, sf)
      .withColumnRenamed("r_name", "region_name")
      .withColumn("r_regionkey", $"r_regionkey".cast(LongType))
    val err = intercept[IllegalStateException] {
      SchemaContract.assertMatches(drifted, TestTableSchemas.all("region"), "region")
    }
    assert(err.getMessage.contains("missing column: r_name"))
    assert(err.getMessage.contains("unexpected column: region_name"))
    assert(err.getMessage.contains("type drift: r_regionkey"))
  }

  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    val seed = rng.Seed(42L)
    Iterator.iterate((g.pureApply(Gen.Parameters.default, seed), seed)) {
      case (_, s) => val s2 = s.next; (g.pureApply(Gen.Parameters.default, s2), s2)
    }.map(_._1).take(n).toSeq
  }

  test("L1 z-order layout strictly beats user-major linear on day skipping") {
    val rows = graft.analytics.LayoutQueries.zorderLayout(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (linFiles, linRows, linSpan, linProbe) = rows("linear_user_major")
    val (zFiles, zRows, zSpan, zProbe) = rows("zorder")
    assert(linRows === zRows) // same relation, two layouts
    // the point of z-ordering: per-file day extents shrink, so a
    // single-day probe touches strictly fewer files
    assert(zSpan < linSpan, s"z span $zSpan !< linear span $linSpan")
    assert(zProbe < linProbe, s"z probe $zProbe !< linear probe $linProbe")
    assert(zProbe >= 1 && zFiles >= 1 && linFiles >= 1)
  }

  test("composite key build/parse round-trips for generated inputs") {
    // key parts as the reference builds them (date#line#rn#trDr,
    // get_train_status.py:113) — '#'-free non-empty alphanumerics
    val part = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val cases = samples(Gen.zip(part, part, part, part), 60)
    val df = cases.toDF("a", "b", "c", "d")
      .withColumn("key", concat_ws("#", $"a", $"b", $"c", $"d"))
      .withColumn("parts", split($"key", "#"))
    val bad = df.filter(
      size($"parts") =!= 4 ||
        $"parts".getItem(0) =!= $"a" || $"parts".getItem(1) =!= $"b" ||
        $"parts".getItem(2) =!= $"c" || $"parts".getItem(3) =!= $"d")
    assert(bad.count() === 0)
  }

  test("to_json/from_json round-trips records with special characters") {
    // covers quotes, backslashes, unicode, newlines — the reference's
    // special-char cases, property-style
    val tricky = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('"', '\\', '\n', '\t', 'é', '中', '#', ' ')))
      .map(_.mkString)
    val cases = samples(Gen.zip(tricky, Gen.choose(-1000000L, 1000000L)), 60)
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("n", LongType)))
    val df = cases.toDF("s", "n")
      .withColumn("js", to_json(struct($"s", $"n")))
      .withColumn("back", from_json($"js", schema))
    val bad = df.filter(
      !($"back.s" <=> $"s") || !($"back.n" <=> $"n"))
    assert(bad.count() === 0)
  }

  test("floor-division identity: pmod form == true floor on any sign") {
    // the round-12 oracle-drift fix, pinned as a property: both engines'
    // k-means/PQ mirrors rely on (s − ((s % n + n) % n)) ÷ n being the
    // TRUE floor of s/n under a TRUNCATING integer division (Spark `div`,
    // DuckDB `//`), for either sign of s. BigInteger floorDiv is the
    // ground truth. Also pins the failure this fix closed: bare
    // truncating division DIVERGES from floor on negative non-exact
    // quotients, so a mirror that uses it silently drifts.
    val cases = samples(Gen.zip(
      Gen.choose(-3000000000L, 3000000000L),
      Gen.choose(1L, 5000L)), 200)
    cases.foreach { case (s, n) =>
      val truth = Math.floorDiv(s, n)
      val pmodForm = (s - (((s % n) + n) % n)) / n
      assert(pmodForm === truth, s"identity broke at s=$s n=$n")
      if (s < 0 && s % n != 0)
        assert(s / n === truth + 1,
          s"expected bare truncation to sit one above floor at s=$s n=$n")
    }
    // and the Spark column form agrees with the scalar identity
    val df = cases.toDF("s", "n")
      .withColumn("f", expr("(s - ((s % n + n) % n)) div n"))
      .as[(Long, Long, Long)]
    df.collect().foreach { case (s, n, f) =>
      assert(f === Math.floorDiv(s, n), s"column form broke at s=$s n=$n")
    }
  }

  test("rolling_hash64 positions agree with Spark substring slices on any bytes") {
    // The load-bearing contract of the substring-dedup family, pinned as
    // a property over ARBITRARY byte arrays (valid UTF-8, truncated
    // tails, stray continuations, 0xF8+ garbage): position p of
    // rolling_hash64(s, w) must equal position 0 of the hash of Spark's
    // OWN UTF8String.substringSQL(s, p+1, w) slice — the verify stage
    // slices candidate windows with substring, so if the fingerprint
    // stream ever desynced from substring's character stepping on
    // hostile input, the verify would silently slice the wrong windows.
    // Also pins totality: no byte array may throw (the r16 ADVICE fix).
    import graft.functions.RollingHash64
    import org.apache.spark.unsafe.types.UTF8String
    val rawGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 255).map(_.toByte)))
    val arrays = samples(rawGen, 300).map(_.toArray)
    // plus targeted multi-byte text (valid 2/3/4-byte code points mixed)
    val cpGen = Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, Gen.oneOf(
      Gen.chooseNum('a'.toInt, 'z'.toInt), Gen.const(0xe9), Gen.const(0x3bb),
      Gen.const(0x65e5), Gen.const(0x1f682))))
    val texts = samples(cpGen, 150)
      .map(cps => new String(cps.toArray, 0, cps.length).getBytes("UTF-8"))
    // Spark 4's char stepping, probed empirically (0xC0/0xC1 and
    // 0xF5-0xFF are invalid leads = 1 byte; valid multi-byte leads
    // consume their FULL step even over invalid continuations). Used
    // here only to (a) cross-check numChars and (b) skip windows whose
    // last char's step overshoots the array: substringSQL reads PAST
    // the byte array there (undefined padding), so the slice's content
    // is not well-defined and cannot anchor a comparison.
    def stepOf(b0: Int): Int =
      if (b0 < 0xc2 || b0 >= 0xf5) 1
      else if (b0 < 0xe0) 2 else if (b0 < 0xf0) 3 else 4
    for (bytes <- arrays ++ texts; w <- Seq(1, 2, 5)) {
      val s = UTF8String.fromBytes(bytes)
      val hs = RollingHash64.hash(s, w).toLongArray() // totality: no throw
      val n = s.numChars()
      assert(hs.length === math.max(0, n - w + 1),
        s"slot count desynced from numChars at bytes=${bytes.toSeq} w=$w")
      val offs = {
        val buf = collection.mutable.ArrayBuffer[Int]()
        var i = 0
        while (i < bytes.length) { buf += i; i += stepOf(bytes(i) & 0xff) }
        buf
      }
      assert(offs.length === n,
        s"test step table drifted from numChars at bytes=${bytes.toSeq}")
      var p = 0
      while (p < hs.length) {
        val lastOff = offs(p + w - 1)
        if (lastOff + stepOf(bytes(lastOff) & 0xff) <= bytes.length) {
          val slice = s.substringSQL(p + 1, w)
          val sh = RollingHash64.hash(slice, w).toLongArray()
          assert(sh.length >= 1 && sh(0) === hs(p),
            s"window $p of ${bytes.toSeq} (w=$w) disagrees with the " +
              s"substring slice ${slice.getBytes.toSeq}")
        }
        p += 1
      }
    }
  }

  test("sanitize_utf8 preserves slots and fingerprints, is identity on valid text") {
    // The r17 verify-slice bridge, pinned over ARBITRARY bytes. Four
    // invariants make the substring-dedup verify coherent with its
    // fingerprint admission on crawl garbage:
    //   (1) slot fidelity — numChars(sanitize(s)) == numChars(s), so
    //       every fingerprint position stays a valid substring position;
    //   (2) fingerprint invariance — rolling_hash64(sanitize(s), w) ==
    //       rolling_hash64(s, w): the sanitizer re-encodes exactly the
    //       code points the hash decoded, nothing else;
    //   (3) idempotence via the fast path — sanitize(sanitize(s)) is
    //       the SAME OBJECT (the output always validates clean), and
    //       the output's stepping consumes its bytes exactly (no slice
    //       can overshoot the array — every window is well-defined);
    //   (4) identity on valid text — generated valid unicode returns
    //       the same object, so the oracle corpus is untouched.
    // NOTE make_valid_utf8 CANNOT satisfy (1): probed empirically, it
    // re-steps bytes a failed lead already consumed (C2 41 -> U+FFFD
    // + 'A', two slots where substring counts one).
    import graft.functions.{RollingHash64, SanitizeUtf8}
    import org.apache.spark.unsafe.types.UTF8String
    val rawGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 255).map(_.toByte)))
    val arrays = samples(rawGen, 400).map(_.toArray)
    val targeted: Seq[Array[Byte]] = Seq(
      Array(0xC2.toByte), // truncated 2-byte tail
      "hello".getBytes("UTF-8") ++ Array(0xE0.toByte, 0xA0.toByte),
      Array(0xC2.toByte, 0x41.toByte), // failed continuation then ASCII
      Array(0xED.toByte, 0xA0.toByte, 0x80.toByte), // lone surrogate (CESU)
      Array(0xE0.toByte, 0x80.toByte, 0x80.toByte), // overlong NUL
      Array(0xF4.toByte, 0xBF.toByte, 0xBF.toByte, 0xBF.toByte), // >10FFFF
      Array(0xC0.toByte, 0xAF.toByte), // overlong lead + stray cont
      Array[Byte]())
    def stepOf(b0: Int): Int =
      if (b0 < 0xc2 || b0 >= 0xf5) 1
      else if (b0 < 0xe0) 2 else if (b0 < 0xf0) 3 else 4
    for (bytes <- arrays ++ targeted) {
      val s = UTF8String.fromBytes(bytes)
      val z = SanitizeUtf8.sanitize(s) // totality: no byte array throws
      assert(z.numChars() === s.numChars(),
        s"slot count changed for ${bytes.toSeq}: ${z.getBytes.toSeq}")
      for (w <- Seq(1, 2, 5))
        assert(RollingHash64.hash(z, w).toLongArray().toSeq ===
          RollingHash64.hash(s, w).toLongArray().toSeq,
          s"fingerprints drifted for ${bytes.toSeq} w=$w")
      assert(SanitizeUtf8.sanitize(z) eq z,
        s"output not clean/idempotent for ${bytes.toSeq}: ${z.getBytes.toSeq}")
      // the output's stepping lands exactly on the array end: no window
      // slice can ever read past the bytes (the raw-slice hazard the
      // sanitizer exists to remove)
      val zb = z.getBytes
      var i = 0; var n = 0
      while (i < zb.length) { i += stepOf(zb(i) & 0xff); n += 1 }
      assert(i === zb.length && n === z.numChars(),
        s"sanitized stepping overshoots for ${bytes.toSeq}: ${zb.toSeq}")
    }
    // (4) identity (same object, not just equal bytes) on valid text
    val cpGen = Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, Gen.oneOf(
      Gen.chooseNum('a'.toInt, 'z'.toInt), Gen.const(0xe9), Gen.const(0x3bb),
      Gen.const(0x65e5), Gen.const(0x1f682))))
    samples(cpGen, 150).foreach { cps =>
      val s = UTF8String.fromString(new String(cps.toArray, 0, cps.length))
      assert(SanitizeUtf8.sanitize(s) eq s,
        s"valid text must pass through untouched: ${cps}")
    }
    // and the COLUMN form (codegen path) agrees with the kernel, byte
    // for byte — compared as binary, because collecting a String would
    // round-trip through UTF-16 and mangle exactly the inputs at stake
    val hexes = (arrays ++ targeted).map(b =>
      b.map(x => f"${x & 0xff}%02X").mkString)
    val rows = hexes.zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val got = rows.toDF("id", "hex")
      .select($"id",
        graft.functions.SanitizeUtf8.sanitizeUtf8(
          unhex($"hex").cast("string")).cast("binary").as("z"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("z")).toMap
    (arrays ++ targeted).zipWithIndex.foreach { case (b, i) =>
      val exp = SanitizeUtf8.sanitize(UTF8String.fromBytes(b)).getBytes
      assert(got(i.toLong).toSeq === exp.toSeq,
        s"codegen path diverged from the kernel for ${b.toSeq}")
    }
  }

  test("haversine is total, bounded, symmetric and tracks a stable 3D reference") {
    // The r17 property hunt's find: the textbook asin(sqrt(a)) form is
    // NOT total — near-antipodal pairs round `a` to 1 + 1ulp and asin
    // returns NaN (~5% of random antipodes in the fuzz below before the
    // clamp), which would silently poison any distance aggregate the
    // moment a corpus contains one such pair. Pinned here against the
    // clamped kernel:
    //   (1) totality — no NaN/Inf on random, antipodal, polar, or
    //       out-of-range coordinates;
    //   (2) bounds — 0 ≤ d ≤ π·R (half the great circle) for in-range
    //       coordinates;
    //   (3) exact symmetry and zero self-distance (the formula's sin²/
    //       cos-product structure makes both IEEE-exact, so ==, not ≈);
    //   (4) agreement with an INDEPENDENT double-precision reference —
    //       the 3D unit-vector angle atan2(|u×v|, u·v), which is
    //       numerically stable at every separation including the
    //       antipodal region where asin(sqrt(·)) loses digits.
    import graft.functions.Haversine
    val R = Haversine.EarthRadiusKm
    val halfCircle = math.Pi * R
    val coord = Gen.zip(Gen.chooseNum(-90.0, 90.0), Gen.chooseNum(-180.0, 180.0))
    val pairs = samples(Gen.zip(coord, coord), 300)
    // antipodes (exact and ulp-perturbed — the overflow region), poles
    val antipodes = samples(coord, 200).flatMap { case (lat, lon) =>
      val lon2 = if (lon >= 0) lon - 180 else lon + 180
      Seq(((lat, lon), (-lat, lon2)),
        ((lat, lon), (-lat + 1e-13, lon2)),
        ((lat, lon), (-lat, lon2 + 1e-13)))
    }
    val poles = Seq(((90.0, 0.0), (-90.0, 0.0)), ((90.0, 77.0), (-90.0, -123.0)),
      ((90.0, 0.0), (90.0, 180.0)), ((0.0, 0.0), (0.0, 180.0)))
    def ref3d(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val (p1, l1) = (math.toRadians(lat1), math.toRadians(lon1))
      val (p2, l2) = (math.toRadians(lat2), math.toRadians(lon2))
      val (x1, y1, z1) = (math.cos(p1) * math.cos(l1), math.cos(p1) * math.sin(l1), math.sin(p1))
      val (x2, y2, z2) = (math.cos(p2) * math.cos(l2), math.cos(p2) * math.sin(l2), math.sin(p2))
      val (cx, cy, cz) = (y1 * z2 - z1 * y2, z1 * x2 - x1 * z2, x1 * y2 - y1 * x2)
      val cross = math.sqrt(cx * cx + cy * cy + cz * cz)
      val dot = x1 * x2 + y1 * y2 + z1 * z2
      R * math.atan2(cross, dot)
    }
    (pairs ++ antipodes ++ poles).foreach { case ((a1, o1), (a2, o2)) =>
      val d = Haversine.km(a1, o1, a2, o2)
      assert(!d.isNaN && !d.isInfinite, s"not total at ($a1,$o1)-($a2,$o2)")
      assert(d >= 0.0 && d <= halfCircle + 1e-6,
        s"out of bounds at ($a1,$o1)-($a2,$o2): $d")
      assert(d === Haversine.km(a2, o2, a1, o1),
        s"asymmetric at ($a1,$o1)-($a2,$o2)")
      assert(Haversine.km(a1, o1, a1, o1) === 0.0)
      val ref = ref3d(a1, o1, a2, o2)
      // asin(sqrt(a)) is ill-conditioned as a→1: d(asin)/da diverges,
      // so one ulp of a costs ~R·sqrt(2·ulp) ≈ 13 cm at the exact
      // antipode (observed 19 cm in this fuzz). 1e-3 km (1 m absolute,
      // 5e-8 relative at 20015 km) pins the kernel to the stable
      // reference everywhere while allowing that inherent antipodal
      // conditioning loss
      assert(math.abs(d - ref) <= 1e-3,
        s"drifted from 3D reference at ($a1,$o1)-($a2,$o2): $d vs $ref")
    }
    // totality on garbage coordinates too (|lat| > 90 flips the cos
    // product negative; the low clamp keeps sqrt real): one bad row
    // must never NaN a corpus aggregate
    samples(Gen.zip(Gen.chooseNum(-500.0, 500.0), Gen.chooseNum(-500.0, 500.0),
      Gen.chooseNum(-500.0, 500.0), Gen.chooseNum(-500.0, 500.0)), 200)
      .foreach { case (a1, o1, a2, o2) =>
        val d = Haversine.km(a1, o1, a2, o2)
        assert(!d.isNaN && !d.isInfinite && d >= 0.0,
          s"not total on garbage at ($a1,$o1)-($a2,$o2): $d")
      }
  }

  test("count-min is overestimate-only, within e·N/w, and merge-tree invariant") {
    // The CMS contract the q_text_heavyhitters oracle's approx_ok gate
    // leans on, pinned on generated streams (the fixture corpus only
    // ever exercised one frequency shape):
    //   (1) estimate(x) ≥ true(x) ALWAYS — a CMS can only overcount
    //       (hash collisions add, never subtract); this is what makes
    //       the heavy-hitter admission sound (no real heavy hitter is
    //       ever dropped by an underestimate);
    //   (2) estimate(x) ≤ true(x) + e·N/w — the standard width bound
    //       (deterministic here: md5 hashing + fixed seed makes each
    //       generated stream's collision pattern reproducible);
    //   (3) arbitrary merge trees equal the single-pass sketch — the
    //       partial-agg/merge contract a 100-TB aggregation relies on.
    import graft.functions.CountMin
    val itemGen = Gen.chooseNum(0, 40).map(i => s"tok_$i") // zipf-ish head
    val streamGen = Gen.chooseNum(50, 600)
      .flatMap(n => Gen.listOfN(n, Gen.frequency(
        5 -> Gen.chooseNum(0, 5).map(i => s"hot_$i"), 3 -> itemGen)))
    samples(streamGen, 25).foreach { stream =>
      val (d, w) = (4, 64)
      val agg = new CountMin(d, w)
      val single = stream.foldLeft(agg.zero)(agg.reduce)
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = stream.size.toLong
      val slack = math.ceil(math.E * n / w).toLong
      truth.foreach { case (item, t) =>
        val est = CountMin.estimate(single.toSeq, item, d, w)
        assert(est >= t, s"underestimated $item: $est < $t")
        assert(est <= t + slack,
          s"width bound broke for $item: $est > $t + $slack (n=$n)")
      }
      // (3) random 4-way split, merged pairwise then across — any tree
      val parts = stream.grouped(math.max(1, stream.size / 4)).toSeq
      val partials = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
      val merged = partials.reduce((a, b) => agg.merge(a, b))
      assert(merged.toSeq === single.toSeq,
        "merge tree diverged from the single-pass sketch")
    }
  }

  test("sq8 codes stay in [-127,127] and reconstruct within max|x|/127 per dim") {
    // The SQ8 round-trip bound behind q_sim_knn_sq8's ranking quality:
    // code_i = floor(x_i/sc·127) with sc = max|x| implies
    // code_i·sc/127 ≤ x_i < (code_i+1)·sc/127, so the reconstruction
    // x̂_i = code_i·sc/127 sits within one quantization step BELOW x_i
    // — the per-dimension error every ADC-style consumer inherits is
    // bounded by sc/127, uniformly over the vector. Pinned on generated
    // finite vectors (r16's rails test pinned totality on NaN/Inf/zero;
    // this pins the arithmetic the finite path promises).
    import graft.functions.Sq8Code
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vecGen = Gen.chooseNum(1, 48).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6).map(_.toFloat)))
    samples(vecGen, 200).foreach { v0 =>
      val v = v0.toArray
      val out = Sq8Code.encode(new GenericArrayData(v.map(x => x: Any)))
      val codes = out.toLongArray()
      assert(codes.length === v.length)
      val sc0 = v.map(x => math.abs(x.toDouble)).max
      val sc = if (sc0 == 0.0) 1.0 else sc0
      val step = sc / 127.0
      v.zip(codes).foreach { case (x, c) =>
        assert(c >= -127L && c <= 127L, s"code $c out of range for x=$x sc=$sc")
        val recon = c * sc / 127.0
        // floor puts recon at or just below x; one ulp of slop for the
        // divide/multiply round-trip
        val tol = step * 1e-9 + 1e-12
        assert(x - recon >= -tol && x - recon <= step + tol,
          s"round-trip bound broke: x=$x code=$c recon=$recon step=$step")
      }
    }
  }

  test("PQ ADC score is exactly the dot against the reconstructed vector") {
    // The ADC identity behind q_sim_knn_pq / q_ann_ivfpq / the OPQ arms
    // (all share the same encode/LUT internals via knnPqOn): for every
    // (query, vector) pair, the LUT-join-sum ADC score must equal the
    // exact integer dot of the query against the RECONSTRUCTED vector
    // (its m codewords concatenated). This is what "asymmetric distance
    // computation" MEANS — if the identity drifts (wrong slice offsets,
    // a join key mix-up, a partial-sum loss), ADC ranking silently stops
    // approximating the true dot and recall collapses without any test
    // failing. Also pins encode optimality: each chosen codeword
    // minimizes the subspace L2 (ties to the smallest cid), which is
    // the Lloyd-assignment contract the codebook trainer feeds on.
    import graft.ext.SimilarityQueries
    val dim = 64
    val sub = SimilarityQueries.PQ_SUB.toInt
    val m = SimilarityQueries.PQ_M
    assert(m * sub === dim)
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-1000L, 1000L))
    val vecs = samples(vecGen, 40).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
    val e = vecs.toDF("vec_id", "qe")
    val cb = SimilarityQueries.pqCodebook(e)
    val cbRows = cb.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2).toArray)
      .toMap
    // every (m, cid) codeword is sub-dim long
    cbRows.foreach { case ((mm, cid), cw) =>
      assert(cw.length === sub, s"codeword ($mm,$cid) has ${cw.length} dims") }
    val codes = SimilarityQueries.pqEncode(e, cb).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byId = vecs.toMap
    // encode optimality: chosen cid minimizes subspace L2, ties → min cid
    codes.foreach { case ((vid, mm), cid) =>
      val x = byId(vid).slice((mm * sub).toInt, (mm * sub).toInt + sub)
      def d2(cw: Array[Long]): BigInt =
        x.zip(cw).map { case (a, b) => BigInt(a - b) * BigInt(a - b) }.sum
      val best = cbRows.collect { case ((m2, c2), cw) if m2 == mm => (d2(cw), c2) }
        .minBy(identity)
      assert((d2(cbRows((mm, cid))), cid) === best,
        s"encode picked non-optimal codeword for vec $vid subspace $mm")
    }
    // the ADC scan exactly as knnPq assembles it: codes ⋈ LUT, summed
    val adc = SimilarityQueries.pqEncode(e, cb)
      .join(SimilarityQueries.pqLut(e, cb), Seq("m", "cid"))
      .where($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"vec_id")
      .agg(sum($"part").as("adc_dot"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val queries = vecs.filter(_._1 < 20)
    assert(adc.size === queries.size * (vecs.size - 1),
      "ADC pair grid incomplete: a join key dropped pairs")
    queries.foreach { case (qid, q) =>
      vecs.foreach { case (vid, _) =>
        if (vid != qid) {
          val recon = (0 until m).flatMap(mm => cbRows((mm.toLong, codes((vid, mm.toLong))))).toArray
          val exact = q.zip(recon).map { case (a, b) => a * b }.sum
          assert(adc((qid, vid)) === exact,
            s"ADC($qid,$vid) != <q, reconstruct(v)>: ${adc((qid, vid))} vs $exact")
        }
      }
    }
  }

  test("cdc_chunks reassembles generated unicode documents exactly") {
    // chunk boundaries may fall anywhere the content dictates, but the
    // chunks must ALWAYS concatenate back to the document, code point
    // for code point, on generated multi-width unicode — the invariant
    // every downstream chunk-GC/admit consumer relies on (a dropped or
    // duplicated character would corrupt spans silently, and the fixed
    // fixtures in FunctionsSpec cannot cover arbitrary window overlap).
    import graft.functions.CdcChunks
    import org.apache.spark.unsafe.types.UTF8String
    val cpGen = Gen.chooseNum(0, 80).flatMap(n => Gen.listOfN(n, Gen.oneOf(
      Gen.chooseNum('a'.toInt, 'e'.toInt), Gen.const(' '.toInt),
      Gen.const(0xe9), Gen.const(0x65e5), Gen.const(0x1f682))))
    samples(cpGen, 200).foreach { cps =>
      val t = new String(cps.toArray, 0, cps.length)
      val got = CdcChunks.chunks(UTF8String.fromString(t), 8, 64L)
      val parts = (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString)
      assert(parts.mkString === t, s"reassembly broke for: $t")
      assert(parts.forall(_.nonEmpty), s"empty chunk emitted for: $t")
    }
  }

  test("U-touch credits conserve 10000 bp and ignore buffer arrival order") {
    // Both streaming legs feed UTouch.credits from a ListState buffer
    // whose ORDER is arrival-dependent (retries, Firehose re-batching,
    // watermark replay) — so the split must be a pure function of the
    // touch SET, and every purchase must emit exactly 10000 bp however
    // many touches fall in its window (the census sentinel checks this
    // on one fixture; this pins it for generated windows, including the
    // first-touch 2000 % (n-2) remainder branch at every n).
    import graft.streaming.{AttrEv, UTouch}
    val touchGen = for {
      n <- Gen.chooseNum(0, 25)
      // event_ids DISTINCT by construction (the data model's uniqueness
      // invariant): the tie-break sort is (ts_us, event_id), so duplicate
      // ids with different types would make the split order-dependent
      ts <- Gen.listOfN(n, Gen.chooseNum(0L, 2000L))
      types <- Gen.listOfN(n, Gen.oneOf("view", "click", "search"))
    } yield ts.zip(types).zipWithIndex.map { case ((t, tp), i) =>
      AttrEv(1L, t, 100L + i, tp, 0L)
    }
    val W = 7L * 24 * 3600 * 1000000L
    samples(Gen.zip(touchGen, Gen.chooseNum(500L, 1500L)), 150)
      .foreach { case (buf, pTs) =>
        val p = AttrEv(1L, pTs, 9999L, "purchase", 12345L)
        val credits = UTouch.credits(p, buf)
        assert(credits.map(_.credit_bp).sum === 10000L,
          s"bp not conserved for pTs=$pTs buf=$buf")
        // arrival-order invariance: reversed and interleaved permutations
        // must yield the identical credit sequence
        assert(UTouch.credits(p, buf.reverse) === credits,
          s"credits depend on buffer arrival order: $buf")
        val (ev, od) = buf.zipWithIndex.partition(_._2 % 2 == 0)
        assert(UTouch.credits(p, (od ++ ev).map(_._1)) === credits)
        // only strictly-before, in-window touches participate
        val live = buf.count(t => t.ts_us < pTs && t.ts_us >= pTs - W)
        assert(credits.length === math.max(1, live))
      }
  }

  test("long_array_dot agrees with BigInt arithmetic across the quantized range") {
    // the ANN hot path wraps silently on long overflow (documented); this
    // pins that the documented usage bound — |component| at the 1e6
    // quantization scale, dim <= 64 — stays exact, including the
    // sum-of-squares self-dot every norm computation takes
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.LongArrayDot
    val vecGen = for {
      d <- Gen.chooseNum(1, 64)
      a <- Gen.listOfN(d, Gen.chooseNum(-2000000L, 2000000L))
      b <- Gen.listOfN(d, Gen.chooseNum(-2000000L, 2000000L))
    } yield (a.toArray, b.toArray)
    samples(vecGen, 200).foreach { case (a, b) =>
      val got = LongArrayDot.dot(
        new GenericArrayData(a), new GenericArrayData(b))
      val want = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
      assert(want.isValidLong && got.longValue === want.toLong,
        s"dot overflowed or diverged at dim=${a.length}")
      assert(LongArrayDot.dot(new GenericArrayData(a),
        new GenericArrayData(a)).longValue ===
        a.map(x => BigInt(x) * BigInt(x)).sum.toLong)
    }
  }

  test("typed aggregators are split-invariant: any partition/merge tree, same result") {
    // THE distributed-correctness property of an Aggregator: Spark is free
    // to split a group's rows across any number of map partitions, reduce
    // each independently, and merge the partial buffers in any order — a
    // merge-path bug surfaces as partition-count-dependent results that no
    // single-partition unit test (and no fixed-partitioning oracle run)
    // can see. Each case: random chunking + left-fold merge over shuffled
    // chunks == the single-pass reference.
    import graft.functions.{BoundedCollect, CountMin}
    def splitEval[B, OUT](items: Seq[String], zero: => B,
        reduce: (B, String) => B, merge: (B, B) => B, finish: B => OUT,
        cuts: Seq[Int]): OUT = {
      val chunks = (cuts.sorted.distinct :+ items.length)
        .foldLeft((Seq.empty[Seq[String]], 0)) { case ((acc, from), to) =>
          (acc :+ items.slice(from, to), to)
        }._1.filter(_.nonEmpty)
      val partials = chunks.map(c => c.foldLeft(zero)(reduce))
      finish(partials.foldLeft(zero)(merge))
    }
    val caseGen = for {
      n <- Gen.chooseNum(0, 60)
      // a small alphabet forces duplicates
      items <- Gen.listOfN(n, Gen.oneOf((1 to 12).map(i => s"v$i")))
      cuts <- Gen.listOfN(3, Gen.chooseNum(0, math.max(0, n)))
      shuffleSeed <- Gen.chooseNum(0, 1000)
    } yield (items, cuts, shuffleSeed)
    samples(caseGen, 120).foreach { case (items, cuts, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(items)
      // BoundedCollect: buffer length is EXACTLY min(n, cap+1) under any
      // split — the cap+1 sentinel callers branch on (keep vs drop) must
      // never report a full group as small or vice versa — and a group
      // at-or-under cap keeps its exact multiset
      val cap = 5
      val bc = BoundedCollect.docIds(cap)
      val ids = items.zipWithIndex.map(_._2.toLong)
      def bcLen(cs: Seq[Int]): Seq[Long] = {
        val chunks = (cs.sorted.distinct :+ ids.length)
          .foldLeft((Seq.empty[Seq[Long]], 0)) { case ((acc, from), to) =>
            (acc :+ ids.slice(from, to), to)
          }._1.filter(_.nonEmpty)
        val partials = chunks.map(c => c.foldLeft(bc.zero)(bc.reduce))
        bc.finish(partials.foldLeft(bc.zero)(bc.merge))
      }
      val got = bcLen(cuts)
      assert(got.length === math.min(ids.length, cap + 1),
        s"BoundedCollect length drifted at n=${ids.length} cuts=$cuts")
      if (ids.length <= cap) assert(got.sorted === ids.sorted)
      // CountMin: sketch vector is additive, so any split sums identically
      val cm = new CountMin(4, 64)
      def cmEval(in: Seq[String], cs: Seq[Int]): Seq[Long] =
        splitEval[Array[Long], Array[Long]](in, cm.zero, cm.reduce,
          cm.merge, cm.finish, cs).toSeq
      assert(cmEval(items, cuts) === cmEval(shuffled, Seq(1, 2)))
    }
  }

  test("sorted_contains ∘ sort_array ≡ array_contains on generated arrays") {
    // the binary search must agree with Spark's own linear array_contains
    // for EVERY input its contract admits — null elements (sorted first),
    // duplicates, and supplementary-plane strings, where UTF8String's
    // unsigned-byte order (what sort_array produces) disagrees with Java
    // String's UTF-16 order (U+E000..U+FFFF sorts ABOVE U+10000+ in
    // UTF-16 but below it in UTF-8 bytes — a reference implemented on
    // String.compareTo would probe the wrong half)
    val elemGen = Gen.frequency(
      5 -> Gen.oneOf((1 to 9).map(i => Some(s"s$i"))),
      2 -> Gen.oneOf(Seq("é", "中", "🚂", "￮", "").map(Some(_))),
      1 -> Gen.const(None))
    val caseGen = for {
      n <- Gen.chooseNum(0, 15)
      arr <- Gen.listOfN(n, elemGen)
      probe <- Gen.oneOf(
        Gen.oneOf((1 to 9).map(i => s"s$i") ++
          Seq("é", "中", "🚂", "￮", "", "absent")),
        Gen.const("zz_never"))
    } yield (arr, probe)
    val df = samples(caseGen, 250).toDF("arr", "probe")
    graft.plans.GraftExtensions.registerOn(spark)
    val bad = df
      .withColumn("viaSorted",
        expr("sorted_contains(sort_array(arr), probe)"))
      .withColumn("viaLinear", expr("array_contains(arr, probe)"))
      .filter(!($"viaSorted" <=> $"viaLinear"))
    assert(bad.count() === 0, bad.collect().take(5).mkString("\n"))
  }

  test("media decoders are total on random, truncated, and bit-flipped bytes") {
    // the crawl-garbage contract for the binary tier, same class as the
    // rolling_hash64 malformed-UTF-8 fix: a corpus blob may be truncated
    // mid-download, bit-rotted, or mislabeled, and ONE bad blob must
    // return None/a stub — never throw — or it fails the whole 100-TB
    // decode pass. Inputs: random bytes, every truncated prefix of valid
    // fixture blobs (the sharpest parser-crash generator: all length
    // checks off-by-one against a real structure), and single-bit flips
    // of valid blobs (corrupt sizes/offsets that stay structurally
    // plausible).
    import graft.ext.{MediaDecode, MediaFixtures}
    val jf = (0 until 3).map(i =>
      MediaFixtures.jpegGray(8, 6, (x, y) => (x * 17 + y * 31 + i * 5) % 256))
    val valid: Seq[Array[Byte]] = Seq(
      MediaFixtures.png(5, 4), MediaFixtures.jpeg(7, 3),
      MediaFixtures.gif(6, 2), MediaFixtures.bmp(5, 5),
      MediaFixtures.bmpRaster(6, 4, (x, y) => (x * 40 + y * 20) % 256),
      MediaFixtures.gifRaster(5, 3, (x, y) => (x + y) % 2 * 255),
      MediaFixtures.gifAnimRaster(4, 3, 3, (f, x, y) => (f * 60 + x) % 256),
      MediaFixtures.wavPcm16(8000, 64, i => (i * 321) % 2000 - 1000),
      MediaFixtures.mp4Mjpeg(1000, jf),
      MediaFixtures.mp4MjpegChunked(1000, jf,
        jf.map(_.take(16)))) // aux track samples (non-video)
    val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
      "decodeStub" -> MediaDecode.decodeStub,
      "decodeHeader" -> MediaDecode.decodeHeader,
      "decodeJpegSof" -> MediaDecode.decodeJpegSof,
      "decodeImageIO" -> MediaDecode.decodeImageIO,
      "decode" -> MediaDecode.decode,
      "decodeBmpGray" -> MediaDecode.decodeBmpGray,
      "decodeImageIOGray" -> MediaDecode.decodeImageIOGray,
      "decodeRasterGray" -> MediaDecode.decodeRasterGray,
      "decodeFramesGray" -> MediaDecode.decodeFramesGray,
      "decodeWavPcm16" -> MediaDecode.decodeWavPcm16,
      "decodeMp4Meta" -> MediaDecode.decodeMp4Meta,
      "decodeMp4Samples" -> MediaDecode.decodeMp4Samples,
      "decodeMp4FrameSlices" -> MediaDecode.decodeMp4FrameSlices)
    val rnd = new scala.util.Random(4242)
    val randoms = (0 until 150).map { _ =>
      val a = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(a); a
    }
    val prefixes = valid.flatMap(b =>
      (0 until b.length by 3).map(n => b.take(n)))
    val flips = valid.flatMap { b =>
      (0 until 40).map { _ =>
        val c = b.clone()
        val i = rnd.nextInt(c.length)
        c(i) = (c(i) ^ (1 << rnd.nextInt(8))).toByte
        c
      }
    }
    for ((name, fn) <- decoders; bytes <- randoms ++ prefixes ++ flips) {
      try { fn(bytes); () } catch {
        case scala.util.control.NonFatal(e) => fail(
          s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage} on " +
            s"${bytes.length} bytes [${bytes.take(24).map(x => f"${x & 0xff}%02x").mkString(" ")}…]")
      }
    }
    // and the valid fixtures still decode (the fuzz can't have been
    // passing because everything returns None)
    assert(MediaDecode.decodeHeader(valid.head).nonEmpty)
    assert(MediaDecode.decodeWavPcm16(
      MediaFixtures.wavPcm16(8000, 64, i => i % 100)).nonEmpty)
    assert(MediaDecode.decodeMp4FrameSlices(
      MediaFixtures.mp4Mjpeg(1000, jf)).exists(_.length === 3))
  }

  test("connected components labels equal union-find on generated graphs") {
    // the min-label + pointer-jump iteration must produce EXACTLY the
    // min-doc_id-per-component labeling a sequential union-find gives,
    // on generated graph shapes the LSH pair corpus never exercises —
    // long chains (stress the doubling: depth halves per round, so a
    // 60-node path needs the pointer jumps to actually compose), stars,
    // disjoint cliques, self-loops, duplicate edges in both directions.
    import graft.ext.DedupQueries
    val graphGen = for {
      n <- Gen.chooseNum(2, 60)
      shape <- Gen.oneOf("chain", "star", "random", "cliques", "scramble")
      perm <- Gen.chooseNum(1, 1000000)
      extra <- Gen.listOf(Gen.zip(Gen.chooseNum(0L, 59L), Gen.chooseNum(0L, 59L)))
    } yield {
      val ids = (0L until n.toLong).map(_ * 7 + 3) // non-contiguous ids
      val base: Seq[(Long, Long)] = shape match {
        case "chain" => ids.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
        case "star" => ids.tail.map(x => (ids.head, x))
        case "cliques" => ids.grouped(5).flatMap(g =>
          for (a <- g; b <- g if a < b) yield (a, b)).toSeq
        // paths whose ids are SCRAMBLED along the walk — the shape that
        // reaches two-center non-star-forest states (advice r18: the path
        // 1-4-3-5-2 fooled the weak fixpoint check); a deterministic
        // multiplicative shuffle keeps the generator reproducible
        case "scramble" =>
          val walk = ids.sortBy(x => (x * perm) % 61)
          walk.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
        case _ => extra.collect { case (a, b)
          if a < n && b < n && a != b => (ids(a.toInt), ids(b.toInt)) }
      }
      base
    }
    samples(graphGen, 24).filter(_.nonEmpty).foreach { edges =>
      // sequential union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min-label canonicalization: every node labels to its component min
      val want = parent.keys.map(x => x -> find(x)).toMap
        .map { case (x, r) =>
          x -> parent.keys.filter(y => find(y) == r).min }
      val got = DedupQueries.clusterLabels(spark,
          edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want,
        s"CC labels diverged from union-find on ${edges.length} edges")
    }
  }

  test("string/vector kernels: bounds, symmetry, and edge totality") {
    import graft.functions.{JaroWinkler, MinhashSig, Sq8Code}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // Jaro-Winkler: [0,1], symmetric, 1 on identity, 0 against empty —
    // on generated byte strings including empties and multi-byte UTF-8
    // (the kernel is byte-grained by design; the oracle pins DuckDB
    // agreement on the corpus, this pins the analytic invariants)
    val strGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.alphaNumChar.map(_.toString), Gen.oneOf("é", "中", " "))))
      .map(_.mkString)
    samples(Gen.zip(strGen, strGen), 200).foreach { case (a, b) =>
      val (ua, ub) = (UTF8String.fromString(a), UTF8String.fromString(b))
      val s = JaroWinkler.sim(ua, ub)
      assert(s >= 0.0 && s <= 1.0, s"out of bounds: '$a' vs '$b' -> $s")
      assert(s === JaroWinkler.sim(ub, ua), s"asymmetric: '$a' vs '$b'")
      // strcmp95/DuckDB semantics (r17): blank input is NO evidence, so
      // even self-similarity of the empty string is 0
      assert(JaroWinkler.sim(ua, ua) === (if (a.isEmpty) 0.0 else 1.0))
      if (a.isEmpty || b.isEmpty) assert(s === 0.0)
    }
    // MinhashSig: an EMPTY shingle array must not throw — it yields the
    // K all-null signature the HOF mirror's array_min-of-empty gives
    // (dataType declares containsNull=true for exactly this case)
    val empty = MinhashSig.sig(new GenericArrayData(Array.empty[Any]))
    assert(empty.numElements() === MinhashSig.K)
    assert((0 until MinhashSig.K).forall(empty.isNullAt))
    // Sq8Code: total on NaN/Inf/zero vectors; codes stay in [-127, 127]
    // and the scale is max-|component| so a full-scale component hits
    // the rail exactly
    val vecs = Seq(
      Array(0.0f, 0.0f), Array(Float.NaN, 1.0f),
      Array(Float.PositiveInfinity, -1.0f), Array(-2.5f, 2.5f, 1.25f),
      Array.empty[Float])
    vecs.foreach { v =>
      val out = Sq8Code.encode(new GenericArrayData(v.map(x => x: Any)))
      assert(out.numElements() === v.length)
      val codes = (0 until out.numElements()).map(out.getLong)
      assert(codes.forall(c => c >= -127L && c <= 127L),
        s"code out of rails for ${v.toSeq}: $codes")
    }
    val full = Sq8Code.encode(new GenericArrayData(Array[Any](2.5f, -2.5f)))
    assert(full.getLong(0) === 127L && full.getLong(1) === -127L)
  }

  test("jaro_winkler equals an embedded strcmp95 reference on generated strings") {
    // The r17 property hunt's find #3: the kernel shipped the
    // Wikipedia-variant FRACTIONAL transposition count (t/2.0) and
    // 1.0 for blank-vs-blank, while DuckDB — the oracle engine the
    // Scaladoc pins semantics to — implements Winkler's ORIGINAL
    // strcmp95: integer `t/2` and 0 for blank input. The two diverge
    // on ~8% of random short dense strings (odd mismatch counts), and
    // since flooring only ever RAISES the score, a corpus pair
    // straddling the 0.85 threshold would appear in DuckDB's rows but
    // not Spark's — an oracle-gate landmine the part-name corpus
    // happened never to trip. The kernel now floors; this test pins it
    // against an independently-written strcmp95 reference (explicit
    // matched-sequence lists, structurally different from the kernel's
    // flag-array walk), itself validated against DuckDB on 21k
    // generated cases offline (zero diffs), on exactly the shapes that
    // exposed the divergence: tiny alphabets (dense transpositions),
    // shared prefixes around the 0.7 boost gate, and multi-byte UTF-8
    // (byte-grained windows).
    import graft.functions.JaroWinkler
    def ref(s1: Array[Byte], s2: Array[Byte]): Double = {
      val (m1, m2) = (s1.length, s2.length)
      if (m1 == 0 || m2 == 0) return 0.0
      val window = math.max(0, math.max(m1, m2) / 2 - 1)
      val f1 = new Array[Boolean](m1)
      val f2 = new Array[Boolean](m2)
      for (i <- 0 until m1) {
        val lo = math.max(0, i - window)
        val hi = math.min(m2 - 1, i + window)
        var j = lo
        var done = false
        while (j <= hi && !done) {
          if (!f2(j) && s1(i) == s2(j)) { f1(i) = true; f2(j) = true; done = true }
          j += 1
        }
      }
      val a = s1.indices.filter(f1).map(s1)
      val b = s2.indices.filter(f2).map(s2)
      val m = a.length
      if (m == 0) return 0.0
      val t = a.zip(b).count { case (x, y) => x != y } / 2 // strcmp95 int div
      val jaro = (m.toDouble / m1 + m.toDouble / m2 + (m - t).toDouble / m) / 3.0
      if (jaro > 0.7) {
        var l = 0
        while (l < math.min(4, math.min(m1, m2)) && s1(l) == s2(l)) l += 1
        jaro + l * 0.1 * (1.0 - jaro)
      } else jaro
    }
    import org.apache.spark.unsafe.types.UTF8String
    def mk(alpha: Seq[String], maxLen: Int): Gen[String] =
      Gen.chooseNum(0, maxLen).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(alpha)).map(_.mkString))
    val gens = Seq(
      mk("a b c".split(" "), 9) -> 600,   // dense: transpositions + windows
      mk("a b c d e f g h".split(" "), 15) -> 400,
      mk("é 中 🚂 a b".split(" "), 8) -> 300, // multi-byte: byte-grain windows
      Gen.zip(mk("a b".split(" "), 4), mk("a b c".split(" "), 8))
        .map { case (p, s) => p + s } -> 400) // shared prefixes near the boost
    for ((g, n) <- gens; (a, b) <- samples(Gen.zip(g, g), n)) {
      val got = JaroWinkler.sim(UTF8String.fromString(a), UTF8String.fromString(b))
      val want = ref(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      assert(got === want, s"kernel diverged from strcmp95 on '$a' vs '$b'")
    }
  }

  test("minhash_sig equals the brute per-component minimum and is a set function") {
    // The LSH family's signature contract on generated shingle arrays:
    //   (1) component j == the minimum 8-hex chunk [8j, 8j+8) of
    //       md5(sh) || md5('x'||sh) over all shingles — an independent
    //       brute recomputation (String.format hex, sort-and-head)
    //       against the kernel's single-pass running-minima loop;
    //   (2) the signature is a function of the shingle SET — duplicate
    //       and permutation invariant (banding compares signatures
    //       across docs whose shingle ORDER differs by construction);
    //   (3) component-wise min merges: sig(A ++ B) == min(sig(A),
    //       sig(B)) per component — the mergeability that makes the
    //       signature a one-pass distributed aggregate at 100 TB.
    import graft.functions.MinhashSig
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def md5hex(s: Array[Byte]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s).map(x => f"${x & 0xff}%02x").mkString
    }
    def brute(shingles: Seq[String]): Seq[String] = {
      val hexes = shingles.map { sh =>
        val b = sh.getBytes("UTF-8")
        md5hex(b) + md5hex("x".getBytes("UTF-8") ++ b)
      }
      (0 until MinhashSig.K).map(j => hexes.map(_.substring(8 * j, 8 * j + 8)).min)
    }
    def kernel(shingles: Seq[String]): Seq[String] = {
      val out = MinhashSig.sig(new GenericArrayData(
        shingles.map(s => UTF8String.fromString(s): Any).toArray))
      (0 until out.numElements()).map(i => out.getUTF8String(i).toString)
    }
    val shingleGen = Gen.chooseNum(1, 24).flatMap(n => Gen.listOfN(n,
      Gen.chooseNum(0, 50).map(i => s"sh_$i é$i")))
    samples(shingleGen, 120).foreach { sh =>
      val got = kernel(sh)
      assert(got === brute(sh), s"kernel != brute min for $sh")
      // (2) set semantics
      assert(kernel(sh.reverse) === got, "order changed the signature")
      assert(kernel(sh ++ sh.take(3)) === got, "duplicates changed the signature")
      // (3) mergeability
      val (l, r) = sh.splitAt(sh.length / 2)
      if (l.nonEmpty && r.nonEmpty) {
        val merged = kernel(l).zip(kernel(r)).map { case (x, y) =>
          if (x <= y) x else y }
        assert(merged === got, "component-wise min merge diverged")
      }
    }
  }

  test("codegen parity: emitted-loop expressions match their kernels on hostile inputs") {
    // LongArrayDot and Sq8Code are the two expressions whose doGenCode
    // EMITS the loop in generated Java instead of calling the shared
    // static (the hot-path choice: no call overhead inside WSCG) —
    // which means their codegen and interpreted paths are SEPARATE
    // implementations that can drift under future edits. Every other
    // expression either generates a static call (RollingHash64,
    // SanitizeUtf8, Haversine, JaroWinkler, CdcChunks) or is
    // CodegenFallback (MinhashSig); SortedArrayContains is pinned
    // DF-side against array_contains above. Here the DataFrame result
    // (the generated loop, WSCG-asserted) must match the kernel static
    // (the interpreted/HOF-lambda path) row for row on exactly the
    // inputs loops get wrong: null elements at every position, empty
    // arrays, length mismatches, NaN/±Inf/-0.0/subnormal floats, and
    // (kernel-vs-codegen only) products that wrap 64-bit.
    import graft.functions.{LongArrayDot, Sq8Code}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // --- LongArrayDot ---
    val big = 3037000499L // floor(sqrt(Long.Max)): big*big wraps
    val lvalGen = Gen.frequency(
      6 -> Gen.chooseNum(-1000000L, 1000000L).map(Some(_)),
      1 -> Gen.oneOf(Seq(Some(big), Some(-big), Some(0L))),
      1 -> Gen.const(None))
    val lcaseGen = for {
      n <- Gen.chooseNum(0, 6)
      m <- Gen.oneOf(Gen.const(n), Gen.chooseNum(0, 6)) // equal + mismatched
      a <- Gen.listOfN(n, lvalGen)
      b <- Gen.listOfN(m, lvalGen)
    } yield (a, b)
    val lcases = samples(lcaseGen, 300)
    def lad(a: Seq[Option[Long]]): GenericArrayData =
      new GenericArrayData(a.map(_.map(Long.box).orNull: Any).toArray)
    // repartition blocks ConvertToLocalRelation, which would otherwise
    // constant-fold the projection through INTERPRETED eval and leave
    // the generated loop untested (the assert below proves it ran);
    // rows come back in partition order, so results key on an id
    val lidx = lcases.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
    val ldf = lidx.toDF("id", "a", "b").repartition(2)
      .select($"id", LongArrayDot.longArrayDot($"a", $"b").as("viaGen"))
    val lgot = ldf.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else Long.box(r.getLong(1))))
      .toMap
    // plan asserted AFTER collect: under AQE the *(N) codegen markers
    // only exist in the final executed plan
    assert("""\*\(\d+\) Project \[id""".r
        .findFirstIn(ldf.queryExecution.executedPlan.toString).nonEmpty &&
        ldf.queryExecution.executedPlan.toString.contains("long_array_dot"),
      "long_array_dot fell out of whole-stage codegen: parity not exercised")
    lidx.foreach { case (i, a, b) =>
      val want = LongArrayDot.dot(lad(a), lad(b))
      assert(lgot(i) === want, s"codegen diverged from kernel for $a · $b")
    }
    // HOF mirror (the semantics the Scaladoc promises) — small values
    // only: under Spark 4's default ANSI mode the HOF form THROWS on a
    // wrapped product (the documented divergence), so the mirror claim
    // is scoped to the quantized-embedding range where both agree
    val lsafe = lidx.filter { case (_, a, b) =>
      (a ++ b).flatten.forall(v => math.abs(v) <= 1000000L) }
    val hof = lsafe.toDF("id", "a", "b").repartition(2)
      .select($"id",
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)").as("h"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else Long.box(r.getLong(1))))
      .toMap
    lsafe.foreach { case (i, a, b) =>
      assert(hof(i) === LongArrayDot.dot(lad(a), lad(b)),
        s"HOF mirror diverged from kernel for $a · $b")
    }
    // --- Sq8Code ---
    val fvalGen = Gen.frequency(
      6 -> Gen.chooseNum(-1e6, 1e6).map(d => Some(d.toFloat)),
      2 -> Gen.oneOf(Seq(Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity, -0.0f, 0.0f, Float.MinPositiveValue,
        java.lang.Float.MIN_NORMAL).map(Some(_))),
      1 -> Gen.const(None))
    val fcaseGen = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, fvalGen))
    val fcases = samples(fcaseGen, 300)
    val fidx = fcases.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val fdf = fidx.toDF("id", "v").repartition(2)
      .select($"id", Sq8Code.sq8Code($"v").as("code"))
    val fgot = fdf.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1).toSeq))
      .toMap
    assert("""\*\(\d+\) Project \[id""".r
        .findFirstIn(fdf.queryExecution.executedPlan.toString).nonEmpty &&
        fdf.queryExecution.executedPlan.toString.contains("sq8_code"),
      "sq8_code fell out of whole-stage codegen: parity not exercised")
    fidx.foreach { case (i, v) =>
      val want = Sq8Code.encode(new GenericArrayData(
        v.map(_.map(Float.box).orNull: Any).toArray)) match {
        case null => null
        case a => a.toLongArray().toSeq
      }
      assert(fgot(i) === want, s"codegen diverged from kernel for $v")
    }
  }

  test("gaps-islands span assembly equals brute interval merge on generated positions") {
    // spansOf is the SHARED final stage of both substring-dedup forms
    // (the factoring that keeps them from drifting) — positions within
    // W of each other merge into one span ending at last+W-1, spans
    // number per doc in start order. Brute reference: sort, split on
    // gap > W, merge. Generated multi-doc position sets with dense
    // runs, singletons, and exact-boundary gaps (p' - p == W merges,
    // W+1 splits — the off-by-one this pins).
    import graft.ext.DedupQueries
    val W = DedupQueries.SUBSTR_W.toLong
    val caseGen = for {
      nd <- Gen.chooseNum(1, 3)
      ps <- Gen.listOfN(nd * 8, Gen.zip(
        Gen.chooseNum(1L, nd.toLong),
        Gen.frequency(
          3 -> Gen.chooseNum(1L, 400L),
          // exact-boundary clusters around multiples of W
          1 -> Gen.chooseNum(1L, 5L).map(_ * W),
          1 -> Gen.chooseNum(1L, 5L).map(_ * W + 1))))
    } yield ps.distinct
    samples(caseGen, 12).foreach { ps =>
      val got = DedupQueries.spansOf(ps.toDF("doc_id", "p"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      val want = ps.groupBy(_._1).toSeq.flatMap { case (doc, rows) =>
        val sorted = rows.map(_._2).distinct.sorted
        val islands = sorted.foldLeft(Vector.empty[Vector[Long]]) {
          case (acc, p) if acc.nonEmpty && p - acc.last.last <= W =>
            acc.init :+ (acc.last :+ p)
          case (acc, p) => acc :+ Vector(p)
        }
        islands.zipWithIndex.map { case (isl, i) =>
          val (s, e) = (isl.head, isl.last + W - 1)
          (doc, (i + 1).toLong, s, e, e - s + 1)
        }
      }.sortBy(t => (t._1, t._2))
      assert(got === want, s"spans diverged for positions $ps")
    }
  }

  test("MP4 chunk-map layouts round-trip for generated chunkings") {
    // GENERATED chunk layouts (arbitrary sample sizes, arbitrary chunk
    // partitions, junk gaps between chunks, stco or co64, run-length
    // stsc): decodeMp4FrameSlices must return exactly the sample bytes
    // for every one — the generalization of the fixed 2-chunk fixture
    // in ExtSpec. Pure JVM, no Spark jobs.
    import graft.ext.MediaDecode
    def be(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def be64(v: Long) = be((v >>> 32).toInt) ++ be(v.toInt)
    def box(t: String, body: Array[Byte]) =
      be(8 + body.length) ++ t.getBytes("US-ASCII") ++ body
    val genSample = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 255)).map(_.map(_.toByte).toArray))
    val genCase = for {
      ns <- Gen.chooseNum(1, 8)
      ss <- Gen.listOfN(ns, genSample)
      splitAt <- Gen.listOfN(math.max(0, ns - 1), Gen.oneOf(true, false))
      useCo64 <- Gen.oneOf(true, false)
      gap <- Gen.chooseNum(0, 9)
    } yield (ss, splitAt, useCo64, gap)
    samples(genCase, 40).foreach { case (ss, splitAt, useCo64, gap) =>
      // partition samples into chunks at the generated split points
      val chunks = ss.tail.zip(splitAt).foldLeft(Seq(Seq(ss.head))) {
        case (acc, (s, split)) =>
          if (split) acc :+ Seq(s) else acc.init :+ (acc.last :+ s)
      }
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be(0))
      // mdat: chunks laid out with `gap` junk bytes between them
      val junk = Array.fill[Byte](gap)(0x5a)
      val mdatBody = chunks.map(_.flatten.toArray)
        .reduceLeft((a, b) => a ++ junk ++ b)
      val mdat = box("mdat", mdatBody)
      // absolute chunk offsets (mdat payload starts after ftyp + header)
      val offs = chunks.init.scanLeft(ftyp.length + 8L) {
        (o, c) => o + c.map(_.length).sum + gap
      }
      // run-length stsc from per-chunk counts
      val counts = chunks.map(_.length)
      val runs = counts.zipWithIndex.collect {
        case (c, 0) => (1, c)
        case (c, i) if c != counts(i - 1) => (i + 1, c)
      }
      val stsz = box("stsz", Array[Byte](0, 0, 0, 0) ++ be(0) ++
        be(ss.length) ++ ss.flatMap(s => be(s.length)).toArray)
      val stts = box("stts",
        Array[Byte](0, 0, 0, 0) ++ be(1) ++ be(ss.length) ++ be(1))
      val stsc = box("stsc", Array[Byte](0, 0, 0, 0) ++ be(runs.length) ++
        runs.flatMap { case (f, c) => be(f) ++ be(c) ++ be(1) }.toArray)
      val offsets =
        if (useCo64) box("co64", Array[Byte](0, 0, 0, 0) ++
          be(offs.length) ++ offs.flatMap(be64).toArray)
        else box("stco", Array[Byte](0, 0, 0, 0) ++
          be(offs.length) ++ offs.flatMap(o => be(o.toInt)).toArray)
      val trak = box("trak", box("mdia", box("minf",
        box("stbl", stsz ++ stts ++ stsc ++ offsets))))
      val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be(0) ++ be(0) ++
        be(600) ++ be(ss.length) ++ Array.fill[Byte](80)(0))
      val file = ftyp ++ mdat ++ box("moov", mvhd ++ trak)
      val got = MediaDecode.decodeMp4FrameSlices(file)
      assert(got.isDefined,
        s"chunking ${counts.mkString(",")} gap=$gap co64=$useCo64 failed")
      assert(got.get.map(_.toSeq) === ss.map(_.toSeq),
        s"round-trip broke at chunking ${counts.mkString(",")} gap=$gap")
    }
  }

  // Canonical greedy BPE single-merge application: left-to-right,
  // non-overlapping, the scan resumes AFTER a merged pair (aaaaa + (a,a)
  // -> aa aa a). This is the ground truth the whole tokenizer family is
  // pinned against below — deliberately structure-free (a while loop over
  // a symbol vector), sharing nothing with the SQL fold/replace forms.
  private def refBpeMergeOnce(syms: Vector[String], ls: String,
      rs: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == ls && syms(i + 1) == rs) {
        out += (ls + rs); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  test("BPE sentinel fold equals the canonical greedy merge on hostile symbols") {
    // The oracle can't see a bug here: the DuckDB mirror runs the SAME
    // fold algebra (list_reduce with the identical CASE), so a divergence
    // from canonical BPE semantics would be green on every oracle gate.
    // Symbols are chosen to stress the fold's endswith/sentinel logic:
    // prefixes, suffixes and concatenations of each other (ba vs a, aab
    // vs ab, abab vs ab+ab), ls == rs, and merges that never occur.
    val symAlpha = Vector("a", "b", "c", "ab", "ba", "aa", "aab", "bab", "abab")
    val genCase = for {
      n <- Gen.chooseNum(1, 8)
      syms <- Gen.listOfN(n, Gen.oneOf(symAlpha))
      ls <- Gen.oneOf(symAlpha)
      rs <- Gen.oneOf(symAlpha)
    } yield (syms.toVector, ls, rs)
    val cases = samples(genCase, 240)
    val got = cases.map { case (syms, ls, rs) => (syms, ls, rs) }
      .toDF("s", "ls", "rs")
      .select($"s", $"ls", $"rs",
        expr(graft.ext.TextQueries.bpeFoldExprOn("s")).as("d"))
      .collect()
    got.foreach { r =>
      val syms = r.getSeq[String](0).toVector
      val (ls, rs) = (r.getString(1), r.getString(2))
      val expected = refBpeMergeOnce(syms, ls, rs)
      val actual = r.getString(3).split("\u0001").toVector
      assert(actual === expected,
        s"fold diverged on syms=${syms.mkString("[", " ", "]")} merge=($ls,$rs)")
    }
  }

  test("BPE train loop and both application forms match a reference tokenizer") {
    // End-to-end pin of the tokenizer family on GENERATED corpora: the
    // 4-round count -> argmax(n DESC, ls ASC, rs ASC) -> apply training
    // loop (bpeTrainLoopDict), the per-type fold application (applyMerges
    // — what q_bpe_encode/q_token_ids run), and the fused marked-string
    // replace (tokensPerDocOf — what q_tokens_per_doc/q_bpe_fertility
    // run) must all agree with an independent Scala trainer/encoder.
    // Multi-round interplay is the point: round-2+ merges take MULTI-CHAR
    // symbols as ls/rs, which no single-merge property exercises.
    import graft.ext.TextQueries
    val rounds = TextQueries.BpeTrainRounds

    def refTrain(dict0: Seq[(Vector[String], Long)])
        : (Seq[(Long, String, String, Long)], Seq[(Vector[String], Long)]) = {
      var dict = dict0
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      for (r <- 1 to rounds) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        dict.foreach { case (syms, f) =>
          var i = 0
          while (i + 1 < syms.length) {
            val k = (syms(i), syms(i + 1))
            counts(k) = counts.getOrElse(k, 0L) + f
            i += 1
          }
        }
        assert(counts.nonEmpty, "degenerate generated corpus: no pairs left")
        val ((ls, rs), n) = counts.toSeq
          .minBy { case ((l, rr), c) => (-c, l, rr) }
        merges += ((r.toLong, ls, rs, n))
        dict = dict.map { case (syms, f) => (refBpeMergeOnce(syms, ls, rs), f) }
      }
      (merges.result(), dict)
    }

    val genWord = Gen.chooseNum(2, 6)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val genDoc = Gen.chooseNum(2, 5)
      .flatMap(n => Gen.listOfN(n, genWord).map(_.mkString(" ")))
    val genCorpus = Gen.chooseNum(8, 14).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 6).zipWithIndex.foreach { case (docs0, ci) =>
      // a fixed variety doc keeps 4 training rounds from ever running out
      // of adjacent pairs on a small generated corpus
      val docs = "abcabc bcabca cababc bacbac" +: docs0
      val docsDf = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

      // reference word-type dictionary (freq over the whole corpus)
      val wordFreq = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      val refDict0 = wordFreq.toSeq
        .map { case (w, f) => (w.toVector.map(_.toString), f) }
      val (refMerges, refFinalDict) = refTrain(refDict0)

      // 1) the training loop: rounds, winners AND support counts, exactly
      val dictDf = TextQueries.bpeDictOf(docsDf)
      val gotMerges = TextQueries.bpeTrainLoopDict(dictDf)
        .orderBy($"round").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      assert(gotMerges === refMerges, s"train loop diverged on corpus $ci")

      val mergesDf = refMerges.map { case (r, ls, rs, _) => (r, ls, rs) }
        .toDF("round", "ls", "rs")

      // 2) the per-type fold application (the encode path)
      val gotDict = TextQueries.applyMerges(dictDf, mergesDf, Seq("freq"))
        .collect()
        .map(r => (r.getString(0).split("\u0001").toVector, r.getLong(1)))
        .sortBy(x => (x._1.mkString("\u0001"), x._2))
      val expDict = refFinalDict
        .sortBy(x => (x._1.mkString("\u0001"), x._2))
      assert(gotDict.toSeq === expDict, s"applyMerges diverged on corpus $ci")

      // 3) the fused marked-replace form (the corpus-scale count path)
      val refTokens = docs.zipWithIndex.map { case (t, i) =>
        val ws = t.split(" ").filter(_.nonEmpty)
        val nTok = ws.map { w =>
          refMerges.foldLeft(w.toVector.map(_.toString)) {
            case (syms, (_, ls, rs, _)) => refBpeMergeOnce(syms, ls, rs)
          }.length.toLong
        }.sum
        (i.toLong, ws.length.toLong, nTok)
      }.filter(_._2 > 0)
      val gotTokens = TextQueries.tokensPerDocOf(docsDf, mergesDf)
        .orderBy($"doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(gotTokens === refTokens, s"tokensPerDocOf diverged on corpus $ci")
    }
  }

  test("BM25 scores match the textbook Robertson formula on generated corpora") {
    // The DuckDB mirror evaluates the SAME arithmetic token-for-token, so
    // a formula-variant bug (wrong idf, k1/b misplacement, dl counting
    // drift) is invisible to every oracle gate. Ground truth here is the
    // textbook formula computed with plain Scala doubles: score(d, Q) =
    // sum_t ln((N - df + 0.5)/(df + 0.5) + 1) * tf*(k1+1) /
    // (tf + k1*(1 - b + b*dl/avgdl)), k1 = 1.2, b = 0.75. Scores compare
    // within 6e-6: the query rounds at 5 places (half-ulp 5e-6) and the
    // distributed sum may associate differently than the reference's
    // left fold.
    import graft.ext.RetrievalQueries
    val terms = Seq("red", "green", "blue")
    // vocabulary includes the query terms, non-query words, and a doubled
    // separator case (empty split segments count toward dl, never tf)
    val genDoc = for {
      n <- Gen.chooseNum(1, 12)
      toks <- Gen.listOfN(n, Gen.oneOf(
        "red", "green", "blue", "dog", "cat", "fish", ""))
    } yield toks.mkString(" ")
    val genCorpus = Gen.chooseNum(6, 20).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 8).zipWithIndex.foreach { case (docs, ci) =>
      val docsDf = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val n = docs.length.toLong
      val dls = docs.map(_.split(" ", -1).length.toLong)
      val avgdl = dls.sum.toDouble / n
      val tf = docs.zipWithIndex.flatMap { case (t, i) =>
        val segs = t.split(" ", -1)
        terms.flatMap { q =>
          val c = segs.count(_ == q).toLong
          if (c > 0) Some((i.toLong, q) -> c) else None
        }
      }.toMap
      val dfm = terms.map(q =>
        q -> tf.keys.count { case (_, t) => t == q }.toLong).toMap
      val refScores = docs.indices.flatMap { i =>
        val parts = terms.flatMap { q =>
          tf.get((i.toLong, q)).map { c =>
            math.log((n - dfm(q) + 0.5) / (dfm(q) + 0.5) + 1.0) *
              (c * 2.2) /
              (c + 1.2 * (0.25 + 0.75 * dls(i) / avgdl))
          }
        }
        if (parts.isEmpty) None else Some(i.toLong -> parts.sum)
      }.toMap
      val got = RetrievalQueries.bm25ScoredOf(docsDf, terms).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet === refScores.keySet,
        s"scored-doc set diverged on corpus $ci")
      got.foreach { case (id, sc) =>
        assert(math.abs(sc - refScores(id)) <= 6e-6,
          s"BM25 diverged on corpus $ci doc $id: got $sc ref ${refScores(id)}")
      }
    }
  }

  test("LSH candidate pairs equal a brute banding reference, cap drop included") {
    // End-to-end pin of the near-dup candidate machinery on generated
    // corpora: word-3-gram shingling (whole-text fallback under 3 tokens),
    // the K-component minhash signature (md5(sh) || md5('x'||sh) hex
    // windows, per-component min over the shingle SET), single-row band
    // bucketing, the BUCKET_CAP mega-bucket drop, in-bucket ordered pair
    // expansion, signature-agreement scoring, and the >= 2/K admission.
    // The reference below rebuilds all of it from MessageDigest + plain
    // collections — nothing shared with the Spark plan or the DuckDB
    // mirror (which reuses the same banding algebra and so can't catch a
    // drifted convention).
    import graft.ext.DedupQueries
    val K = DedupQueries.K
    val cap = DedupQueries.BUCKET_CAP
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def sigOf(text: String): Vector[String] = {
      val toks = text.split(" ", -1)
      val shingles =
        if (toks.length >= 3)
          (0 to toks.length - 3)
            .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").toSet
        else Set(text)
      val hfs = shingles.map(sh => md5hex(sh) + md5hex("x" + sh))
      (0 until K).map(j => hfs.map(_.substring(8 * j, 8 * j + 8)).min).toVector
    }
    def refPairs(sigs: Map[Long, Vector[String]]): Seq[(Long, Long, Double)] = {
      val buckets = scala.collection.mutable.Map
        .empty[(Int, String), Vector[Long]]
      for ((id, sig) <- sigs.toSeq.sortBy(_._1); j <- 0 until K) {
        val k = (j, sig(j))
        buckets(k) = buckets.getOrElse(k, Vector.empty) :+ id
      }
      val cand = scala.collection.mutable.Set.empty[(Long, Long)]
      for {
        (_, ids) <- buckets if ids.size >= 2 && ids.size <= cap
        a <- ids; b <- ids if a < b
      } cand += ((a, b))
      cand.toSeq.map { case (a, b) =>
        val m = (0 until K).count(j => sigs(a)(j) == sigs(b)(j))
        (a, b, m.toDouble / K)
      }.filter(_._3 >= 2.0 / K).sorted
    }
    def check(docs: Seq[String], label: String): Unit = {
      val docsDf = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val refSigs = docs.zipWithIndex
        .map { case (t, i) => i.toLong -> sigOf(t) }.toMap
      val sigsDf = DedupQueries.minhashSigsOf(docsDf)
      val gotSigs = sigsDf.collect()
        .map(r => r.getLong(0) ->
          (1 to K).map(r.getString).toVector).toMap
      assert(gotSigs === refSigs, s"signatures diverged on $label")
      val gotPairs = DedupQueries.minhashPairsPlanOf(sigsDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      assert(gotPairs === refPairs(refSigs), s"pair table diverged on $label")
    }
    // tiny vocabulary -> dense 3-gram collisions; "" makes doubled-space
    // segments that shingle and hash like any other token
    val genDoc = Gen.chooseNum(1, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w", "")).map(_.mkString(" ")))
    val genCorpus = Gen.chooseNum(12, 30).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 5).zipWithIndex.foreach { case (docs, ci) =>
      check(docs, s"corpus $ci")
    }
    // the mega-bucket drop path: 55 identical docs push every one of their
    // buckets past BUCKET_CAP, so NONE of those pairs may surface, while
    // the distinct satellite docs still pair among themselves as usual
    val mega = Seq.fill(cap + 5)("x y z x") ++
      Seq("w w y w", "w w y w z", "z z x w y", "y x w z z x")
    check(mega, "mega-bucket corpus")
  }

  test("simhash collision groups equal a digest-level reference on generated docs") {
    // Pins the bit-vote assembly the Spark plan builds from 16 conditional
    // sums: bit j votes +1/-1 on the ascii parity of hex char j of
    // md5(token) over the doc's DISTINCT token set, the bit lands only on
    // a strictly positive sum (a tie is a 0 bit), and only collision
    // groups (n > 1) surface. Permuted/duplicated-token twins collide by
    // construction — the reference derives everything from MessageDigest
    // and plain sets, sharing nothing with the SQL forms.
    import graft.ext.DedupQueries
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def refSimhash(text: String): Long = {
      val toks = text.split(" ", -1).distinct
      (0 until 16).map { j =>
        val s = toks.map(t => if (md5hex(t).charAt(j).toInt % 2 == 1) 1 else -1).sum
        if (s > 0) 1L << j else 0L
      }.sum
    }
    val genDoc = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("p", "q", "r", "s", "")).map(_.mkString(" ")))
    val genCorpus = Gen.chooseNum(15, 25).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 4).zipWithIndex.foreach { case (docs0, ci) =>
      // token-SET twins: reversed order plus a duplicated token — same
      // distinct set, so the same simhash, forcing real collision groups
      val twins = docs0.take(5).map { t =>
        val ts = t.split(" ", -1)
        (ts.reverse :+ ts.head).mkString(" ")
      }
      val docs = docs0 ++ twins
      val docsDf = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val expected = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, refSimhash(t)) }
        .groupBy(_._2).toSeq
        .map { case (h, xs) =>
          (h, xs.size.toLong, xs.map(_._1).min, xs.map(_._1).max) }
        .filter(_._2 > 1)
        .sortBy(_._1)
      val got = DedupQueries.simhashGroupsOf(docsDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got === expected, s"simhash groups diverged on corpus $ci")
      assert(expected.nonEmpty, s"corpus $ci generated no collision groups")
    }
  }

  test("ngram-Jaccard top-5 equals a posting-list reference, stop-shingles dropped") {
    // Pins the exact-Jaccard verification tier end-to-end on generated
    // corpora: per-doc DISTINCT 3-gram shingle sets (whole-text fallback
    // under 3 tokens), per-(lang, shingle) document frequency with the
    // DF_CAP stop-shingle drop, the q % 97 == 0 query sampling, posting-
    // list pair expansion, |A∩B| / (|A| + |B| − |A∩B|) scoring over the
    // NON-STOP sets, and the (jaccard DESC, doc_id ASC) top-5 cut. The
    // reference rebuilds it all from plain Scala sets and maps.
    import graft.ext.DedupQueries
    val cap = DedupQueries.DF_CAP
    def shinglesOf(text: String): Set[String] = {
      val toks = text.split(" ", -1)
      if (toks.length >= 3)
        (0 to toks.length - 3)
          .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").toSet
      else Set(text)
    }
    def refTop5(docs: Seq[(Long, String, String)])
        : Seq[(Long, Long, Long, Double)] = {
      val langOf = docs.map(d => d._1 -> d._2).toMap
      val sets = docs.map { case (id, _, t) => id -> shinglesOf(t) }.toMap
      val df = scala.collection.mutable.Map.empty[(String, String), Int]
      for ((id, set) <- sets.toSeq; sh <- set) {
        val k = (langOf(id), sh)
        df(k) = df.getOrElse(k, 0) + 1
      }
      val ok = sets.map { case (id, set) =>
        id -> set.filter(sh => df((langOf(id), sh)) <= cap) }
      val inter = scala.collection.mutable.Map.empty[(Long, Long), Long]
      val postings = ok.toSeq.flatMap { case (id, set) =>
        set.map(sh => (langOf(id), sh) -> id) }
        .groupBy(_._1).map { case (_, xs) => xs.map(_._2) }
      for {
        list <- postings if list.size >= 2
        q <- list if q % 97 == 0
        d <- list if d != q
      } inter((q, d)) = inter.getOrElse((q, d), 0L) + 1L
      inter.toSeq
        .map { case ((q, d), n) =>
          (q, d, n.toDouble / (ok(q).size + ok(d).size - n)) }
        .groupBy(_._1).toSeq
        .flatMap { case (q, xs) =>
          xs.sortBy(x => (-x._3, x._2)).take(5).zipWithIndex
            .map { case ((_, d, j), i) => (q, (i + 1).toLong, d, j) }
        }
        .sortBy(x => (x._1, x._2))
    }
    def check(docs: Seq[(Long, String, String)], label: String): Unit = {
      val docsDf = docs.toDF("doc_id", "lang", "text")
      val got = graft.ext.DedupQueries.ngramJaccardOf(docsDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      assert(got === refTop5(docs), s"ngram-jaccard top-5 diverged on $label")
      assert(got.nonEmpty, s"$label produced no scored pairs")
    }
    // query docs get ids divisible by 97; partners get non-divisible ids
    val genDoc = Gen.chooseNum(3, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("p", "q", "r", "s")).map(_.mkString(" ")))
    val genCorpus = Gen.zip(
      Gen.listOfN(3, genDoc), Gen.chooseNum(15, 22)
        .flatMap(n => Gen.listOfN(n, Gen.zip(genDoc, Gen.oneOf("en", "fr")))))
    samples(genCorpus, 4).zipWithIndex.foreach { case ((qs, rest), ci) =>
      val docs = qs.zipWithIndex.map { case (t, i) => (i.toLong * 97, "en", t) } ++
        rest.zipWithIndex.map { case ((t, l), i) => (i.toLong + 300, l, t) }
      check(docs, s"corpus $ci")
    }
    // stop-shingle path: one shared 3-gram across DF_CAP + 10 same-lang
    // docs crosses the cap and must drop out of every set, while the
    // shared tails keep producing pairs from the surviving shingles
    val stop = (0 until cap + 10).map { i =>
      val id = if (i == 0) 0L else if (i == 1) 97L else i + 300L
      (id, "en", s"p q r s s p q t${i % 4} t${i % 4} t${i % 4}")
    }
    check(stop, "stop-shingle corpus")
  }

  test("Lloyd-refined IVF centroids equal a scalar k-means reference") {
    // Pins the full bounded k-means training loop on generated quantized
    // vectors: the md5-ordered seed pick, per-round nearest-centroid
    // assignment by exact-integer cosine (ties to the smaller centroid
    // id), the per-dimension floor-division integer mean, the exact
    // integer norm of the rebuilt centroid, and the empty-cluster-
    // vanishes behavior. The DuckDB oracle unrolls the SAME chain, so a
    // convention drift (ceil vs floor mean, wrong tie side, a dimension
    // permutation in the rebuild) would stay oracle-green; the reference
    // below is a scalar while-loop k-means sharing nothing with either.
    import graft.ext.SimilarityQueries
    val k = SimilarityQueries.IVF_K
    val rounds = SimilarityQueries.KM_ROUNDS
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def dot(a: Vector[Long], b: Vector[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def refTrain(vecs: Map[Long, Vector[Long]]): Map[Long, (Vector[Long], Long)] = {
      val dim = vecs.head._2.length
      val seedIds = vecs.keys.toSeq
        .sortBy(id => (md5hex("ivf_" + id), id)).take(k)
      var cents: Seq[(Long, Vector[Long])] = seedIds.map(id => id -> vecs(id))
      for (_ <- 1 to rounds) {
        val assign = vecs.toSeq.map { case (vid, v) =>
          val nv = dot(v, v)
          val cid = cents.map { case (cid0, c) =>
            val cos = dot(v, c).toDouble /
              (math.sqrt(nv.toDouble) * math.sqrt(dot(c, c).toDouble))
            (cid0, cos)
          }.minBy { case (cid0, cos) => (-cos, cid0) }._1
          vid -> cid
        }
        cents = assign.groupBy(_._2).toSeq.map { case (cid, members) =>
          val ms = members.map(m => vecs(m._1))
          cid -> (0 until dim)
            .map(d => Math.floorDiv(ms.map(_(d)).sum, ms.size.toLong))
            .toVector
        }.sortBy(_._1)
      }
      cents.map { case (cid, c) => cid -> (c, dot(c, c)) }.toMap
    }
    val genVec = Gen.listOfN(4, Gen.chooseNum(-1000000L, 1000000L))
      .map(_.toVector)
      // chooseNum biases toward 0: a fully-zero vector would make the
      // cosine NaN, which the production corpus (unit-ish embeddings)
      // never produces — nudge the first coordinate off zero
      .map(v => if (v.forall(_ == 0L)) v.updated(0, 1L) else v)
    val genSet = Gen.chooseNum(20, 45).flatMap(n => Gen.listOfN(n, genVec))
    samples(genSet, 4).zipWithIndex.foreach { case (vs, ci) =>
      val vecs = vs.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap
      val e = vecs.toSeq.map { case (id, v) => (id, v.toArray, dot(v, v)) }
        .toDF("vec_id", "qe", "nrm")
      val got = SimilarityQueries.learnedCents(e).collect()
        .map(r => r.getLong(0) ->
          (r.getSeq[Long](1).toVector, r.getLong(2))).toMap
      assert(got === refTrain(vecs), s"k-means training diverged on set $ci")
    }
  }

  test("per-doc entropy and LM score match scalar references on generated docs") {
    // Entropy: H = log2(n) − Σ c·log2(c) / n over per-doc char counts,
    // rounded at 4 — the reference recomputes it with plain doubles and
    // compares within 6e-5 (round-4 half-ulp plus distributed-sum
    // association). LM score: the corpus-fit char-bigram model is ALL
    // integer arithmetic (prob_u = cnt·10⁶ div total; score_u = mean of
    // the doc's bigram probs, floor-divided), so the reference must match
    // EXACTLY — any divergence is a real convention drift the same-algebra
    // DuckDB mirror would not see.
    import graft.ext.TextQueries
    val genDoc = Gen.chooseNum(1, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd', ' ')).map(_.mkString))
    val genCorpus = Gen.chooseNum(8, 18).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 5).zipWithIndex.foreach { case (docs, ci) =>
      val docsDf = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, if (i % 2 == 0) "en" else "fr", t) }
        .toDF("doc_id", "lang", "text")
      def log2(x: Double): Double = math.log(x) / math.log(2.0)
      val refEnt = docs.zipWithIndex.map { case (t, i) =>
        val counts = t.groupBy(identity).map(_._2.length.toLong)
        val n = counts.sum
        val clog = counts.map(c => c.toDouble * log2(c.toDouble)).sum
        i.toLong -> (log2(n.toDouble) - clog / n)
      }.toMap
      val gotEnt = TextQueries.entropyPerDocPlanOf(docsDf).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(gotEnt.keySet === refEnt.keySet, s"entropy doc set, corpus $ci")
      gotEnt.foreach { case (id, e) =>
        assert(math.abs(e - refEnt(id)) <= 6e-5,
          s"entropy diverged on corpus $ci doc $id: got $e ref ${refEnt(id)}")
      }

      val bigrams = docs.zipWithIndex.collect {
        case (t, i) if t.length >= 2 =>
          i.toLong -> t.sliding(2).toSeq
      }
      val model = bigrams.flatMap(_._2)
        .groupBy(identity).map { case (bg, xs) => bg -> xs.size.toLong }
      val total = model.values.sum
      val probU = model.map { case (bg, c) =>
        bg -> Math.floorDiv(c * 1000000L, total) }
      val refLm = bigrams.map { case (id, bgs) =>
        id -> Math.floorDiv(bgs.map(probU).sum, bgs.size.toLong)
      }.toMap
      val gotLm = TextQueries.lmScorePerDocPlanOf(docsDf).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(gotLm === refLm, s"LM score diverged on corpus $ci")
    }
  }

  test("graph tier equals brute references: degrees, triangles, pagerank, kcore, links") {
    // The five graph operators run over the memoized LSH edge table with
    // independently-written but same-algebra DuckDB mirrors; only the CC
    // labels had a reference pin until now. On generated undirected edge
    // sets (plus a structured fixture that forces a 3-round peel), each
    // operator must match a brute scalar reference: degree histogram,
    // canonical triangle counts, the 3-round fixed-point integer
    // PageRank, the k-core onion census WITH its -1 convergence-receipt
    // row, and common-neighbor Jaccard link prediction over non-edges.
    import graft.ext.GraphQueries
    val coreK = GraphQueries.CORE_K
    val peelRounds = GraphQueries.PEEL_ROUNDS
    val prRounds = GraphQueries.ROUNDS
    val rankOne = GraphQueries.RANK_ONE
    val damp = GraphQueries.DAMP_PCT
    val minCommon = GraphQueries.LP_MIN_COMMON

    def neighbors(es: Seq[(Long, Long)]): Map[Long, Set[Long]] =
      (es.flatMap { case (a, b) => Seq(a -> b, b -> a) })
        .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }

    def refDegrees(es: Seq[(Long, Long)]): Seq[(Long, Long)] =
      neighbors(es).values.map(_.size.toLong).groupBy(identity).toSeq
        .map { case (d, xs) => (d, xs.size.toLong) }.sortBy(_._1)

    def refTriangles(es: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val nb = neighbors(es)
      val tri = for {
        (x, y) <- es; z <- nb.getOrElse(y, Set.empty)
        if y < z && nb(x).contains(z)
      } yield (x, y, z)
      tri.flatMap { case (x, y, z) => Seq(x, y, z) }
        .groupBy(identity).toSeq
        .map { case (v, xs) => (v, xs.size.toLong) }.sortBy(_._1)
    }

    def refPagerank(es: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val nb = neighbors(es)
      val deg = nb.map { case (v, s) => v -> s.size.toLong }
      var r: Map[Long, Long] = deg.map { case (v, _) => v -> rankOne }
      val base = rankOne - rankOne * damp / 100
      for (_ <- 1 to prRounds) {
        val csum = scala.collection.mutable.Map.empty[Long, Long]
        for ((src, dsts) <- nb.toSeq; dst <- dsts)
          csum(dst) = csum.getOrElse(dst, 0L) + r(src) / deg(src)
        r = r.map { case (v, _) =>
          v -> (base + damp * csum.getOrElse(v, 0L) / 100) }
      }
      r.toSeq.sortBy(_._1)
    }

    def refKcore(es: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      var cur = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      var alive = cur.map(_._1).toSet
      val peeled = scala.collection.mutable.Map.empty[Long, Long]
      for (r <- 1 to peelRounds) {
        val dg = cur.groupBy(_._1).map { case (v, xs) => v -> xs.size.toLong }
        val keep = alive.filter(v => dg.getOrElse(v, 0L) >= coreK)
        (alive -- keep).foreach(v => peeled(v) = r.toLong)
        alive = keep
        cur = cur.filter { case (a, b) => keep(a) && keep(b) }
      }
      val dgF = cur.groupBy(_._1).map { case (v, xs) => v -> xs.size.toLong }
      val resid = alive.count(v => dgF.getOrElse(v, 0L) < coreK).toLong
      val census = (peeled.toSeq.map(_._2) ++ alive.toSeq.map(_ => 0L))
        .groupBy(identity).toSeq
        .map { case (rd, xs) => (rd, xs.size.toLong) }
      ((-1L, resid) +: census).sortBy(_._1)
    }

    def refLinks(es: Seq[(Long, Long)]): Seq[(Long, Long, Long, Long)] = {
      val nb = neighbors(es)
      val edgeSet = es.toSet
      val vs = nb.keys.toSeq.sorted
      (for {
        a <- vs; b <- vs if a < b && !edgeSet((a, b))
        common = (nb(a) & nb(b)).size.toLong if common >= minCommon
      } yield (a, b, common,
        common * 1000000L / (nb(a).size + nb(b).size - common)))
        .sortBy(x => (x._1, x._2))
    }

    def check(es0: Seq[(Long, Long)], label: String): Unit = {
      val es = es0.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      val e = es.toDF("doc_a", "doc_b")
      def rows2(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows2(GraphQueries.graphDegreesOf(e)) === refDegrees(es),
        s"degrees diverged on $label")
      assert(rows2(GraphQueries.graphTrianglesOf(e)) === refTriangles(es),
        s"triangles diverged on $label")
      assert(rows2(GraphQueries.graphPagerankOf(e)) === refPagerank(es),
        s"pagerank diverged on $label")
      assert(rows2(GraphQueries.graphKcoreOf(e)) === refKcore(es),
        s"kcore census diverged on $label")
      val gotLp = GraphQueries.graphLinkPredictOf(e).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(gotLp === refLinks(es), s"link prediction diverged on $label")
    }

    val genGraph = for {
      n <- Gen.chooseNum(8, 16)
      m <- Gen.chooseNum(n, 2 * n)
      es <- Gen.listOfN(m, Gen.zip(
        Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield es
    samples(genGraph, 5).zipWithIndex.foreach { case (es, ci) =>
      check(es, s"graph $ci")
    }
    // structured fixture: triangle + square survive the 2-core; the chain
    // 2-3-4-5 peels over THREE rounds (5 at r1, 4 at r2, 3 at r3), the
    // pendant 0-12 and the isolated edge 10-11 peel at r1 — a full onion
    check(Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 8L), (8L, 9L), (6L, 9L), (10L, 11L), (0L, 12L)),
      "structured onion graph")
  }

  test("pack census equals a sequential first-fit packer on generated streams") {
    // packSequences claims its windowed cumsum IS the deterministic
    // streaming first-fit: docs in doc_id order per (lang, source)
    // stream, each doc opening in the bin its running prefix lands in.
    // The reference below packs sequentially with an explicit running
    // counter — the semantics the Scaladoc promises — and rebuilds the
    // census, including bins skipped entirely by over-budget docs. Token
    // counts are recomputed structurally (ceil(run/4) per non-space run)
    // rather than via the production regex.
    import graft.ext.PipelineQueries
    val budget = PipelineQueries.PACK_BUDGET
    def nTokRef(text: String): Long =
      text.split(" ", -1).filter(_.nonEmpty).map(w => (w.length + 3) / 4)
        .sum.toLong
    val genWord = Gen.chooseNum(1, 11).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val genDoc = for {
      n <- Gen.chooseNum(0, 90)
      ws <- Gen.listOfN(n, genWord)
      lang <- Gen.oneOf("en", "fr")
      src <- Gen.oneOf("s1", "s2")
    } yield (lang, src, ws.mkString(" "))
    val genCorpus = Gen.chooseNum(20, 40).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 4).zipWithIndex.foreach { case (docs, ci) =>
      val rows = docs.zipWithIndex.map { case ((l, sc, t), i) =>
        (i.toLong, l, sc, t) }
      val docsDf = rows.toDF("doc_id", "lang", "source", "text")
      val ref = rows.groupBy(r => (r._2, r._3)).toSeq.flatMap {
        case ((l, sc), ds) =>
          var running = 0L
          ds.sortBy(_._1).map { case (_, _, _, t) =>
            val tok = nTokRef(t)
            val bin = running / budget
            running += tok
            ((l, sc, bin), tok)
          }
      }.groupBy(_._1).toSeq.map { case ((l, sc, bin), xs) =>
        val tokens = xs.map(_._2).sum
        (l, sc, bin, xs.size.toLong, tokens, tokens * 10000L / budget)
      }.sortBy(x => (x._1, x._2, x._3))
      val got = PipelineQueries.packSequencesOf(docsDf).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      assert(got === ref, s"pack census diverged on corpus $ci")
    }
  }

  test("corpus-drift integer KL and TV match a scalar reference") {
    // The XC12 drift gate quantizes everything to integers (Laplace ppm
    // probabilities, micro-nat floor'd logs, truncating-division sums), a
    // convention both engines share token-for-token. The reference
    // recomputes it from MessageDigest buckets and plain maps — including
    // the documented truncate-toward-zero (NOT floor) of the possibly-
    // negative quantized KL sums — so any drift in bucket hashing,
    // smoothing, or the division convention fails here even though the
    // oracle stays green.
    import graft.ext.CurateQueries
    val buckets = CurateQueries.DsirBuckets
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def bucketOf(gram: String): Long =
      java.lang.Long.parseLong(md5hex(gram).substring(0, 12), 16) % buckets
    val genDoc = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", ""))
        .map(_.mkString(" ")))
    val genCorpus = Gen.chooseNum(10, 24).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 4).zipWithIndex.foreach { case (docs, ci) =>
      val rows = docs.zipWithIndex.map { case (t, i) =>
        (i.toLong, if (i % 3 == 0) "en" else "fr", t) }
      val docsDf = rows.toDF("doc_id", "lang", "text")
      val ref = rows.groupBy(_._2).toSeq.map { case (lang, ds) =>
        val cnt = scala.collection.mutable.Map.empty[Long, (Long, Long)]
        ds.foreach { case (id, _, t) =>
          val coh = id % 2
          t.split(" ", -1).foreach { g =>
            val b = bucketOf(g)
            val (a0, b0) = cnt.getOrElse(b, (0L, 0L))
            cnt(b) = if (coh == 0) (a0 + 1, b0) else (a0, b0 + 1)
          }
        }
        val ta = cnt.values.map(_._1).sum
        val tb = cnt.values.map(_._2).sum
        var klA, klB, tv = 0L
        cnt.values.foreach { case (ca, cb) =>
          val pa = (ca + 1) * 1000000L / (ta + buckets)
          val pb = (cb + 1) * 1000000L / (tb + buckets)
          val lrAb = math.floor(math.log(pa.toDouble / pb) * 1000000L).toLong
          val lrBa = math.floor(math.log(pb.toDouble / pa) * 1000000L).toLong
          klA += pa * lrAb; klB += pb * lrBa; tv += math.abs(pa - pb)
        }
        val nA = ds.count(_._1 % 2 == 0).toLong
        val nB = ds.count(_._1 % 2 == 1).toLong
        (lang, nA, nB, klA / 1000000L, klB / 1000000L, tv / 2L)
      }.sortBy(_._1)
      val got = CurateQueries.corpusDriftOf(docsDf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      assert(got === ref, s"corpus drift diverged on corpus $ci")
    }
  }

  test("prefix-filtered similarity and containment joins equal brute all-pairs") {
    // The PPJoin-style prefix filter claims ZERO false negatives: every
    // pair with J >= 3/5 must share a shingle inside both docs' rarity-
    // ordered prefixes. The simjoin oracle re-expresses the SAME filter,
    // so a prefix-length off-by-one (the classic bug in this family)
    // would drop identical pairs from both engines and stay green. Here
    // the candidate set is brute all-pairs over the reference shingle
    // sets — prefix completeness, verification math (8i >= 3(a+b)), and
    // the containment variant's small-into-large tie-break are all
    // checked exactly on generated corpora with planted near-dups.
    import graft.ext.SimJoinQueries
    def shinglesOf(text: String): Set[String] = {
      val toks = text.split(" ", -1)
      if (toks.length >= 3)
        (0 to toks.length - 3)
          .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").toSet
      else Set(text)
    }
    def check(docs: Seq[String], label: String): Unit = {
      val docsDf = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val sets = docs.zipWithIndex.map { case (t, i) => i.toLong -> shinglesOf(t) }
      val idx = SimJoinQueries.docIndexOf(docsDf)
      // brute exact-Jaccard pairs at J >= NUM/DEN
      val refSim = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        i = (sa & sb).size.toLong
        if i * (SimJoinQueries.DEN + SimJoinQueries.NUM) >=
          (sa.size + sb.size).toLong * SimJoinQueries.NUM
      } yield (a, b, i, sa.size + sb.size - i,
        i.toDouble / (sa.size + sb.size - i)))
        .sortBy(x => (x._1, x._2))
      val gotSim = SimJoinQueries.simjoinPrefixPlanOf(idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq.sortBy(x => (x._1, x._2))
      assert(gotSim === refSim, s"prefix simjoin diverged on $label")
      // brute containment pairs at |A∩B| >= CNUM/CDEN·|A|, small-into-large
      val refCon = (for {
        (a, sa) <- sets; (b, sb) <- sets
        if a != b &&
          (sb.size > sa.size || (sb.size == sa.size && b > a))
        i = (sa & sb).size.toLong
        if i * SimJoinQueries.CDEN >= sa.size.toLong * SimJoinQueries.CNUM
      } yield (a, b, i, sa.size.toLong, sb.size.toLong, i.toDouble / sa.size))
        .sortBy(x => (x._1, x._2))
      val gotCon = SimJoinQueries.containJoinOf(idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSeq
      assert(gotCon === refCon, s"containment join diverged on $label")
      assert(refSim.nonEmpty && refCon.nonEmpty,
        s"$label generated no qualifying pairs — test has no power")
    }
    val genDoc = Gen.chooseNum(3, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w")).map(_.mkString(" ")))
    val genCorpus = Gen.chooseNum(10, 18).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 4).zipWithIndex.foreach { case (docs0, ci) =>
      // plant near-threshold structure the random tail can't guarantee:
      // an exact twin (J = 1), a one-word paraphrase (J near threshold),
      // and a short doc quoted whole inside a longer one (containment
      // without symmetric similarity)
      val base = docs0.head
      val docs = docs0 ++ Seq(
        base,
        base + " x",
        "w z y x w y z x w",
        "x y z " + base + " w z y x w y z x w")
      check(docs, s"corpus $ci")
    }
  }

  test("tf-idf top-3 equals a scalar reference with exact HALF_UP rounding") {
    // Same blind-spot class as BM25: the mirror evaluates tf·ln(N/df)
    // token-for-token. The reference recomputes it with plain doubles and
    // replicates Spark's round() (BigDecimal HALF_UP at 6 places) so the
    // rank cut compares EXACTLY — rank is computed on the rounded value
    // with a term tie-break, so no tolerance band is needed.
    import graft.ext.TextQueries
    val genDoc = Gen.chooseNum(1, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("ant", "bee", "cat", "dog", "elk", "fox", ""))
        .map(_.mkString(" ")))
    val genCorpus = Gen.chooseNum(8, 20).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genCorpus, 5).zipWithIndex.foreach { case (docs, ci) =>
      val docsDf = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val n = docs.length.toLong
      val tf = docs.zipWithIndex.flatMap { case (t, i) =>
        t.split(" ", -1).groupBy(identity)
          .map { case (term, xs) => ((i.toLong, term), xs.length.toLong) }
      }.toMap
      val dfm = tf.keys.groupBy(_._2).map { case (term, ks) =>
        term -> ks.map(_._1).toSet.size.toLong }
      def rnd6(x: Double): Double =
        java.math.BigDecimal.valueOf(x)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      val ref = docs.indices.filter(_ < 50).flatMap { i =>
        val scored = tf.collect { case ((d, term), c) if d == i.toLong =>
          (term, rnd6(c * math.log(n.toDouble / dfm(term))))
        }.toSeq
        scored.sortBy(x => (-x._2, x._1)).take(3).zipWithIndex.map {
          case ((term, v), r) => (i.toLong, (r + 1).toLong, term, v)
        }
      }.sortBy(x => (x._1, x._2))
      val got = TextQueries.textTfidfOf(docsDf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        .toSeq
      assert(got === ref, s"tf-idf top-3 diverged on corpus $ci")
    }
  }

  test("histogram-refined quantiles equal sorted order statistics on generated facts") {
    // The ST5b histogram plan is already pinned row-for-row against ST5's
    // rank form under skew; BOTH share the ⌈q·n⌉ = (k·n+9) div 10 target-
    // rank convention, so this closes the loop with ground truth that
    // shares nothing: sort the values, read index ⌈q·n⌉ (1-based)
    // directly. Duplicated-heavy, negative, and constant distributions
    // are all generated — the bucket-width arithmetic ((hi−lo) div 1024
    // + 1) must survive hi == lo and sub-1024 ranges.
    import graft.analytics.StatsQueries
    val genGroup = for {
      n <- Gen.chooseNum(1, 120)
      base <- Gen.chooseNum(-5000L, 5000L)
      spread <- Gen.oneOf(0L, 3L, 1000L, 3000000L)
      vs <- Gen.listOfN(n, Gen.chooseNum(0L, math.max(spread, 1L)))
    } yield vs.map(base + _)
    val genFacts = Gen.chooseNum(1, 4).flatMap(g => Gen.listOfN(g, genGroup))
    samples(genFacts, 6).zipWithIndex.foreach { case (groups, ci) =>
      val rows = groups.zipWithIndex.flatMap { case (vs, g) =>
        vs.map(v => (s"t$g", v)) }
      val facts = rows.toDF("event_type", "cents")
      val ref = groups.zipWithIndex.flatMap { case (vs, g) =>
        val sorted = vs.sorted
        Seq(1, 5, 9).map { k =>
          val idx = (k * sorted.length + 9) / 10 // ceil(k·n/10), 1-based
          (s"t$g", k.toDouble / 10, sorted(idx - 1))
        }
      }.sortBy(x => (x._1, x._2))
      val got = StatsQueries.exactQuantilesOf(facts).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(got === ref, s"quantiles diverged on facts $ci")
    }
  }

  test("sweep-line peak concurrency equals brute interval membership") {
    // The sweep encodes half-open [ts, ts+15min) via its tie ordering
    // (ends sort before starts at equal timestamps) — a convention both
    // engines' mirrors share, so an off-by-one there (closed intervals
    // double-counting a touching end/start) would stay oracle-green. The
    // brute reference never sweeps: concurrency at a candidate start x is
    // a direct membership count #{i : s_i <= x < s_i + W}; the peak and
    // its first time must match. Timestamps sit on a 5-minute grid so
    // exact 15-minute touches (end == next start) occur constantly.
    import graft.analytics.BehaviorQueries
    val W = 15L * 60 * 1000000 // 15 min in micros
    val genEvent = for {
      typ <- Gen.oneOf("a", "b")
      slot <- Gen.chooseNum(0L, 40L)
    } yield (typ, slot * 5L * 60 * 1000000) // 5-min grid
    val genSet = Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, genEvent))
    samples(genSet, 5).zipWithIndex.foreach { case (evs, ci) =>
      val rows = evs.zipWithIndex.map { case ((typ, us), i) =>
        (i.toLong, typ, new java.sql.Timestamp(us / 1000)) }
      val df = rows.toDF("event_id", "event_type", "ts")
      val ref = rows.groupBy(_._2).toSeq.map { case (typ, es) =>
        val starts = es.map(_._3.getTime * 1000)
        val concAt = starts.distinct
          .map(x => x -> starts.count(s => s <= x && x < s + W).toLong)
        val peak = concAt.map(_._2).max
        val firstPeak = concAt.filter(_._2 == peak).map(_._1).min
        (typ, peak, firstPeak)
      }.sortBy(_._1)
      val got = BehaviorQueries.intervalConcurrencyOf(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === ref, s"concurrency diverged on set $ci")
    }
  }

  test("skyline frontier equals brute O(n²) dominance on generated points") {
    // The running-max rewrite (per-x max, then strict max over greater
    // balances) and its bucket-pruned distributed form both encode the
    // dominance DEFINITION indirectly, and the oracle states the same
    // rewrite — so the definition itself had no independent check. The
    // reference tests it literally: a distinct (bal, spend) pair is on
    // the frontier iff no OTHER distinct pair dominates it on both axes.
    // Duplicate pairs (same bal and spend) must survive together with
    // their count; equal-balance and equal-spend near-ties are generated
    // densely via a tiny value grid.
    import graft.analytics.StatsQueries
    val genPoint = Gen.zip(
      Gen.chooseNum(0L, 12L).map(_ * 50000L),
      Gen.chooseNum(0L, 12L).map(_ * 30000L))
    val genSet = Gen.chooseNum(10, 60).flatMap(n => Gen.listOfN(n, genPoint))
    samples(genSet, 5).zipWithIndex.foreach { case (ps, ci) =>
      val df = ps.toDF("bal_c", "spend_c")
      val grouped = ps.groupBy(identity).map { case (p, xs) =>
        (p._1, p._2, xs.size.toLong) }.toSeq
      val ref = grouped.filter { case (b, sp, _) =>
        !grouped.exists { case (b2, s2, _) =>
          (b2, s2) != (b, sp) && b2 >= b && s2 >= sp }
      }.sortBy(_._1)
      val got = StatsQueries.skylineOf(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === ref, s"skyline diverged on set $ci")
    }
  }

  test("KS drift statistic equals a scalar CDF-gap reference") {
    // The ppm quantization (each CDF side floor-divided BEFORE the
    // difference) and the stride-packed argmax (ties to the SMALLEST
    // length) are conventions both mirrors share. The reference walks the
    // sorted length dictionary with plain integer arithmetic.
    import graft.analytics.StatsQueries
    val genDoc = Gen.zip(Gen.oneOf("en", "fr"), Gen.chooseNum(1L, 12L))
    val genSet = Gen.chooseNum(6, 40).flatMap(n => Gen.listOfN(n, genDoc))
    samples(genSet, 5).zipWithIndex.foreach { case (ds, ci) =>
      val rows = ds.zipWithIndex.map { case ((l, nc), i) => (i.toLong, l, nc) }
      val df = rows.toDF("doc_id", "lang", "n_chars")
      val ref = rows.groupBy(_._2).toSeq.map { case (lang, xs) =>
        val byLen = xs.groupBy(_._3).toSeq.sortBy(_._1).map { case (nc, es) =>
          (nc, es.count(_._1 % 2 == 0).toLong, es.count(_._1 % 2 == 1).toLong)
        }
        val ta = byLen.map(_._2).sum
        val tb = byLen.map(_._3).sum
        var cca, ccb = 0L
        val gaps = byLen.map { case (nc, ca, cb) =>
          cca += ca; ccb += cb
          val fa = if (ta > 0) cca * 1000000L / ta else 0L
          val fb = if (tb > 0) ccb * 1000000L / tb else 0L
          (nc, math.abs(fa - fb))
        }
        val peak = gaps.map(_._2).max
        val at = gaps.filter(_._2 == peak).map(_._1).min
        (lang, ta, tb, peak, at)
      }.sortBy(_._1)
      val got = StatsQueries.lengthKsOf(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
      assert(got === ref, s"KS diverged on set $ci")
    }
  }

  test("banded near-dup census equals brute Hamming pairs (pigeonhole recall 1)") {
    // The multi-index claim: any two 64-bit hashes within Hamming <= 3
    // MUST share one of the 4 disjoint 16-bit bands, so the equi-join
    // candidate set loses NO qualifying pair. Both mirrors band the same
    // way; the reference compares every pair's popcount directly. Planted
    // variants flip 0-3 random bits (duplicates exercise the d = 0 row);
    // random satellites exercise the reject path.
    import graft.ext.MultimodalQueries
    val t = MultimodalQueries.NEARDUP_T
    val genCase = for {
      bases <- Gen.listOfN(10, Gen.zip(
        Gen.chooseNum(0L, (1L << 32) - 1), Gen.chooseNum(0L, (1L << 32) - 1)))
      plants <- Gen.listOfN(10, Gen.zip(Gen.chooseNum(0, 9),
        Gen.chooseNum(0, 3), Gen.listOfN(3, Gen.chooseNum(0, 63))))
      sat <- Gen.listOfN(8, Gen.zip(
        Gen.chooseNum(0L, (1L << 32) - 1), Gen.chooseNum(0L, (1L << 32) - 1)))
    } yield (bases, plants, sat)
    samples(genCase, 4).zipWithIndex.foreach { case ((bases, plants, sat), ci) =>
      // Random k may be >0 in every plant (and XOR flips can cancel), so
      // force one EXACT duplicate per case — the d = 0 census row must
      // always exist and is asserted below, not merely hoped for.
      val planted = plants.map { case (bi, k, flips) =>
        val (hi0, lo0) = bases(bi)
        flips.take(k).foldLeft((hi0, lo0)) { case ((hi, lo), p) =>
          if (p >= 32) (hi ^ (1L << (p - 32)), lo) else (hi, lo ^ (1L << p))
        }
      } :+ bases.head
      val hashes = (bases ++ planted ++ sat).zipWithIndex
        .map { case ((hi, lo), i) => (i.toLong, hi, lo) }
      val df = hashes.toDF("doc_id", "dhash_hi", "dhash_lo")
      val ref = (for {
        (a, ahi, alo) <- hashes; (b, bhi, blo) <- hashes if a < b
        d = java.lang.Long.bitCount(ahi ^ bhi) +
          java.lang.Long.bitCount(alo ^ blo) if d <= t
      } yield (d.toLong, a, b))
        .groupBy(_._1).toSeq.map { case (d, xs) =>
          (d, xs.size.toLong, xs.map(_._2).min, xs.map(_._3).max) }
        .sortBy(_._1)
      val got = MultimodalQueries.mediaNearDupOf(
        MultimodalQueries.bandHashes(df)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got === ref, s"near-dup census diverged on case $ci")
      assert(ref.exists(_._1 == 0L) && ref.nonEmpty,
        s"case $ci must exercise the d = 0 (exact-duplicate) census row")
    }
  }

  test("convention witnesses: minimal fixtures where the alternative convention differs") {
    // Each pinned convention gets one deterministic minimal case whose
    // expected value DIFFERS under the plausible-but-wrong alternative —
    // a reader can see from the fixture alone which rule is in force,
    // and a convention flip fails here with an obvious counterexample
    // rather than somewhere inside a generated corpus.

    // 1) Sweep-line half-open intervals: [0, 15min) and [15min, 30min)
    //    touch exactly. Closed intervals would overlap at the boundary
    //    (peak 2); half-open must report peak 1.
    val touching = Seq(
      (0L, "t", new java.sql.Timestamp(0L)),
      (1L, "t", new java.sql.Timestamp(15L * 60 * 1000)))
      .toDF("event_id", "event_type", "ts")
    val sweep = graft.analytics.BehaviorQueries
      .intervalConcurrencyOf(touching).collect()
    assert(sweep.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("t", 1L)), "touching intervals must NOT overlap (half-open)")

    // 2) BPE overlap rule: aaaaa + (a,a) -> [aa, aa, a]. This fixture
    //    discriminates exactly two alternatives: a rescan-after-merge
    //    variant produces [aaaa, a] (it re-merges the merged pair), and a
    //    rightmost-first scan produces [a, aa, aa]. It CANNOT distinguish
    //    the no-skip variant (compare the merged token against the next
    //    symbol before advancing): for a single (ls, rs) rule the merged
    //    symbol ls+rs can never equal ls again, so no-skip is
    //    extensionally identical to the canonical skip-one scan here.
    val fold = Seq(Tuple3(Seq("a", "a", "a", "a", "a"), "a", "a"))
      .toDF("s", "ls", "rs")
      .select(expr(graft.ext.TextQueries.bpeFoldExprOn("s")).as("d"))
      .collect().head.getString(0)
    assert(fold.split("\u0001").toSeq === Seq("aa", "aa", "a"),
      "canonical BPE: scan resumes AFTER a merged pair")

    // 3) Skyline dominance is WEAK on each axis but requires a DISTINCT
    //    pair: an exact duplicate pair survives (with count 2), while an
    //    equal-balance higher-spend point kills its lesser.
    val sky = graft.analytics.StatsQueries.skylineOf(Seq(
      (100L, 50L), (100L, 50L), (100L, 40L)).toDF("bal_c", "spend_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sky === Seq((100L, 50L, 2L)),
      "duplicates survive together; equal-axis dominance kills the lesser")

    // 4) KS ppm quantization FLOORS each CDF side: one cohort of 3 docs
    //    at lengths 1,1,2 vs one of 3 at length 2. At length 1:
    //    floor(2·1e6/3) − 0 = 666666 — a round-half-up variant would
    //    report 666667.
    val ks = graft.analytics.StatsQueries.lengthKsOf(Seq(
      (0L, "en", 1L), (2L, "en", 1L), (4L, "en", 2L),
      (1L, "en", 2L), (3L, "en", 2L), (5L, "en", 2L))
      .toDF("doc_id", "lang", "n_chars"))
      .collect().map(r => (r.getLong(3), r.getLong(4))).toSeq
    assert(ks === Seq((666666L, 1L)),
      "per-side flooring: 666666 ppm at length 1, not 666667")
  }
}
