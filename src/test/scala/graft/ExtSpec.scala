package graft

import graft.ext._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant tests for the training-data-pipeline extension operators. */
class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf0001
  import spark.implicits._

  test("exact dedup: uniques never exceed doc counts") {
    DedupQueries.dedupExact(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_unique") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_exact_dupes") ===
        r.getAs[Long]("n_docs") - r.getAs[Long]("n_unique"))
    }
  }

  test("minhash LSH estimates stay in [0,1] and pairs are ordered") {
    DedupQueries.dedupMinhashLsh(spark, sf).collect().foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      assert(est >= 0.25 && est <= 1.0)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("cluster resolution: true components, bounded rounds, no cartesian") {
    // synthetic pair set: a 4-chain (1-2-3-4), a triangle (10,11,12), an
    // isolated pair (20,21) — labels must be the per-component minimum
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val labels = DedupQueries.clusterLabels(spark, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // chain diameter 3 → propagate+jump needs few rounds, well under cap
    assert(DedupQueries.lastCcIters >= 1 && DedupQueries.lastCcIters <= 4)

    val df = DedupQueries.dedupClusters(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(DedupQueries.lastCcIters <= 12)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // every cluster is a real near-dup group with a canonical member
      assert(r.getAs[Long]("n_members") >= 2L)
      assert(r.getAs[Long]("canonical_doc") >= r.getAs[Long]("cluster_id"))
    }
    // clusters partition the paired-doc set: member count == node count
    val nodes = DedupQueries.dedupMinhashLsh(spark, sf)
      .select($"doc_a").union(
        DedupQueries.dedupMinhashLsh(spark, sf).select($"doc_b"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_members")).sum === nodes)
  }

  test("cluster resolution: two-center false fixpoint is not accepted") {
    // Round-19 regression (advice r18): the path 1-4-3-5-2 contracts in
    // ONE large-star/small-star round to {(4,1),(3,1),(3,2),(5,2)} — a
    // set whose u-side and v-side are disjoint but where node 3 links
    // to TWO centers. The old "no node on both sides" fixpoint accepted
    // it, splitting one component into labels {1} and {2} and giving
    // doc 3 two labels. The strengthened star-forest check (disjoint
    // sides AND unique u) must keep iterating until everything labels
    // to the true component minimum, 1.
    val pairs = Seq((1L, 4L), (3L, 4L), (3L, 5L), (2L, 5L))
      .toDF("doc_a", "doc_b")
    val labels = DedupQueries.clusterLabels(spark, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length === labels.map(_._1).distinct.length,
      s"a doc got two labels: ${labels.sorted.mkString(", ")}")
    assert(labels.toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L))
    assert(DedupQueries.lastCcIters <= 6)
  }

  test("dedup keep: survivors + dropped partition the corpus per source") {
    val clusters = DedupQueries.dedupClusters(spark, sf).collect()
    val totalDropped = clusters.map(r =>
      r.getAs[Long]("n_members") - 1L).sum // one canonical kept per cluster
    val keep = DedupQueries.dedupKeep(spark, sf).collect()
    keep.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ===
        r.getAs[Long]("n_docs"))
    }
    assert(keep.map(_.getAs[Long]("n_dropped")).sum === totalDropped)
    assert(keep.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
  }

  test("semantic dedup: hierarchical blocker depth and exact-dup recall") {
    // Round 19: the semantic-dedup blocker is hierarchical — depth grows
    // with corpus size so expected block size stays <= SEM_TARGET and
    // pair expansion stays LINEAR in n (the r18 scale sweep measured the
    // flat blocker at 12.1x wall for 10x data).
    // Round 20: the centroid count K itself scales (ivfK below), so the
    // top-level lists are already ~IVF_TARGET_LIST in expectation and the
    // depth schedule collapses to {0, 1} — one refinement level is all a
    // corpus-tracking quantizer ever needs. Pin BOTH laws:
    assert(SimilarityQueries.ivfK(0) === 16)
    assert(SimilarityQueries.ivfK(2000) === 16)    // sf0.1: unchanged tiers
    assert(SimilarityQueries.ivfK(16384) === 16)   // floor edge
    assert(SimilarityQueries.ivfK(16385) === 17)   // first scaled K
    assert(SimilarityQueries.ivfK(20000) === 20)   // sf1 tier
    assert(SimilarityQueries.ivfK(200000) === 196) // sf10 tier
    assert(SimilarityQueries.ivfK(1000000000L) === 976563)
    assert(SimilarityQueries.semDepth(500) === 0)
    assert(SimilarityQueries.semDepth(2048) === 0)
    assert(SimilarityQueries.semDepth(2049) === 1)
    assert(SimilarityQueries.semDepth(20000) === 1) // the sf1 tier
    assert(SimilarityQueries.semDepth(32769) === 1) // dynamic K: depth<=1
    assert(SimilarityQueries.semDepth(Long.MaxValue) === 1)
    // Behavioral pin at depth 1 on a synthetic 3000-vector corpus with
    // planted EXACT duplicates: identical vectors have identical centroid
    // cosines, hence identical rank tuples — the hierarchy can never
    // split an exact-dup pair, so every planted pair must surface at
    // cos ~ 1.0 (random-vector cosines stay far below).
    val dim = 64
    def emb(id: Long): Array[Float] = Array.tabulate(dim) { g =>
      // splitmix64 finalizer: a plain LCG of (id, g) leaves emb(a) and
      // emb(b) offset by the same constant in every dimension, creating
      // accidental near-identical pairs; the avalanche mix decorrelates
      var z = id * 6364136223846793005L + (g + 1) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      ((z >>> 33).toDouble / (1L << 30).toDouble - 1.0).toFloat
    }
    val planted = (0 until 6).map(i => (i * 97L, 3000L + i))
    val rows = (0L until 3000L).map(v => (v, emb(v))) ++
      planted.map { case (src, dup) => (dup, emb(src)) }
    val dir = TestSpark.tempDir("semdedup").toString
    rows.toDF("vec_id", "embedding").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SimilarityQueries.semanticDedup(spark, dir)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cos_sim")))
    val found = out.filter(_._3 > 0.9999).map(p => (p._1, p._2)).toSet
    planted.foreach { p =>
      assert(found.contains(p), s"exact-dup pair $p missed by the " +
        s"hierarchical blocker; surfaced near-1 pairs: $found")
    }
    // and the impostor bar: every non-planted surfaced pair is far from 1
    out.filter(p => !planted.contains((p._1, p._2))).foreach { p =>
      assert(p._3 < 0.9, s"unexpected near-duplicate cosine: $p")
    }
  }

  test("dimension stats: 64 dims, std>=0, min<=mean<=max, interp clamps") {
    val rows = SimilarityQueries.embedDimStats(spark, sf).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val (mean, std) = (r.getAs[Double]("mean"), r.getAs[Double]("std"))
      assert(std >= 0.0)
      assert(r.getAs[Double]("vmin") <= mean && mean <= r.getAs[Double]("vmax"))
    }
    // interpolation stays inside each user's observed value envelope
    val interp = graft.analytics.EventQueries.tsInterpolate(spark, sf)
      .groupBy($"user_id")
      .agg(min($"interp_value").as("lo"), max($"interp_value").as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val obs = Tables.events(spark, sf)
      .groupBy($"user_id").agg(min($"value").as("lo"), max($"value").as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    obs.foreach { case (u, (lo, hi)) =>
      val (ilo, ihi) = interp(u)
      assert(ilo >= lo - 1e-9 && ihi <= hi + 1e-9)
    }
  }

  test("curation pipeline: stage counts partition every (lang, source) cell") {
    // plan pin: the quality+hash pass reads documents ONCE (plus the
    // cluster table's own doc join) — a regression back to the
    // rank-subset self-join would scan and re-hash the corpus twice
    val plan = CurateQueries.curate(spark, sf)
      .queryExecution.executedPlan.toString
    val docScans = "documents\\.parquet".r.findAllIn(plan).length
    assert(docScans <= 2, s"documents scanned $docScans times:\n${plan.take(1500)}")
    val rows = CurateQueries.curate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_lowq") + r.getAs[Long]("n_exact_dup") +
        r.getAs[Long]("n_near_dup") + r.getAs[Long]("n_kept") ===
        r.getAs[Long]("n_docs"))
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
    // the pipeline must actually drop something at each stage on this corpus
    assert(rows.map(_.getAs[Long]("n_lowq")).sum > 0)
    assert(rows.map(_.getAs[Long]("n_kept")).sum > 0)
  }

  test("X3o range search: true counts match a local brute replay, found <= true") {
    import graft.ext.SimilarityQueries
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
      .toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val trueCounts = (0L until 20L).map { q =>
      q -> emb.count { case (v, ev) => v != q && cos(emb(q), ev) >= 0.3 }.toLong
    }.toMap
    val rows = SimilarityQueries.annRange(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (q, nt, nf, rp) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nt === trueCounts(q), s"q=$q true count diverged from brute replay")
      assert(nf <= nt, s"q=$q found exceeds true (impossible: same threshold)")
      assert(rp === 100L * nf / math.max(nt, 1L), s"q=$q recall formula broken")
    }
    // the radius actually selects something at this SF
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("image near-dup: banded join census equals brute-force all-pairs") {
    import graft.ext.MultimodalQueries
    // local brute truth from the pixel formula (the oracle's restatement):
    // every pair within Hamming <= 3 must be found — the pigeonhole
    // exactness claim, checked against a path with no banding at all
    def dhashOf(id: Long): Long = {
      val w = 16 + (id % 7).toInt * 3
      val h = 9 + (id % 5).toInt * 2
      def v(x: Int, y: Int) = (x * 7 + y * 13 + id.toInt * 31) % 256
      var bits = 0L
      for (j <- 0 until 8; i <- 0 until 8) {
        val y = j * h / 8
        if (v(i * w / 9, y) > v((i + 1) * w / 9, y))
          bits |= 1L << (j * 8 + i)
      }
      bits
    }
    val hs = (0L until 120L).map(id => id -> dhashOf(id)).toMap
    val brute = (for {
      a <- 0L until 120L; b <- (a + 1) until 120L
      d = java.lang.Long.bitCount(hs(a) ^ hs(b))
      if d <= 3
    } yield (d.toLong, a, b)).toSeq
    val expect = brute.groupBy(_._1).map { case (d, ps) =>
      d -> (ps.length.toLong, ps.map(_._2).min, ps.map(_._3).max)
    }
    val got = MultimodalQueries.mediaNearDup(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSet == expect.keySet)
    got.foreach { r =>
      assert(expect(r.getLong(0)) ==
        ((r.getLong(1), r.getLong(2), r.getLong(3))),
        s"distance ${r.getLong(0)} census diverged from brute force")
    }
    // the fixture family must exercise both tiers: hash-identical images
    // (d = 0, the exact tier) AND true near-dups (0 < d <= 3)
    assert(expect.contains(0L) && expect.keySet.exists(d => d > 0L))
  }

  test("XC4 corpus report: equals a full local replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"source", $"lang", $"n_chars", $"text")
      .as[(String, String, Long, String)].collect()
    val stop = Set("the", "a", "of", "and", "to", "in")
    def nTok(t: String): Long = "\\S{1,4}".r.findAllIn(t).size.toLong
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def quality(t: String): Long = {
      val toks = t.split(" ", -1).toSeq
      val tc = toks.length.toLong
      val pc = t.count(c => ".,!?;:".contains(c)).toLong
      val sc = toks.count(stop).toLong
      if (tc >= 10 && tc <= 1000 && pc.toDouble / tc < 0.2 &&
        sc.toDouble / tc >= 0.01) 1L else 0L
    }
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val n = ds.length.toLong
      val uniq = ds.map(d => md5hex(d._4)).distinct.length.toLong
      val sortedChars = ds.map(_._3).sorted
      val p50 = sortedChars(((n + 1) / 2 - 1).toInt)
      val topLang = ds.groupBy(_._2).view.mapValues(_.length).toSeq
        .sortBy { case (l, c) => (-c, l) }.head._1
      src -> (n, ds.map(d => nTok(d._4)).sum,
        ds.map(_._2).distinct.length.toLong,
        (n - uniq) * 10000 / n,
        ds.map(d => quality(d._4)).sum * 10000 / n, p50, topLang)
    }
    val got = graft.ext.CurateQueries.corpusReport(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val e = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getString(7)) === e, r.getString(0))
    }
  }

  test("XC5 contrastive pairs: positives are max-est partners, negatives filtered") {
    import spark.implicits._
    val pairs = DedupQueries.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_jaccard")))
    val sym = pairs.flatMap { case (a, b, e) => Seq((a, b, e), (b, a, e)) }
    val srcOf = Tables.documents(spark, sf).select($"doc_id", $"source")
      .as[(Long, String)].collect().toMap
    val rows = graft.ext.CurateQueries.contrastivePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val (pos, neg) = rows.partition(_._2 == "pos")
    // positives: exactly the anchors (<20) with a partner, each at its
    // max-est (tie: min id) partner, score restated in ppm
    val expectPos = sym.filter(_._1 < 20).groupBy(_._1).map { case (a, ps) =>
      val best = ps.minBy(p => (-p._3, p._2))
      (a, "pos", 1L, best._2, (best._3 * 1000000).toLong)
    }.toSet
    assert(pos.toSet === expectPos)
    // negatives: 3 per anchor, different source, never a near-dup partner
    val partner = sym.map(p => (p._1, p._2)).toSet
    assert(neg.length === 20 * 3)
    neg.foreach { case (a, _, rnk, c, sc) =>
      assert(rnk >= 1 && rnk <= 3 && sc === 0L)
      assert(srcOf(a) !== srcOf(c), s"neg $c shares source with anchor $a")
      assert(!partner.contains((a, c)), s"near-dup $c taught as negative of $a")
    }
    // the md5 draw is deterministic: re-running yields the identical set
    val again = graft.ext.CurateQueries.contrastivePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(again.toSeq === rows.toSeq)
  }

  test("XC2 quality classifier: audit equals a full local NB replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
    val stop = Set("the", "a", "of", "and", "to", "in")
    def featsOf(text: String): (Seq[String], Long) = {
      val toks = text.split(" ", -1).toSeq
      val tc = toks.length.toLong
      val pc = text.count(c => ".,!?;:".contains(c)).toLong
      val sc = toks.count(stop).toLong
      val y = if (tc >= 10 && tc <= 1000 && pc.toDouble / tc < 0.2 &&
        sc.toDouble / tc >= 0.01) 1L else 0L
      val fs = toks ++ Seq(
        s"__len_${math.min(tc / 10, 20L)}",
        s"__punct_${math.min(100 * pc / tc, 30L)}",
        s"__stop_${math.min(100 * sc / tc, 20L)}")
      (fs, y)
    }
    val perDoc = docs.map { case (id, l, t) =>
      val (fs, y) = featsOf(t); (id, l, fs, y)
    }
    val cnt = scala.collection.mutable.Map[String, (Long, Long)]()
    perDoc.foreach { case (_, _, fs, y) =>
      fs.foreach { t =>
        val (n1, n) = cnt.getOrElse(t, (0L, 0L))
        cnt(t) = (n1 + y, n + 1)
      }
    }
    val t1 = cnt.values.map(_._1).sum
    val t0 = cnt.values.map(v => v._2 - v._1).sum
    val v = cnt.size.toLong
    def w(t: String): Long = {
      val (n1, n) = cnt(t)
      math.floor(math.log((n1 + 1).toDouble / (t1 + v)) * 1e6).toLong -
        math.floor(math.log((n - n1 + 1).toDouble / (t0 + v)) * 1e6).toLong
    }
    val d1 = perDoc.count(_._4 == 1L).toLong
    val d = perDoc.length.toLong
    val bias = math.floor(math.log((d1 + 1).toDouble / (d - d1 + 1)) * 1e6).toLong
    val expect = perDoc.groupBy(_._2).map { case (l, ds) =>
      val rows = ds.map { case (_, _, fs, y) =>
        val m = if (fs.map(w).sum + bias > 0) 1L else 0L
        (y, m)
      }
      val n = rows.length.toLong
      val agree = rows.count(r => r._1 == r._2).toLong
      l -> (n, rows.map(_._1).sum, rows.map(_._2).sum, agree,
        rows.count(r => r._1 == 1L && r._2 == 1L).toLong, 10000L * agree / n)
    }
    val got = CurateQueries.qualityClassifier(spark, sf).collect()
    assert(got.length == expect.size)
    got.foreach { r =>
      val e = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)) == e, s"diverged for ${r.getString(0)}")
      // confusion identity: agree = n - rule - model + 2*both
      assert(r.getLong(4) === r.getLong(1) - r.getLong(2) - r.getLong(3)
        + 2 * r.getLong(5))
    }
    // the weak label has both classes at this SF (the training is real)
    assert(d1 > 0 && d1 < d)
  }

  test("SQ8 ANN: exact scores, candidates from the code scan, high recall") {
    val sq8 = SimilarityQueries.knnSq8(spark, sf).collect()
    val brute = SimilarityQueries.knnBrute(spark, sf).collect()
    // same queries, 5 ranked hits each, exact cosine after re-rank
    assert(sq8.map(_.getAs[Long]("q_id")).distinct.length === 20)
    val bruteScore = brute.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    // any (q, vec) both tiers return must carry the identical exact score
    sq8.foreach { r =>
      val k = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      bruteScore.get(k).foreach(b =>
        assert(b === r.getAs[Double]("cos_sim")))
    }
    // int8 quantization of 64-dim vectors preserves most of the top-5:
    // require ≥ 60% overlap with brute force overall (deterministic data)
    val overlap = sq8.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .count(bruteScore.contains)
    assert(overlap >= (brute.length * 6) / 10, s"recall too low: $overlap/${brute.length}")
  }

  test("learned-IVF ANN: exact scores and recall >= brute-force overlap bar") {
    val ivf2 = SimilarityQueries.knnIvf2(spark, sf).collect()
    val brute = SimilarityQueries.knnBrute(spark, sf).collect()
    assert(ivf2.map(_.getAs[Long]("q_id")).distinct.length === 20)
    val bruteScore = brute.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    // re-rank is exact: any (q, vec) both tiers return carries the same score
    ivf2.foreach { r =>
      val k = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      bruteScore.get(k).foreach(b => assert(b === r.getAs[Double]("cos_sim")))
    }
    // the learned coarse quantizer with nprobe=2 must keep >= 60% of the
    // true top-5 (deterministic data, same bar as the SQ8 tier)
    val overlap = ivf2.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .count(bruteScore.contains)
    assert(overlap >= (brute.length * 6) / 10, s"recall too low: $overlap/${brute.length}")
    // and refinement must not lose to the unrefined seed pick
    val ivf1 = SimilarityQueries.knnIvf(spark, sf).collect()
    val overlap1 = ivf1.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .count(bruteScore.contains)
    assert(overlap >= overlap1 - 5,
      s"k-means refinement degraded recall: $overlap vs seed $overlap1")
  }

  test("X2k dedup eval: counts equal the two tiers' real pair-set overlap") {
    val lsh = DedupQueries.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SimJoinQueries.simjoinPrefix(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = SimJoinQueries.dedupEval(spark, sf).collect().head
    assert(row.getAs[Long]("n_lsh") === lsh.size)
    assert(row.getAs[Long]("n_exact") === exact.size)
    assert(row.getAs[Long]("n_both") === (lsh & exact).size)
    val rec = row.getAs[Long]("rec_ppm")
    assert(rec >= 0 && rec <= 1000000)
  }

  test("X3h PQ ANN: exact re-rank scores, recall >= the coarse-tier bar") {
    val pq = SimilarityQueries.knnPq(spark, sf).collect()
    val brute = SimilarityQueries.knnBrute(spark, sf).collect()
    assert(pq.map(_.getAs[Long]("q_id")).distinct.length === 20)
    val bruteScore = brute.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    // re-rank is exact: shared (q, vec) pairs carry identical scores
    pq.foreach { r =>
      val k = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      bruteScore.get(k).foreach(b => assert(b === r.getAs[Double]("cos_sim")))
    }
    // a 4x8 codebook is the coarsest tier; C=20 ADC candidates must still
    // keep half of the true top-5 on this data
    val overlap = pq.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .count(bruteScore.contains)
    assert(overlap >= brute.length / 2,
      s"PQ recall too low: $overlap/${brute.length}")
  }

  test("X3l IVF-PQ: predictions confined to probed lists, exact scores, recall bar") {
    val ivfpq = SimilarityQueries.knnIvfPq(spark, sf).collect()
    val brute = SimilarityQueries.knnBrute(spark, sf).collect()
    assert(ivfpq.map(_.getAs[Long]("q_id")).distinct.length === 20)
    val bruteScore = brute.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    // the re-rank is exact: pairs shared with brute carry identical scores
    ivfpq.foreach { r =>
      val k = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      bruteScore.get(k).foreach(b => assert(b === r.getAs[Double]("cos_sim")))
    }
    // the IVF pruning contract: every prediction lives in a probed list
    val ranked = SimilarityQueries.rankedAssign(spark, sf).collect()
    val assign = ranked.filter(_.getAs[Int]("crn") == 1)
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("c_id")).toMap
    val probed = ranked.filter(r =>
      r.getAs[Long]("vec_id") < 20 && r.getAs[Int]("crn") <= 4)
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    ivfpq.foreach { r =>
      val (q, v) = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      assert(probed(q).contains(assign(v)), s"($q,$v) outside probed lists")
    }
    // composed recall: the product of the two approximations still keeps
    // >= 40% of the true top-5 (measured 45-46% at sf0.001 and sf0.01)
    val overlap = ivfpq.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
      .count(bruteScore.contains)
    assert(overlap >= 2 * brute.length / 5,
      s"IVF-PQ recall too low: $overlap/${brute.length}")
  }

  test("X3m filtered ANN: predicate holds, scores exact, recall vs filtered brute") {
    val rows = SimilarityQueries.knnFiltered(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("q_id")).distinct.length === 20)
    // every returned neighbor satisfies the predicate — the property
    // post-filtering a plain top-5 would NOT give you
    val labels = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r =>
      assert(labels(r.getAs[Long]("vec_id")) === 1, s"predicate violated: $r"))
    // filtered brute-force truth: exact top-5 among label=1 vectors
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding", $"label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000).toLong).toArray,
        r.getInt(2)))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val truth = e.filter(_._1 < 20).flatMap { q =>
      e.filter(v => v._3 == 1 && v._1 != q._1)
        .map(v => (q._1, v._1, cos(q._2, v._2)))
        .sortBy(t => (-t._3, t._2)).take(5)
    }
    val truthSet = truth.map(t => (t._1, t._2)).toSet
    val truthScore = truth.map(t => (t._1, t._2) -> t._3).toMap
    // any pair both return must carry the identical exact cosine
    rows.foreach { r =>
      val k = (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))
      truthScore.get(k).foreach(b =>
        assert(math.abs(b - r.getAs[Double]("cos_sim")) < 1e-12))
    }
    // the selectivity-adaptive depth (ceil(4/s) clamped to K=16; the
    // ~10% label saturates the clamp -> all lists probed) keeps >= 60%
    // of the true filtered top-5 (the plain-IVF bar; the audit query
    // pins the exact numbers per selectivity tier)
    val overlap = rows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).count(truthSet)
    assert(overlap >= (truthSet.size * 6) / 10,
      s"filtered recall too low: $overlap/${truthSet.size}")
  }

  test("X3m' filtered-ANN audit: adaptive depth tracks selectivity, recall holds at both tiers") {
    val rows = SimilarityQueries.knnFilteredAudit(spark, sf).collect()
      .map(r => r.getAs[String]("pred") -> r).toMap
    assert(rows.keySet === Set("label_eq_1", "label_ge_5"))
    val rare = rows("label_eq_1"); val common = rows("label_ge_5")
    // ~10% selectivity saturates the parity clamp: all K=16 lists probed
    // -> the search is exact brute-over-matching, recall EXACTLY 1.0
    assert(rare.getAs[Long]("nprobe") === 16L)
    assert(rare.getAs[Long]("recall_ppm") === 1000000L)
    // ~50% selectivity picks an intermediate depth: strictly fewer lists
    // than the clamp, strictly more than the unfiltered base, and the
    // plain-IVF 60% bar still holds
    val np = common.getAs[Long]("nprobe")
    assert(np > 4L && np < 16L, s"expected intermediate depth, got $np")
    assert(common.getAs[Long]("recall_ppm") >= 600000L,
      s"50%-tier recall ${common.getAs[Long]("recall_ppm")}")
    // the depths differ — the rule tracks the predicate, not a constant
    assert(rare.getAs[Long]("nprobe") > np)
  }

  test("X3n delete-path audit: both legs serve full k for surviving queries") {
    val rows = SimilarityQueries.annDeleteEval(spark, sf).collect()
    assert(rows.map(_.getString(0)).sorted ===
      Array("ivf_post_delete", "ivf_retrained"))
    // 17 surviving queries (20 minus vec_ids 3/10/17) x top-5: a deleted
    // query is not served, and neither leg under-returns — the tombstone
    // filter thins lists but nprobe=2 over K=16 still has >=5 candidates
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pred") === 85L, r.getString(0))
      assert(r.getAs[Long]("hits") > 0L && r.getAs[Long]("recall_ppm") > 0L)
    }
  }

  test("X3k OPQ layout search: chosen maximizes recall, never below identity PQ") {
    val rows = SimilarityQueries.annOpq(spark, sf).collect()
      .map(r => (r.getAs[String]("variant"), r.getAs[Long]("recall_ppm"),
        r.getAs[Boolean]("chosen")))
    assert(rows.map(_._1).sorted ===
      Array("opq_interleave", "opq_rotate", "opq_snake", "pq_identity"))
    // every arm predicts the full 20x5 surface
    assert(rows.length === 4 && rows.count(_._3) === 1)
    val chosen = rows.find(_._3).get
    val identity = rows.find(_._1 == "pq_identity").get
    assert(chosen._2 === rows.map(_._2).max,
      s"chosen arm must carry max recall: $rows")
    // the OPQ contract: the searched layout never does worse than plain PQ
    // (identity is in the family and wins ties, so this holds by
    // construction — the assertion pins the selection plumbing)
    assert(chosen._2 >= identity._2, s"OPQ selection regressed: $rows")
  }

  test("X3i ANN eval: per-method rows equal the real prediction/truth overlap") {
    val truth = SimilarityQueries.knnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val collected: Map[String, Set[(Long, Long)]] = Map(
      "ivf" -> SimilarityQueries.knnIvf(spark, sf),
      "ivf2" -> SimilarityQueries.knnIvf2(spark, sf),
      "ivfpq" -> SimilarityQueries.knnIvfPq(spark, sf),
      "lsh" -> SimilarityQueries.knnLsh(spark, sf),
      "pq" -> SimilarityQueries.knnPq(spark, sf),
      "sq8" -> SimilarityQueries.knnSq8(spark, sf))
      .map { case (nm, df) => nm -> df.collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet }
    val rows = SimilarityQueries.annEval(spark, sf).collect()
    assert(rows.map(_.getAs[String]("method")).toSeq ===
      Seq("ivf", "ivf2", "ivfpq", "lsh", "pq", "sq8"))
    rows.foreach { r =>
      val m = r.getAs[String]("method")
      val preds = collected(m)
      assert(r.getAs[Long]("n_pred") === preds.size.toLong, m)
      val hits = (preds & truth).size.toLong
      assert(r.getAs[Long]("hits") === hits, m)
      assert(r.getAs[Long]("recall_ppm") ===
        1000000L * hits / truth.size, m)
    }
    // the declared recall bars, now read off the audit row itself
    val ppm = rows.map(r =>
      r.getAs[String]("method") -> r.getAs[Long]("recall_ppm")).toMap
    assert(ppm("pq") >= 500000L, s"PQ recall bar: $ppm")
    assert(ppm("sq8") >= 600000L, s"SQ8 recall bar: $ppm")
    assert(ppm("ivf2") >= 600000L, s"IVF2 recall bar: $ppm")
  }

  test("X3j ANN frontier: recall is monotone in nprobe; depth-8 beats depth-1") {
    val rows = SimilarityQueries.annFrontier(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq === Seq(1L, 2L, 4L, 8L))
    val recalls = rows.map(_.getAs[Long]("recall_ppm"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in nprobe: ${recalls.mkString(",")}")
    val preds = rows.map(_.getAs[Long]("n_pred"))
    assert(preds.zip(preds.tail).forall { case (a, b) => a <= b },
      s"candidate volume not monotone: ${preds.mkString(",")}")
    // probing half the lists must recover most of the true top-5 here
    assert(recalls.last >= 800000L, s"depth-8 recall: ${recalls.last}")
    rows.foreach { r =>
      assert(r.getAs[Long]("hits") <= r.getAs[Long]("n_pred"))
      assert(r.getAs[Long]("recall_ppm") <= 1000000L)
    }
  }

  test("X3q rerank frontier: recall monotone in depth, exact candidate budgets") {
    val rows = SimilarityQueries.annRerankFrontier(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("rerank_depth")).toSeq ===
      Seq(5L, 10L, 20L, 40L))
    val recalls = rows.map(_.getAs[Long]("recall_ppm"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in rerank depth: ${recalls.mkString(",")}")
    // each depth re-ranks down to exactly 5 predictions per query
    val nQ = rows.head.getAs[Long]("n_pred") / 5L
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pred") === nQ * 5L)
      assert(r.getAs[Long]("hits") <= r.getAs[Long]("n_pred"))
      assert(r.getAs[Long]("recall_ppm") <= 1000000L)
    }
    // a deep exact re-rank must repair most of ADC's quantization loss
    // (same bar as the PQ arm in the eval tier — at sf0.001 the 16-word
    // codebooks cap what any depth can recover)
    assert(recalls.last >= 600000L, s"depth-40 recall: ${recalls.last}")
    assert(recalls.last > recalls.head,
      "deeper re-rank shows no benefit — sweep is vacuous")
  }

  test("XC3 k-anonymity: census equals a brute class-size replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"source", $"n_chars").as[(String, String, Long)]
      .collect()
    val classes = docs.groupBy(d => (d._1, d._2, d._3 / 50))
      .view.mapValues(_.size.toLong).toSeq
    val expect = classes.groupBy(_._1._1).map { case (lang, cs) =>
      val small = cs.filter(_._2 < 5)
      lang -> (cs.size.toLong, small.size.toLong, small.map(_._2).sum,
        cs.map(_._2).min, cs.map(_._2).sum)
    }
    val got = graft.ext.CurateQueries.kAnonymity(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (nc, sc, risk, mn, nd) = expect(r.getString(0))
      assert(r.getLong(1) === nc)
      assert(r.getLong(2) === sc)
      assert(r.getLong(3) === risk)
      assert(r.getLong(4) === mn)
      assert(r.getLong(5) === risk * 10000 / nd)
    }
  }

  test("X4u fertility: reconciles with per-doc exact counts; bounds hold") {
    import spark.implicits._
    val perDoc = TextQueries.tokensPerDoc(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens")))
    val meta = Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"n_chars").as[(Long, String, Long)]
      .collect().map(d => d._1 -> (d._2, d._3)).toMap
    val expect = perDoc.groupBy(d => meta(d._1)._1).map { case (lang, ds) =>
      val w = ds.map(_._2).sum; val t = ds.map(_._3).sum
      val c = ds.map(d => meta(d._1)._2).sum
      lang -> (ds.length.toLong, w, t, t * 1000000 / w, c * 1000000 / t)
    }
    val got = TextQueries.bpeFertility(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (n, w, t, f, cpt) = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)) === ((n, w, t, f, cpt)), r.getString(0))
      // every word is at least one token; every token covers >= 1 char
      assert(r.getLong(4) >= 1000000L)
      assert(r.getLong(5) >= 1000000L)
    }
  }

  test("X4m/X4n BPE: merge eliminates the winning pair; counts match a local recount") {
    val r1 = TextQueries.bpePairs(spark, sf).collect()
    assert(r1.length === 20)
    val counts = r1.map(_.getAs[Long]("n"))
    assert(counts.sameElements(counts.sortBy(-(_: Long))))
    val top = r1.head.getAs[String]("pair")
    assert(top.length === 2)
    val r2 = TextQueries.bpeMerge(spark, sf).collect()
    // LTR non-overlapping application removes EVERY adjacent occurrence of
    // the winning pair: its symbol-pair label cannot appear in round 2
    val topLabel = s"${top(0)}+${top(1)}"
    assert(!r2.map(_.getAs[String]("pair")).contains(topLabel),
      s"winning pair $topLabel survived its own merge")
    // round-2 counts agree with a local dictionary recount
    val words = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val local = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, freq) =>
      val syms = scala.collection.mutable.ArrayBuffer.empty[String]
      w.foreach { c =>
        if (syms.nonEmpty && syms.last == top(0).toString &&
            c == top(1)) { syms(syms.length - 1) = top }
        else syms += c.toString
      }
      syms.sliding(2).foreach { p =>
        if (p.length == 2) {
          val k = s"${p(0)}+${p(1)}"
          local(k) = local.getOrElse(k, 0L) + freq
        }
      }
    }
    r2.foreach { r =>
      assert(r.getAs[Long]("n") === local(r.getAs[String]("pair")),
        r.getAs[String]("pair"))
    }
  }

  test("X4o BPE training: merge table matches a local reference trainer") {
    val rows = TextQueries.bpeTrain(spark, sf).collect()
    assert(rows.length === TextQueries.BpeTrainRounds)
    assert(rows.map(_.getAs[Long]("round")).toSeq ===
      (1 to TextQueries.BpeTrainRounds).map(_.toLong))
    // local reference: canonical greedy-LTR BPE over the word-type dictionary
    var dict: Array[(Vector[String], Long)] = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).count()
      .collect().map(r => r.getString(0).toVector.map(_.toString) -> r.getLong(1))
    rows.foreach { row =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      dict.foreach { case (syms, freq) =>
        syms.zip(syms.tail).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + freq
        }
      }
      val ((ls, rs), n) =
        counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
      val r = row.getAs[Long]("round")
      assert(row.getAs[String]("ls") === ls, s"round $r ls")
      assert(row.getAs[String]("rs") === rs, s"round $r rs")
      assert(row.getAs[Long]("n") === n, s"round $r n")
      dict = dict.map { case (syms, freq) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { x =>
          if (out.nonEmpty && out.last == ls && x == rs)
            out(out.length - 1) = ls + rs
          else out += x
        }
        (out.toVector, freq)
      }
    }
    // round 1 is exactly q_bpe_pairs' argmax (the composed-loop contract)
    val p1 = TextQueries.bpePairs(spark, sf).collect().head
    assert(rows(0).getAs[String]("ls") + rows(0).getAs[String]("rs") ===
      p1.getAs[String]("pair"))
    assert(rows(0).getAs[Long]("n") === p1.getAs[Long]("n"))
  }

  test("X4p BPE encode: census matches a local encoder and conserves characters") {
    val merges = TextQueries.bpeTrain(spark, sf).collect()
      .sortBy(_.getAs[Long]("round"))
      .map(r => (r.getAs[String]("ls"), r.getAs[String]("rs")))
    var dict: Array[(Vector[String], Long)] = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).count()
      .collect().map(r => r.getString(0).toVector.map(_.toString) -> r.getLong(1))
    merges.foreach { case (ls, rs) =>
      dict = dict.map { case (syms, freq) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { x =>
          if (out.nonEmpty && out.last == ls && x == rs)
            out(out.length - 1) = ls + rs
          else out += x
        }
        (out.toVector, freq)
      }
    }
    val types = scala.collection.mutable.Map.empty[String, Long]
    val occ = scala.collection.mutable.Map.empty[String, Long]
    dict.foreach { case (syms, freq) =>
      syms.distinct.foreach(t => types(t) = types.getOrElse(t, 0L) + 1L)
      syms.foreach(t => occ(t) = occ.getOrElse(t, 0L) + freq)
    }
    val rows = TextQueries.bpeEncode(spark, sf).collect()
    assert(rows.map(_.getAs[String]("token")).toSet === occ.keySet)
    rows.foreach { r =>
      val t = r.getAs[String]("token")
      assert(r.getAs[Long]("n_types") === types(t), s"n_types($t)")
      assert(r.getAs[Long]("n_occ") === occ(t), s"n_occ($t)")
    }
    // tokenization is lossless: total characters are conserved
    val charsOut = rows.map(r =>
      r.getAs[Long]("n_occ") * r.getAs[String]("token").length).sum
    val charsIn = dict.map { case (syms, freq) => syms.map(_.length).sum * freq }.sum
    assert(charsOut === charsIn)
    // every arm of the vocab shows up: at least one multi-char (merged) token
    assert(rows.exists(_.getAs[String]("token").length > 1))
  }

  test("NN resize samples the exact source coordinates") {
    import graft.ext.MediaDecode
    // 6x4 source, distinct values; 4x4 target samples x = i*6/4, y = j*4/4
    val g = Array.tabulate(4, 6)((y, x) => y * 10 + x)
    val t = MediaDecode.resizeNN(g, 4, 4)
    for (j <- 0 until 4; i <- 0 until 4)
      assert(t(j)(i) === g(j * 4 / 4)(i * 6 / 4), s"($i,$j)")
    // degenerate: upsampling a 1x1 grid replicates the pixel
    assert(MediaDecode.resizeNN(Array(Array(42)), 3, 3).flatten.toSeq ===
      Seq.fill(9)(42))
  }

  test("BMP raster decode is pixel-exact: padding, bottom-up and top-down rows") {
    import graft.ext.{MediaDecode, MediaFixtures}
    // w=5 forces row padding: stride 16 carries 15 payload bytes + 1 pad
    val w = 5; val h = 3
    def pix(x: Int, y: Int): Int = (x * 50 + y * 10) % 256
    val bytes = MediaFixtures.bmpRaster(w, h, pix)
    assert(bytes.length === 54 + 16 * h)
    val g = MediaDecode.decodeBmpGray(bytes)
      .getOrElse(fail("fixture did not decode"))
    assert(g.length === h && g(0).length === w)
    for (y <- 0 until h; x <- 0 until w)
      assert(g(y)(x) === pix(x, y), s"pixel ($x,$y)")
    // flip the INFOHEADER height negative: same stored rows must now be
    // read top-down, i.e. the decoded grid is the vertical mirror
    val td = bytes.clone()
    val neg = -h
    td(22) = neg.toByte; td(23) = (neg >> 8).toByte
    td(24) = (neg >> 16).toByte; td(25) = (neg >> 24).toByte
    val g2 = MediaDecode.decodeBmpGray(td)
      .getOrElse(fail("top-down variant did not decode"))
    for (y <- 0 until h; x <- 0 until w)
      assert(g2(y)(x) === pix(x, h - 1 - y), s"top-down pixel ($x,$y)")
    // non-BMP and truncated payloads fall through, never throw
    assert(MediaDecode.decodeBmpGray("not a bitmap".getBytes).isEmpty)
    assert(MediaDecode.decodeBmpGray(bytes.take(60)).isEmpty)
  }

  test("PNG raster decode is pixel-exact through the ImageIO inflate tier") {
    import graft.ext.{MediaDecode, MediaFixtures}
    val w = 13; val h = 7
    def pix(x: Int, y: Int): Int = (x * 19 + y * 41 + 5) % 256
    val bytes = MediaFixtures.pngRaster(w, h, pix)
    // a REAL compressed stream: IDAT exists and the payload is not the
    // raw scanlines (deflate actually ran)
    assert(new String(bytes.slice(37, 41), "US-ASCII") === "IDAT")
    // the BMP byte-parse must NOT claim it; the dispatch reaches ImageIO
    assert(MediaDecode.decodeBmpGray(bytes).isEmpty)
    val g = MediaDecode.decodeRasterGray(bytes)
      .getOrElse(fail("PNG fixture did not decode"))
    assert(g.length === h && g(0).length === w)
    for (y <- 0 until h; x <- 0 until w)
      assert(g(y)(x) === pix(x, y), s"pixel ($x,$y)")
    // undecodable payloads still fall through to None, never throw
    assert(MediaDecode.decodeRasterGray("not an image".getBytes).isEmpty)
    assert(MediaDecode.decodeImageIOGray(bytes.take(50)).isEmpty)
  }

  test("GIF raster decode is pixel-exact through the ImageIO LZW tier") {
    import graft.ext.{MediaDecode, MediaFixtures}
    // big enough that the encoder re-issues CLEAR codes mid-stream
    // (w*h = 551 > 2*254), so the table-reset path is exercised too
    val w = 29; val h = 19
    def pix(x: Int, y: Int): Int = (x * 23 + y * 37 + 11) % 256
    val bytes = MediaFixtures.gifRaster(w, h, pix)
    assert(new String(bytes.take(6), "US-ASCII") === "GIF89a")
    // a REAL LZW stream: the coded raster is 9 bits/pixel, not raw bytes
    assert(MediaDecode.decodeBmpGray(bytes).isEmpty)
    val g = MediaDecode.decodeRasterGray(bytes)
      .getOrElse(fail("GIF fixture did not decode"))
    assert(g.length === h && g(0).length === w)
    for (y <- 0 until h; x <- 0 until w)
      assert(g(y)(x) === pix(x, y), s"pixel ($x,$y)")
  }

  test("WAV PCM decode is sample-exact and the chunk walk skips foreign chunks") {
    import graft.ext.{MediaDecode, MediaFixtures}
    def smp(t: Int): Int = ((t * 61 + 7) % 65536) - 32768
    val bytes = MediaFixtures.wavPcm16(8000, 321, smp)
    val (rate, got) = MediaDecode.decodeWavPcm16(bytes)
      .getOrElse(fail("WAV fixture did not decode"))
    assert(rate === 8000 && got.length === 321)
    for (t <- 0 until 321) assert(got(t) === smp(t), s"sample $t")
    // a real WAV carries LIST/fact chunks before data: splice a foreign
    // chunk (odd length -> exercises word alignment) between fmt and
    // data and the walk must still land on the samples
    val fmtEnd = 12 + 8 + 16
    val junk = "joke".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ Array.fill[Byte](5)(0x55) ++
      Array[Byte](0) // pad to word boundary
    val spliced = bytes.take(fmtEnd) ++ junk ++ bytes.drop(fmtEnd)
    val (r2, got2) = MediaDecode.decodeWavPcm16(spliced)
      .getOrElse(fail("chunk walk broke on a foreign chunk"))
    assert(r2 === 8000 && got2.toSeq === got.toSeq)
    // non-PCM / stereo / truncated payloads fall through to None
    assert(MediaDecode.decodeWavPcm16("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(MediaDecode.decodeWavPcm16(bytes.take(50)).isEmpty)
  }

  test("animated GIF frame decode is frame- and pixel-exact") {
    import graft.ext.{MediaDecode, MediaFixtures}
    val w = 13; val h = 9; val nf = 4
    def pixF(x: Int, y: Int, f: Int): Int = (x * 5 + y * 17 + f * 41 + 3) % 256
    val bytes = MediaFixtures.gifAnimRaster(w, h, nf, pixF)
    val frames = MediaDecode.decodeFramesGray(bytes)
      .getOrElse(fail("animated GIF did not decode"))
    assert(frames.length === nf)
    for (f <- 0 until nf; y <- 0 until h; x <- 0 until w)
      assert(frames(f)(y)(x) === pixF(x, y, f), s"frame $f pixel ($x,$y)")
    // a single-frame payload reports exactly one frame
    assert(MediaDecode.decodeFramesGray(
      MediaFixtures.gifRaster(5, 4, (x, y) => x + y)).get.length === 1)
    assert(MediaDecode.decodeFramesGray("not media".getBytes).isEmpty)
  }

  test("JPEG payloads full-decode through the same raster tier (lossy-bounded)") {
    import graft.ext.MediaDecode
    // encode a smooth gradient through the JDK's own JPEG writer — the
    // decode side is then a REAL entropy decode of a REAL JPEG stream;
    // values are lossy-codec-approximate, so the pin is dims-exact +
    // bounded per-pixel error, not byte equality (why the oracled rows
    // use BMP/PNG: those pins ARE byte-exact).
    val w = 32; val h = 24
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    def pix(x: Int, y: Int): Int = 64 + (x * 3 + y * 2) % 128
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, pix(x, y))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    val g = MediaDecode.decodeRasterGray(out.toByteArray)
      .getOrElse(fail("JPEG payload did not decode"))
    assert(g.length === h && g(0).length === w)
    val maxErr = (for (y <- 0 until h; x <- 0 until w)
      yield math.abs(g(y)(x) - pix(x, y))).max
    assert(maxErr <= 24, s"JPEG round-trip drifted by $maxErr")
  }

  test("dHash gradient extremes: rising rows hash to 0, falling rows to all-ones") {
    import graft.ext.MediaDecode
    // exact 9x8 grid: sample points are the pixels themselves
    val rising = Array.tabulate(8, 9)((_, x) => x * 10)
    assert(MediaDecode.dhash64(rising) === 0L)
    val falling = Array.tabulate(8, 9)((_, x) => 100 - x * 10)
    assert(MediaDecode.dhash64(falling) === -1L) // all 64 bits set
  }

  test("X2o chain drift: star Jaccard equals a brute union-find replay") {
    import spark.implicits._
    // brute cluster reconstruction: union-find over the gated LSH pairs
    val pairs = DedupQueries.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clusters = parent.keys.toSeq.groupBy(find) // min-label == cluster_id
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ", -1).toSeq
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(t)
    }
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"n_chars").as[(Long, String, Long)]
      .collect().map(d => d._1 -> (d._2, d._3)).toMap
    val expect = clusters.map { case (cid, ms) =>
      // canonical = longest text, ties to smallest doc_id (the keep rule)
      val can = ms.minBy(d => (-docs(d)._2, d))
      val canSh = shingles(docs(can)._1)
      val stars = ms.filter(_ != can).map { m =>
        val mSh = shingles(docs(m)._1)
        val inter = (canSh & mSh).size.toLong
        (inter * 10000 / (canSh.size + mSh.size - inter), m)
      }
      val (minBp, worst) = stars.min
      cid -> (ms.size.toLong, minBp, worst,
        stars.count(_._1 < 2500).toLong)
    }
    val out = DedupQueries.dedupChainDrift(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("min_star_bp"),
          r.getAs[Long]("worst_doc"), r.getAs[Long]("n_drifted"))).toMap
    assert(out === expect, "chain-drift census diverged from brute replay")
    out.values.foreach { case (_, bp, _, _) => assert(bp >= 0 && bp <= 10000) }
  }

  test("XC13 prune frontier: reconciles with calibration buckets, monotone") {
    import spark.implicits._
    val cal = CurateQueries.qualityCalibration(spark, sf).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_pass"))).toMap
    val out = CurateQueries.pruneFrontier(spark, sf).collect()
      .map(r => (r.getAs[Long]("threshold_bucket"), r.getAs[Long]("docs_kept"),
        r.getAs[Long]("chars_kept"), r.getAs[Long]("docs_kept_bp"),
        r.getAs[Long]("chars_kept_bp"), r.getAs[Long]("pass_ppm_kept")))
      .sortBy(_._1)
    assert(out.nonEmpty && out.map(_._1).toSet === cal.keySet)
    // cross-query reconciliation: the frontier at threshold t is exactly
    // the calibration census summed over buckets >= t (both queries run
    // the same scoring chain; both are independently oracle-gated)
    out.foreach { case (t, docsKept, _, _, _, passPpm) =>
      val expDocs = cal.filter(_._1 >= t).values.map(_._1).sum
      val expPass = cal.filter(_._1 >= t).values.map(_._2).sum
      assert(docsKept === expDocs, s"docs_kept diverged at threshold $t")
      assert(passPpm === expPass * 1000000 / expDocs,
        s"pass rate diverged at threshold $t")
    }
    // retention is monotone non-increasing in the threshold; the loosest
    // threshold keeps the whole corpus
    assert(out.sliding(2).forall(p =>
      p.length < 2 || (p(0)._2 >= p(1)._2 && p(0)._3 >= p(1)._3)))
    val totChars = Tables.documents(spark, sf)
      .agg(sum($"n_chars")).head().getLong(0)
    assert(out.head._3 === totChars && out.head._4 === 10000L &&
      out.head._5 === 10000L)
    // and the curve is discriminative: the strictest cut keeps less
    assert(out.last._2 < out.head._2)
  }

  test("X4w langid eval: metrics reconcile with the confusion census") {
    val conf = TextQueries.textLangId(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = TextQueries.langidEval(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out.keySet === conf.map(_._1).toSet)
    out.foreach { case (lang, (support, tp, predN, p, rcl, f1)) =>
      assert(support === conf.filter(_._1 == lang).map(_._3).sum)
      assert(tp === conf.filter(c => c._1 == lang && c._2 == lang)
        .map(_._3).sum)
      assert(predN === conf.filter(_._2 == lang).map(_._3).sum)
      assert(p === (if (predN > 0) tp * 1000000 / predN else 0L))
      assert(rcl === tp * 1000000 / support)
      assert(f1 === (if (p + rcl > 0) 2 * p * rcl / (p + rcl) else 0L))
    }
    // the eval is the point: it exposes that only the dominant profile
    // ever wins on this corpus (perfectly legal data; a useless gate for
    // the other languages — exactly what a curator needs surfaced)
    assert(out.values.exists(_._6 > 0))
  }

  test("X4u memorization risk: census equals a brute split + vocab replay") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ", -1).toSeq
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(t)
    }
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
      .map { case (id, lang, text) =>
        val split = md5hex(id.toString).head match {
          case '0' | '1' => "val"
          case '2' | '3' => "test"
          case _ => "train"
        }
        (id, lang, split, shingles(text))
      }
    val trainVocab = docs.filter(_._3 == "train").flatMap(_._4).toSet
    val expect = docs.filter(_._3 != "train")
      .map { case (_, lang, split, shs) =>
        val bp = shs.count(trainVocab).toLong * 10000 / shs.size
        (lang, split, bp)
      }
      .groupBy(d => (d._1, d._2)).map { case ((lang, split), xs) =>
        val bps = xs.map(_._3)
        (lang, split) -> (xs.size.toLong, bps.sum / bps.size, bps.max,
          bps.count(_ >= 5000).toLong)
      }
    val out = TextQueries.memorizationRisk(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("mean_seen_bp"),
          r.getAs[Long]("max_seen_bp"), r.getAs[Long]("n_half_seen"))).toMap
    assert(out === expect, "memorization census diverged from brute replay")
    // discriminative on this corpus: seen-fraction neither all-0 nor all-1
    assert(out.values.exists(_._2 > 0))
    assert(out.values.forall(v => v._2 >= 0 && v._3 <= 10000))
  }

  test("X2p modal agreement: decile census equals a brute two-signal replay") {
    import spark.implicits._
    // brute star pairs: union-find over the gated LSH pairs (the X2o replay)
    val pairs = DedupQueries.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ", -1).toSeq
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(t)
    }
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"n_chars").as[(Long, String, Long)]
      .collect().map(d => d._1 -> (d._2, d._3)).toMap
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, e) =>
        id -> e.map(x => math.floor(x.toDouble * 1000000L).toLong).toArray
      }.toMap
    // pin the fixture dimensionality the ORACLE hardcodes (its
    // generate_series(1, 64) iterates exactly EMB_DIM indices while the
    // Spark side transforms the actual array): a fixture dim change must
    // fail HERE, not first at the external driver's hash gate
    assert(emb.values.forall(_.length == 64),
      s"embeddings fixture dim drifted from the oracle's EMB_DIM=64: " +
        s"saw ${emb.values.map(_.length).toSet}")
    def cosU(a: Long, b: Long): Long = {
      val (qa, qb) = (emb(a), emb(b))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val (na, nb) = (qa.map(x => x * x).sum, qb.map(x => x * x).sum)
      math.floor(dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
        * 1000000L).toLong
    }
    val stars = parent.keys.toSeq.groupBy(find).toSeq.flatMap { case (_, ms) =>
      val can = ms.minBy(d => (-docs(d)._2, d))
      val canSh = shingles(docs(can)._1)
      ms.filter(_ != can).map { m =>
        val mSh = shingles(docs(m)._1)
        val inter = (canSh & mSh).size.toLong
        (inter * 10000 / (canSh.size + mSh.size - inter), cosU(can, m))
      }
    }
    val expect = stars.groupBy(_._1 / 1000).view.mapValues { xs =>
      val cs = xs.map(_._2)
      (xs.size.toLong, cs.sum / cs.size, cs.min, cs.max)
    }.toMap
    val out = DedupQueries.dedupModalAgreement(spark, sf).collect()
      .map(r => r.getAs[Long]("bp_decile") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("mean_cos_u"),
          r.getAs[Long]("min_cos_u"), r.getAs[Long]("max_cos_u"))).toMap
    assert(out === expect, "modal-agreement census diverged from brute replay")
  }

  test("X2m banding sweep: 3 config rows, sane ratios, shorter bands recall more") {
    val rows = DedupQueries.dedupBandSweep(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("rows_per_band")).toSeq === Seq(1L, 2L, 4L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bands") ===
        8L / r.getAs[Long]("rows_per_band"))
      assert(r.getAs[Long]("n_both") <= r.getAs[Long]("n_cand"))
      assert(r.getAs[Long]("rec_ppm") <= 1000000L)
      assert(r.getAs[Long]("prec_ppm") <= 1000000L)
    }
    // banding theory on this (deterministic) corpus: single-component
    // bands are the recall ceiling of the family
    val rec = rows.map(_.getAs[Long]("rec_ppm"))
    assert(rec.head >= rec.last,
      s"r=1 should out-recall r=4: ${rec.mkString(",")}")
  }

  test("graph tier: degrees and triangles reconcile with the pair set") {
    val pairs = DedupQueries.dedupMinhashLsh(spark, sf).collect()
    val deg = GraphQueries.graphDegrees(spark, sf).collect()
    // sum(degree * n_docs) counts each edge twice
    val degSum = deg.map(r => r.getAs[Long]("degree") * r.getAs[Long]("n_docs")).sum
    assert(degSum === 2L * pairs.length)
    // per-doc triangle participation sums to 3 per triangle
    val tri = GraphQueries.graphTriangles(spark, sf).collect()
    val part = tri.map(_.getAs[Long]("n_triangles")).sum
    assert(part % 3 === 0, s"participation $part not divisible by 3")
    // every triangle corner is a vertex of the pair graph
    val verts = pairs.flatMap(r =>
      Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    tri.foreach(r => assert(verts.contains(r.getAs[Long]("doc_id"))))
  }

  test("G4 k-core: onion census equals a local peel-to-fixpoint replay") {
    val pairs = DedupQueries.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    pairs.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    var alive = adj.keySet.toSet
    val layer = scala.collection.mutable.Map[Long, Long]()
    var r = 1L
    var roundsUsed = 0L
    var changed = true
    while (changed) {
      val rm = alive.filter(v => adj(v).count(alive) < 2)
      if (rm.isEmpty) changed = false
      else {
        rm.foreach(v => layer(v) = r)
        alive --= rm
        roundsUsed = r
        r += 1
      }
    }
    // the query's 3 bounded rounds must cover the true fixpoint here —
    // if the corpus ever needs more, the census equality below fails too
    assert(roundsUsed <= 3L, s"fixpoint needed $roundsUsed rounds")
    alive.foreach(v => layer(v) = 0L)
    // the r12 convergence-receipt row: at the local fixpoint the residual
    // is 0 by definition
    val expect = layer.values.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong } + (-1L -> 0L)
    val got = GraphQueries.graphKcore(spark, sf).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === expect)
    // peeling must be non-vacuous AND leave a core at this scale
    assert(got.getOrElse(0L, 0L) > 0L, "empty 2-core")
    assert(got.keys.exists(_ > 0L), "nothing peeled — census vacuous")
  }

  test("ngram jaccard: scores in (0,1], ranks contiguous and descending") {
    val rows = DedupQueries.dedupNgramJaccard(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq === (1L to g.length))
      val js = sorted.map(_.getAs[Double]("jaccard"))
      assert(js.sameElements(js.sortBy(-(_: Double))))
      js.foreach(j => assert(j > 0 && j <= 1))
    }
  }

  test("X4r token ids: sequences reconstruct the text and reconcile counts + vocab") {
    val vocab = TextQueries.bpeVocab(spark, sf).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("token_id"),
        r.getAs[Long]("round")))
    // ids are dense 0..V-1; base chars in byte order precede merge tokens
    // in merge-rank order
    assert(vocab.map(_._2).sorted.toSeq === (0L until vocab.length.toLong))
    val (base, merged) = vocab.partition(_._3 == 0L)
    assert(base.sortBy(_._2).map(_._1).toSeq === base.map(_._1).sorted.toSeq)
    assert(merged.sortBy(_._2).map(_._3).toSeq ===
      merged.map(_._3).sorted.toSeq)
    assert(base.map(_._2).max < merged.map(_._2).min)
    val vmap = vocab.map(v => v._2 -> v._1).toMap
    val ids = TextQueries.tokenIds(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
        r.getAs[Long]("token_id"), r.getAs[String]("token")))
    // every row's token IS its vocab id's token
    ids.foreach(t => assert(vmap(t._3) == t._4, s"id/token mismatch: $t"))
    // per-doc counts reconcile exactly with q_tokens_per_doc
    val perDoc = ids.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val counted = TextQueries.tokensPerDoc(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    assert(perDoc == counted, "token-id stream diverged from exact counts")
    // decoding round-trip: concatenating a doc's tokens in pos order
    // restores its filtered words byte-for-byte
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    ids.groupBy(_._1).foreach { case (doc, rows) =>
      val decoded = rows.sortBy(_._2).map(_._4).mkString
      val expected = texts(doc).split(" ", -1)
        .filter(w => w.nonEmpty && !w.contains('\u0001')).mkString
      assert(decoded == expected, s"doc $doc failed the decode round-trip")
    }
  }

  test("X4k entropy gate: doc counts reconcile, band matches local recompute") {
    val rows = TextQueries.textEntropy(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs.length.toLong)
    // recompute every doc's entropy locally; per-lang min/max must match
    def ent(t: String): Double = {
      val counts = t.toCharArray.groupBy(identity).values.map(_.length)
      val n = t.length.toDouble
      val h = (math.log(n) / math.log(2)) -
        counts.map(c => c * (math.log(c) / math.log(2))).sum / n
      BigDecimal(h).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byLang = docs.groupBy(_._1).view.mapValues(_.map(d => ent(d._2)))
    rows.foreach { r =>
      val es = byLang(r.getAs[String]("lang"))
      assert(math.abs(r.getAs[Double]("min_ent") - es.min) < 1e-3)
      assert(math.abs(r.getAs[Double]("max_ent") - es.max) < 1e-3)
      assert(r.getAs[Long]("n_low_entropy") === es.count(_ < 3.2).toLong)
      // natural-text band: positive, below the 31-symbol alphabet ceiling
      assert(es.min > 0 && es.max < 5.0)
    }
  }

  test("prefix simjoin is EXACT: equals brute-force all-pairs Jaccard") {
    // the prefix filter must have zero false negatives (and the verify
    // step zero false positives) — compare against an unfiltered
    // posting-list all-pairs Jaccard at the same threshold
    val docs = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(array_distinct(
        expr("CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) ELSE array(text) END")))
        .as("sh"))
    val sizes = docs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = docs.toDF("a_id", "sh")
      .join(docs.toDF("b_id", "sh"), Seq("sh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
      .join(sizes.toDF("a_id", "an"), "a_id")
      .join(sizes.toDF("b_id", "bn"), "b_id")
      .filter(col("i") * 8 >= (col("an") + col("bn")) * 3)
      .select("a_id", "b_id", "i")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = SimJoinQueries.simjoinPrefix(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Long]("n_inter")).toMap
    assert(got === brute)
    assert(got.nonEmpty)
  }

  test("X4t retrieval eval: metric invariants hold and the control saturates") {
    val rows = RetrievalQueries.retrievalEval(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    rows.foreach { r =>
      val (nRel, hits) = (r.getAs[Long]("n_rel"), r.getAs[Long]("hits"))
      assert(hits <= math.min(10L, nRel))
      assert(r.getAs[Long]("dcg_u") <= r.getAs[Long]("idcg_u"))
      assert(r.getAs[Long]("ndcg_bp") >= 0 && r.getAs[Long]("ndcg_bp") <= 10000)
      assert(r.getAs[Long]("mrr_u") <= 1000000L)
      if (nRel > 0)
        assert(r.getAs[Long]("recall_bp") === 10000 * hits / nRel)
    }
    // the all-common-terms control: every top-K doc fully relevant
    val ctl = rows.find(_.getLong(0) == 3L).get
    assert(ctl.getAs[Long]("hits") === 10L)
    assert(ctl.getAs[Long]("ndcg_bp") === 10000L)
  }

  test("XC10 DSIR: selection census equals a brute local importance replay") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def bucket(g: String): Long =
      java.lang.Long.parseLong(md5hex(g).substring(0, 12), 16) % 128L
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).split(" ", -1).toSeq))
    val tgt = docs.filter(_._2 == "en").flatMap(_._4).map(bucket)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val raw = docs.filter(_._2 != "en").flatMap(_._4).map(bucket)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (totT, totS) = (tgt.values.sum, raw.values.sum)
    val w: Map[Long, Long] = raw.map { case (b, ns) =>
      b -> (math.floor(math.log((tgt.getOrElse(b, 0L) + 1).toDouble
          / (totT + 128)) * 1e6).toLong
        - math.floor(math.log((ns + 1).toDouble / (totS + 128)) * 1e6).toLong)
    }
    val perDoc = docs.filter(_._2 != "en").map { case (_, lang, src, ws) =>
      (lang, src, ws.map(g => w(bucket(g))).sum)
    }
    val expected = perDoc.groupBy(t => (t._1, t._2)).map { case (k, xs) =>
      k -> (xs.length.toLong, xs.count(_._3 > 0).toLong,
        xs.filter(_._3 > 0).map(_._3).sum)
    }
    val got = CurateQueries.dsirSelect(spark, sf).collect().map { r =>
      (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        (r.getAs[Long]("n_cand"), r.getAs[Long]("n_sel"),
          r.getAs[Long]("sum_sel_logw"))
    }.toMap
    assert(got === expected)
    assert(got.values.map(_._2).sum > 0) // the threshold selects something
  }

  test("X2j ER: entities equal the local transitive closure of JW pairs") {
    import graft.functions.JaroWinkler
    import org.apache.spark.unsafe.types.UTF8String
    val names = Tables.part(spark, sf)
      .select("p_name").distinct().collect().map(_.getString(0)).sorted
    // local blocked pairs at the same rounded threshold
    val parent = scala.collection.mutable.Map(names.map(n => n -> n): _*)
    def find(x: String): String =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      i <- names.indices; j <- (i + 1) until names.length
      if names(i)(0) == names(j)(0)
      jw = BigDecimal(JaroWinkler.sim(UTF8String.fromString(names(i)),
        UTF8String.fromString(names(j))))
        .setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jw >= 0.85
    } {
      val (ra, rb) = (find(names(i)), find(names(j)))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    val expected = names.groupBy(find).filter(_._2.length >= 2)
      .map { case (root, ms) => root -> (ms.length.toLong, ms.min, ms.max) }
    val got = FuzzyQueries.entityResolution(spark, sf).collect()
      .map(r => r.getAs[String]("entity_id") ->
        (r.getAs[Long]("n_names"), r.getAs[String]("first_name"),
          r.getAs[String]("last_name"))).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("XP10 Neyman: allocation is optimal-proportional and fully taken") {
    val rows = SamplingQueries.sampleNeyman(spark, sf).collect()
    assert(rows.nonEmpty)
    val budget = 1000L
    // floor allocation never exceeds the budget and loses < |strata| rows
    val allocs = rows.map(_.getAs[Long]("alloc"))
    assert(allocs.sum <= budget && allocs.sum > budget - rows.length)
    rows.foreach { r =>
      // the take is exact: every allocated slot is filled (alloc ≤ N here)
      assert(r.getAs[Long]("n_taken") ===
        math.min(r.getAs[Long]("alloc"), r.getAs[Long]("n_total")))
      assert(r.getAs[Long]("sigma4") > 0)
    }
    // monotone in the weight: a stratum with larger N·σ never gets fewer
    val byW = rows.sortBy(r => r.getAs[Long]("n_total") * r.getAs[Long]("sigma4"))
    val allocByW = byW.map(_.getAs[Long]("alloc"))
    assert(allocByW.zip(allocByW.tail).forall { case (a, b) => a <= b })
  }

  test("containment join is EXACT: equals brute-force small-into-large scan") {
    val docs = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(array_distinct(
        expr("CASE WHEN size(toks) >= 3 THEN transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) ELSE array(text) END")))
        .as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = (for {
      (a, sa) <- docs.toSeq
      (b, sb) <- docs.toSeq
      if sb.size > sa.size || (sb.size == sa.size && b > a)
      i = (sa intersect sb).size
      if i * 10 >= sa.size * 9
    } yield (a, b) -> i.toLong).toMap
    val got = ext.SimJoinQueries.containJoin(spark, sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Long]("n_inter")).toMap
    assert(got === brute)
    assert(got.nonEmpty)
  }

  test("knn brute: 5 neighbors per query, cosine in [-1,1] descending") {
    val rows = SimilarityQueries.knnBrute(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size === 20)
    byQ.values.foreach { g =>
      assert(g.length === 5)
      val cs = g.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("cos_sim"))
      assert(cs.sameElements(cs.sortBy(-(_: Double))))
      cs.foreach(c => assert(c >= -1.0001 && c <= 1.0001))
    }
  }

  test("knn LSH: every hit appears in the brute-force full ranking space") {
    val brute = SimilarityQueries.knnBrute(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val lsh = SimilarityQueries.knnLsh(spark, sf).collect()
    assert(lsh.nonEmpty)
    // LSH returns same-bucket candidates ranked by the same exact cosine;
    // its rank-1 hit for a query must be <= brute's rank-5 cutoff whenever
    // the buckets agree — weak but deterministic: check cos values match
    // the brute metric by recomputation for a few rows.
    val top = lsh.filter(_.getAs[Long]("rnk") === 1).take(5)
    top.foreach { r => assert(r.getAs[Double]("cos_sim") <= 1.0001) }
    // at minimum the LSH candidate set is a subset of all (q, v) pairs
    lsh.foreach { r => assert(r.getAs[Long]("q_id") !== r.getAs[Long]("vec_id")) }
    assert(brute.nonEmpty)
  }

  test("plane signs are deterministic ±1") {
    val s1 = (1 to 64).map(SimilarityQueries.planeSign(0, _))
    val s2 = (1 to 64).map(SimilarityQueries.planeSign(0, _))
    assert(s1 === s2)
    assert(s1.forall(v => v == 1 || v == -1))
    assert(s1.toSet.size === 2) // both signs occur
  }

  test("text stats: word counts bounded by token counts * factor, quality <= docs") {
    TextQueries.textStats(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_quality") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("sum_stop") <= r.getAs[Long]("sum_tokens"))
    }
  }

  test("langid confusion matrix covers all docs exactly once") {
    val n = TextQueries.textLangId(spark, sf)
      .agg(sum($"n")).as[Long].head()
    assert(n === Tables.documents(spark, sf).count())
  }

  test("fingerprints are 128 hex chars (4 x md5) and stable") {
    val fp1 = TextQueries.textFingerprint(spark, sf).collect()
    fp1.foreach { r =>
      assert(r.getAs[String]("fingerprint").length === 128)
    }
    val fp2 = TextQueries.textFingerprint(spark, sf).collect()
    assert(fp1.map(_.toString).toSeq === fp2.map(_.toString).toSeq)
  }

  test("contamination flags only non-benchmark docs with bounded ratios") {
    val rows = TextQueries.textContamination(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty) // 3-gram overlap exists at sf0.01
    rows.foreach { r =>
      assert(r.getLong(0) % 101 !== 0) // benchmark docs are never candidates
      assert(r.getLong(1) <= r.getLong(2)) // hits bounded by gram count
      val ratio = r.getDouble(3)
      assert(ratio > 0.0 && ratio <= 1.0)
    }
  }

  test("repetition rollup accounts for every document") {
    val total = Tables.documents(spark, TestSpark.sf0001).count()
    val rows = TextQueries.textRepetition(spark, TestSpark.sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === total)
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_grams") <= r.getAs[Long]("total_grams"))
      assert(r.getAs[Long]("n_repetitive") <= r.getAs[Long]("n_docs"))
    }
  }

  test("multimodal phash: bits equal a local dHash over the stride bytes") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
      .filter(_._2.length >= 128)
    def phash(b: Array[Byte]): Long = {
      val vals = (0 until 16).map(k => b(k * 8) & 0xff)
      (0 until 15).map(i => if (vals(i) > vals(i + 1)) 1L << i else 0L).sum
    }
    val local = docs.map(d => phash(d._2))
      .groupBy(_ / 2048).view
      .mapValues(g => (g.length.toLong, g.distinct.length.toLong)).toMap
    val got = MultimodalQueries.mediaPhash(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === local)
  }

  test("multimodal decodePartitioned: batched stub decode round-trips") {
    val media = Tables.documents(spark, sf).limit(10)
      .select($"doc_id", $"text".cast("binary"))
      .as[(Long, Array[Byte])]
    val metas = MediaDecode.decodePartitioned(media).collect()
    assert(metas.length === 10)
    metas.foreach { m =>
      assert(m.width >= 64 && m.width < 704)
      assert(m.height >= 48 && m.height < 528)
      assert(m.n_frames >= 1 && m.n_frames <= 24)
      assert(m.magic_hex.length === 8)
      assert(m.byte_len > 0)
    }
  }

  test("multimodal header decode parses real PNG/BMP/GIF dimensions") {
    // minimal valid PNG signature + IHDR length/type + 800x600 big-endian
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R',             // IHDR length + type
      0, 0, 0x03, 0x20,                            // width  = 800
      0, 0, 0x02, 0x58,                            // height = 600
      8, 6, 0, 0, 0).map(_.toByte)
    assert(MediaDecode.decodeHeader(png) === Some((800, 600, 1)))
    // BMP: 'BM' + 12 filler bytes + DIB size 40 (BITMAPINFOHEADER), then
    // LE i32 width=320, height=-240 (negative = top-down row order;
    // dimension is its magnitude)
    val bmp = (Array[Int]('B', 'M') ++ Array.fill(12)(0) ++
      Array[Int](40, 0, 0, 0) ++                    // DIB header size
      Array[Int](0x40, 0x01, 0, 0) ++               // width  = 320
      Array[Int](0x10, 0xff, 0xff, 0xff)).map(_.toByte) // height = -240
    assert(MediaDecode.decodeHeader(bmp) === Some((320, 240, 1)))
    // legacy BITMAPCOREHEADER (DIB size 12): u16 dims at offsets 18/20
    val bmpCore = (Array[Int]('B', 'M') ++ Array.fill(12)(0) ++
      Array[Int](12, 0, 0, 0) ++                    // DIB header size
      Array[Int](64, 0) ++ Array[Int](48, 0) ++     // width=64, height=48
      Array.fill(4)(0)).map(_.toByte)
    assert(MediaDecode.decodeHeader(bmpCore) === Some((64, 48, 1)))
    // unknown DIB size or corrupt (negative) width must NOT be trusted
    val bmpBadDib = (Array[Int]('B', 'M') ++ Array.fill(12)(0) ++
      Array[Int](0, 0, 0, 0) ++
      Array[Int](0x40, 0x01, 0, 0) ++ Array[Int](0x10, 0, 0, 0)).map(_.toByte)
    assert(MediaDecode.decodeHeader(bmpBadDib) === None)
    val bmpNegW = (Array[Int]('B', 'M') ++ Array.fill(12)(0) ++
      Array[Int](40, 0, 0, 0) ++
      Array[Int](0xc0, 0xfe, 0xff, 0xff) ++         // width = -320
      Array[Int](0x10, 0x01, 0, 0)).map(_.toByte)
    assert(MediaDecode.decodeHeader(bmpNegW) === None)
    // GIF89a with LE u16 logical screen 12x34
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](12, 0, 34, 0, 0).map(_.toByte))
    assert(MediaDecode.decodeHeader(gif) === Some((12, 34, 1)))
    // unknown bytes fall back to the deterministic stub
    val junk = "not an image".getBytes("US-ASCII")
    assert(MediaDecode.decodeHeader(junk) === None)
    assert(MediaDecode.decode(junk) === MediaDecode.decodeStub(junk))
  }

  test("multimodal ImageIO tier sizes a real PNG without pixel decode") {
    // a REAL 7x5 PNG produced by the JDK encoder — exercises the ImageIO
    // header-only tier end-to-end (encode → decodeImageIO) and agreement
    // with the fixed-offset fast-path on the same bytes
    val img = new java.awt.image.BufferedImage(
      7, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 2, 0xff8800)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    assert(MediaDecode.decodeImageIO(bytes) === Some((7, 5, 1)))
    assert(MediaDecode.decodeHeader(bytes) === Some((7, 5, 1)))
    assert(MediaDecode.decode(bytes) === ((7, 5, 1)))
    // non-image bytes: ImageIO returns None (no throw), stub takes over
    assert(MediaDecode.decodeImageIO("plain text".getBytes) === None)
  }

  test("JPEG SOFn scan sizes a real JDK-encoded JPEG and the spec fixture") {
    // a REAL 9x6 JPEG from the JDK encoder: the scan must walk the
    // encoder's actual APP0/DQT/DHT segments before finding SOF0
    val img = new java.awt.image.BufferedImage(
      9, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(4, 3, 0x3366cc)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val real = bos.toByteArray
    assert(MediaDecode.decodeJpegSof(real) === Some((9, 6, 1)))
    assert(MediaDecode.decode(real) === ((9, 6, 1)))
    // the spec-built fixture parses to its constructed dims
    val fx = MediaFixtures.jpeg(31, 17)
    assert(fx.length === 23)
    assert(MediaDecode.decodeJpegSof(fx) === Some((31, 17, 1)))
    // structurally broken streams fall through, never throw
    assert(MediaDecode.decodeJpegSof("plain text".getBytes) === None)
    assert(MediaDecode.decodeJpegSof(
      Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)) === None) // empty SOI/EOI
    assert(MediaDecode.decodeJpegSof(
      Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x03).map(_.toByte)) === None) // truncated SOF
    // and every fixture format round-trips through the real parsers
    assert(MediaDecode.decode(MediaFixtures.png(800, 600)) === ((800, 600, 1)))
    assert(MediaDecode.decode(MediaFixtures.gif(12, 34)) === ((12, 34, 1)))
    assert(MediaDecode.decode(MediaFixtures.bmp(320, 240)) === ((320, 240, 1)))
    // the PNG fixture is a fully valid file: the JDK decoder reads it too
    assert(MediaDecode.decodeImageIO(MediaFixtures.png(5, 4)) === Some((5, 4, 1)))
  }

  test("q_multimodal_dims: decoded dims equal the generator formula per row") {
    val rows = MultimodalQueries.mediaDims(spark, sf).collect()
    assert(rows.length === 60)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") === 16 + (id % 7).toInt * 3, s"doc $id")
      assert(r.getAs[Int]("height") === 9 + (id % 5).toInt * 2, s"doc $id")
      val expMagic = (id % 4) match {
        case 0 => "89504e47"; case 1 => "ffd8ffc0"
        case 2 => "47494638"; case _ => "424d3600"
      }
      assert(r.getAs[String]("magic_hex") === expMagic, s"doc $id")
    }
  }

  test("X1e source overlap: matrix equals a brute set-Jaccard replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ", -1).toSeq
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(t)
    }
    val vocab = docs.groupBy(_._1).view
      .mapValues(_.flatMap(d => shingles(d._2)).toSet).toMap
    val srcs = vocab.keys.toSeq.sorted
    val expect = (for {
      a <- srcs; b <- srcs if a < b
      inter = (vocab(a) & vocab(b)).size.toLong if inter > 0
    } yield (a, b) -> (inter,
      inter * 1000000 / (vocab(a).size + vocab(b).size - inter))).toMap
    val byName = DedupQueries.sourceOverlap(spark, sf).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        (r.getAs[Long]("n_inter"), r.getAs[Long]("jaccard_ppm"))).toMap
    assert(byName === expect)
    byName.values.foreach { case (_, j) => assert(j > 0 && j <= 1000000L) }
  }

  test("X1d source novelty: census equals a brute shingle-attribution replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ", -1).toSeq
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(t)
    }
    val pairs = docs.flatMap { case (src, t) =>
      shingles(t).map(sh => (src, sh))
    }.distinct
    val firstOf = pairs.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val expect = pairs.groupBy(_._1).map { case (src, ps) =>
      val n = ps.length.toLong
      val novel = ps.count(p => firstOf(p._2) == src).toLong
      src -> (n, novel, novel * 10000 / n)
    }
    val got = DedupQueries.sourceNovelty(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (n, novel, bp) = expect(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((n, novel, bp)),
        r.getString(0))
    }
    // every shingle is introduced exactly once: novel counts sum to the
    // global distinct-shingle vocabulary
    assert(got.map(_.getLong(2)).sum === firstOf.size.toLong)
  }

  test("X1c substring dedup: spans equal a brute window-fingerprint replay") {
    val W = 40
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val wins = docs.flatMap { case (id, t) =>
      if (t.length < W) Seq.empty
      else (0 to t.length - W).map(p => (id, p + 1L, t.substring(p, p + W)))
    }
    val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val dup = wins.filter(w => counts(w._3) > 1).map(w => (w._1, w._2))
    val expect = dup.groupBy(_._1).toSeq.flatMap { case (id, ps) =>
      val sorted = ps.map(_._2).sorted
      val spans = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var s0 = sorted.head; var last = sorted.head
      sorted.tail.foreach { p =>
        if (p - last <= W) last = p
        else { spans += ((s0, last + W - 1)); s0 = p; last = p }
      }
      spans += ((s0, last + W - 1))
      spans.zipWithIndex.map { case ((a, b), i) =>
        (id, (i + 1).toLong, a, b, b - a + 1)
      }
    }.sortBy(r => (r._1, r._2))
    val got = DedupQueries.substringDedup(spark, sf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got === expect)
    // the corpus must actually contain duplicated substrings at this scale,
    // and merged spans never overlap within a doc
    assert(got.nonEmpty)
    got.groupBy(_._1).values.foreach { rs =>
      rs.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(b._3 > a._4)
        case _ =>
      }
    }
    // the 100-TB variant (8-byte fingerprint exchange + in-bucket string
    // verify) must emit the IDENTICAL span table — exactness is the
    // whole contract of the verify stage
    val hashed = DedupQueries.substringDedupHashed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(hashed === got,
      "hash-keyed + verified spans diverged from the string-keyed form")
  }

  test("X1c substring dedup: both forms are code-point-grained on multi-byte text") {
    import spark.implicits._
    val W = 40
    // a >=W-code-point duplicated block mixing 2-byte (é, λ), 3-byte
    // (CJK) and 4-byte supplementary (🚂) UTF-8 sequences: byte offsets
    // and char offsets diverge from the very first window, so a
    // byte-grained fingerprint (or a UTF-16-grained replay) would place
    // candidates at the wrong positions and slice the wrong verify
    // windows. The generated corpus is ASCII-only; this fixture is what
    // actually exercises the grain contract.
    val shared = "é🚂λ日本語テキスト重複検出試験" * 4 // 14 cp x 4 = 56 cp
    val rows = Seq(
      1L -> ("πρόλογος με ελληνικά γράμματα " + shared + " ascii tail"),
      2L -> ("まえがき—" + shared + "—あとがき"),
      3L -> ("plain ascii filler document with no duplicated forty-char " +
        "window content anywhere inside it at all, promise"),
      // intra-doc duplication with a >W-cp UNIQUE gap (a repeated gap
      // would itself duplicate windows and merge the spans): two spans
      4L -> (shared + " μεσαῖο κείμενο γεμίσματος, αρκετά μακρύ ώστε να " +
        "χωρίσει τα δύο τμήματα καθαρά " + shared))
    val docs = rows.toDF("doc_id", "text")
    // brute replay at CODE-POINT grain (Spark substring / DuckDB substr
    // semantics; Java String.substring would count the emoji as two)
    val wins = rows.flatMap { case (id, t) =>
      val cp = t.codePoints().toArray
      if (cp.length < W) Seq.empty
      else (0 to cp.length - W).map(p =>
        (id, p + 1L, cp.slice(p, p + W).toSeq))
    }
    val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val dup = wins.filter(w => counts(w._3) > 1).map(w => (w._1, w._2))
    val expect = dup.groupBy(_._1).toSeq.flatMap { case (id, ps) =>
      val sorted = ps.map(_._2).sorted
      val spans = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var s0 = sorted.head; var last = sorted.head
      sorted.tail.foreach { p =>
        if (p - last <= W) last = p
        else { spans += ((s0, last + W - 1)); s0 = p; last = p }
      }
      spans += ((s0, last + W - 1))
      spans.zipWithIndex.map { case ((a, b), i) =>
        (id, (i + 1).toLong, a, b, b - a + 1)
      }
    }.sortBy(r => (r._1, r._2))
    assert(expect.nonEmpty, "fixture must contain duplicated windows")
    assert(expect.map(_._1).distinct.sorted === Seq(1L, 2L, 4L))
    assert(expect.count(_._1 == 4L) === 2, "doc 4 must yield two spans")
    def spansFrom(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val got = spansFrom(DedupQueries.substringDedupOf(docs))
    assert(got === expect,
      "string-keyed spans diverged from the code-point replay")
    val hashed = spansFrom(DedupQueries.substringDedupHashedOf(docs))
    assert(hashed === expect,
      "hashed+verified spans diverged on multi-byte text: fingerprint " +
        "grain and verify-slice grain disagree")
  }

  test("X1c substring dedup: trailing malformed tails dedup by decoded value") {
    import spark.implicits._
    // The r17 sanitize fix, pinned end-to-end: two docs share a
    // 39-ASCII-char block and END in BYTE-DIFFERENT truncated multi-byte
    // sequences that both DECODE to one U+FFFD slot (a truncated C2
    // 2-byte lead vs a truncated E0 A0 3-byte lead) — crawl-shaped
    // garbage. The fingerprint admission hashes both trailing windows
    // identically (39 shared cps + U+FFFD), so both positions are
    // candidates; a verify that groups on the RAW substring slice sees
    // different bytes and silently drops the real trailing duplicate.
    // Grouping on the sanitized slice (the decoded code-point sequence,
    // which is what "exact" means for this family — it is what the
    // fingerprint hashed) keeps it. Invalid bytes enter via binary→
    // string cast (a raw reinterpret, no validation), as they would
    // from a crawl ingest.
    val sharedBlock = "abcdefghijklmnopqrstuvwxyz0123456789ABC" // 39 chars
    assert(sharedBlock.length === 39)
    val bytesA = sharedBlock.getBytes("UTF-8") :+ 0xC2.toByte
    val bytesB = sharedBlock.getBytes("UTF-8") ++
      Array(0xE0.toByte, 0xA0.toByte)
    val docs = Seq(1L -> bytesA, 2L -> bytesB).toDF("doc_id", "bin")
      .select($"doc_id", $"bin".cast("string").as("text"))
    // both docs are exactly SUBSTR_W=40 chars (39 + one U+FFFD slot), so
    // each contributes exactly one window and the whole doc is the span
    val expect = Seq((1L, 1L, 1L, 40L, 40L), (2L, 1L, 1L, 40L, 40L))
    def spansFrom(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(spansFrom(DedupQueries.substringDedupOf(docs)) === expect,
      "string form missed the decode-equal byte-different trailing duplicate")
    assert(spansFrom(DedupQueries.substringDedupHashedOf(docs)) === expect,
      "hashed form missed the decode-equal byte-different trailing duplicate")
  }

  test("X1f CDC chunking: brute replay + shift resistance under a prefix edit") {
    import spark.implicits._
    // local brute replay of the boundary rule over one real corpus doc
    val W = 8; val MOD = 64L
    def poly(t: String, p: Int): Long = // p 0-based window start
      (0 until W).map(i => t.codePointAt(p + i).toLong *
        Seq.fill(i)(33L).product).sum
    def chunksOf(t: String): Seq[String] = {
      if (t.isEmpty) return Seq.empty
      val cuts = (0 to t.length - W).filter(p => poly(t, p) % MOD == 0)
        .map(_ + 1) // 1-based cut-after positions
      val bounds = (0 +: cuts :+ t.length).distinct.sorted
      bounds.sliding(2).map { case Seq(a, b) => t.substring(a, b) }.toSeq
        .filter(_.nonEmpty)
    }
    val doc = Tables.documents(spark, sf).select($"text")
      .orderBy($"doc_id").limit(1).as[String].head()
    val edited = "Z" + doc // one-char prefix insertion
    val df = Seq((1L, "en", doc), (2L, "en", edited))
      .toDF("doc_id", "lang", "text")
    val got = DedupQueries.cdcChunkRows(df).select($"doc_id", $"chunk")
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSeq).toMap
    val expect1 = chunksOf(doc)
    val expect2 = chunksOf(edited)
    // engine == brute for both docs (chunk MULTISET, order-free)
    assert(got(1L).sorted === expect1.sorted)
    assert(got(2L).sorted === expect2.sorted)
    // SHIFT RESISTANCE — the CDC property fixed-size blocking lacks:
    // boundaries are content-addressed, so past the first boundary after
    // the edit the chunk sequences coincide exactly (suffix equality)
    val tail1 = expect1.drop(1)
    val common = tail1.reverse.zip(expect2.reverse).takeWhile {
      case (a, b) => a == b
    }.length
    assert(expect1.length > 2, s"doc too short for the property: $expect1")
    assert(common >= expect1.length - 1,
      s"prefix edit re-chunked past the first boundary: " +
        s"common suffix $common of ${expect1.length}")
    // and a FIXED-SIZE blocking of the same doc would share NO chunk
    // past the edit (every 64-char block shifts by one char)
    def fixed(t: String) = t.grouped(64).toSeq
    assert(fixed(doc).drop(1).toSet.intersect(fixed(edited).drop(1).toSet).isEmpty)
  }

  test("M11 audio near-dup: census equals a brute fingerprint replay; pairs planted") {
    // local replay of the fixture formulas: fingerprint per doc, all-pairs
    // Hamming, census for d <= 3 — the banded index must reproduce it
    // exactly (pigeonhole recall = 1)
    def mix(k: Long): Long = ((k ^ (k >> 7)) * 2654435761L % 2147483647L) % 5L
    def amp(d: Long, f: Int): Long = {
      val g = d / 2
      val base = 60 + 20 * mix(g * 1000003L + f)
      if (d % 2 == 0) base
      else if (g % 3 == 0) { if (f == 1 + (g * 7) % 30) base + 40 else base }
      else 60 + 20 * mix(g * 1000003L + f + 777777L)
    }
    def fp(d: Long): Long =
      (0 until 31).foldLeft(0L)((acc, f) =>
        if (amp(d, f + 1) > amp(d, f)) acc | (1L << f) else acc)
    val ids = 0L until 60L
    val brute = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= 3
    } yield (a, b, h.toLong)).toSeq
    val expected = brute.groupBy(_._3).map { case (h, ps) =>
      h -> (ps.size.toLong, ps.map(_._1).min, ps.map(_._2).max)
    }
    val got = MultimodalQueries.audioNearDup(spark, sf).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected)
    // every third group's odd member is a planted near-dup of its twin
    val planted = ids.filter(d => d % 2 == 1 && (d / 2) % 3 == 0)
      .map(d => (d - 1, d))
    planted.foreach { case (a, b) =>
      assert(brute.exists(p => p._1 == a && p._2 == b && p._3 <= 2),
        s"planted pair ($a,$b) missing or too far")
    }
  }

  test("multimodal pair audit: census equals a formula replay of both directions") {
    import spark.implicits._
    def dhashOf(id: Long): Long = {
      val w = 16 + (id % 7).toInt * 3
      val h = 9 + (id % 5).toInt * 2
      def v(x: Int, y: Int) = (x * 7 + y * 13 + id.toInt * 31) % 256
      var bits = 0L
      for (j <- 0 until 8; i <- 0 until 8) {
        val y = j * h / 8
        if (v(i * w / 9, y) > v((i + 1) * w / 9, y))
          bits |= 1L << (j * 8 + i)
      }
      bits
    }
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf).filter($"doc_id" < 120)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val j = docs.map { case (id, t) => (dhashOf(id), md5hex(t)) }
    val ig = j.groupBy(_._1).values.filter(_.length >= 2).toSeq
    val cg = j.groupBy(_._2).values.filter(_.length >= 2).toSeq
    val expect = Map(
      "img_groups_multi" -> ig.size.toLong,
      "img_groups_caption_conflict" ->
        ig.count(_.map(_._2).distinct.length >= 2).toLong,
      "cap_groups_multi" -> cg.size.toLong,
      "cap_groups_image_conflict" ->
        cg.count(_.map(_._1).distinct.length >= 2).toLong)
    val got = MultimodalQueries.mediaPairAudit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(got("img_groups_multi") >= got("img_groups_caption_conflict"))
    assert(got("cap_groups_multi") >= got("cap_groups_image_conflict"))
  }

  test("MP4 box walk: foreign boxes skipped, truncation rejected, metadata exact") {
    import graft.ext.{MediaDecode, MediaFixtures}
    val b = MediaFixtures.mp4Container(1200, 2500, 2, 10, t => t * 3)
    // sum of payload bytes (t*3 & 0xff, t < 10) = 3 * 45
    assert(MediaDecode.decodeMp4Meta(b) === Some((1200L, 2500L, 2L, 10L, 135L)))
    // a truncated final box must fail the walk, not mis-read
    assert(MediaDecode.decodeMp4Meta(b.dropRight(1)) === None)
    assert(MediaDecode.decodeMp4Meta(b.take(20)) === None)
    // hand-built container with a FOREIGN child (udta) inside moov: the
    // walker must skip it by size and still find mvhd + count traks
    def be(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def box(t: String, body: Array[Byte]) =
      be(8 + body.length) ++ t.getBytes("US-ASCII") ++ body
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be(0) ++ be(0) ++
      be(1000) ++ be(7777) ++ Array.fill[Byte](80)(0))
    val moov = box("moov",
      mvhd ++ box("udta", Array.fill[Byte](5)(1)) ++
        box("trak", Array.fill[Byte](8)(0)))
    val whole = box("ftyp", "isom".getBytes("US-ASCII") ++ be(0)) ++
      moov ++ box("mdat", Array[Byte](1, 2, 3))
    assert(MediaDecode.decodeMp4Meta(whole) === Some((1000L, 7777L, 1L, 3L, 6L)))
  }

  test("MP4 largesize + to-EOF boxes walk; stbl sample tables decode exactly") {
    import graft.ext.{MediaDecode, MediaFixtures}
    // mdat ships as size==1 + 64-bit largesize; the container ends in a
    // size==0 to-EOF skip box — both legal encodings real files use
    val b = MediaFixtures.mp4ContainerStbl(1200, 2500, 2, 10, t => t * 3,
      i => 2 + i, (i, k) => 5 + i * 10 + k, (i, k) => 1 + k)
    val meta = MediaDecode.decodeMp4Meta(b)
    assert(meta === Some((1200L, 2500L, 2L, 10L, 135L)),
      "largesize mdat payload mis-located or to-EOF box rejected")
    // track 0: 2 samples, sizes 5,6 -> 11 bytes, deltas 1,2 -> 3 units
    // track 1: 3 samples, sizes 15,16,17 -> 48 bytes, deltas 1,2,3 -> 6
    assert(MediaDecode.decodeMp4Samples(b) ===
      Some(Seq((0L, 2L, 11L, 3L), (1L, 3L, 48L, 6L))))
    // truncation anywhere still fails the walk, never mis-reads
    assert(MediaDecode.decodeMp4Meta(b.take(40)) === None)
    assert(MediaDecode.decodeMp4Samples(b.take(40)) === None)
    // a plain container without sample tables: meta walks, samples=None
    val plain = MediaFixtures.mp4Container(1200, 2500, 1, 4, _ => 1)
    assert(MediaDecode.decodeMp4Meta(plain).isDefined)
    assert(MediaDecode.decodeMp4Samples(plain) === None)
    // uniform-stsz form (sample_size != 0): hand-patch track 0's stsz
    // would be brittle; instead pin the arithmetic through the public
    // walk on a 1-track table with equal sizes
    val uni = MediaFixtures.mp4ContainerStbl(600, 600, 1, 4, _ => 0,
      _ => 3, (_, _) => 7, (_, _) => 2)
    assert(MediaDecode.decodeMp4Samples(uni) ===
      Some(Seq((0L, 3L, 21L, 6L))))
  }

  test("MP4 chunk maps: stsc/stco/co64 slice muxed interleaved layouts exactly") {
    import graft.ext.{MediaDecode, MediaFixtures}
    val frames = Seq(
      Array.tabulate(5)(i => (i + 1).toByte),
      Array.tabulate(7)(i => (i + 10).toByte),
      Array.tabulate(4)(i => (i + 40).toByte))
    val aux = Seq(Array.tabulate(3)(i => (90 + i).toByte),
      Array.tabulate(6)(i => (100 + i).toByte))
    // muxed 2-track layout: soun trak FIRST (hdlr selection, not order),
    // chunks interleaved, co64 video offsets, moov AFTER mdat
    val b = MediaFixtures.mp4MjpegChunked(600, frames, aux)
    val out = MediaDecode.decodeMp4FrameSlices(b)
    assert(out.isDefined, "chunked layout must slice")
    assert(out.get.map(_.toSeq) === frames.map(_.toSeq),
      "chunk-map slices must be the exact video samples, not audio bytes")
    // the two layouts agree byte-for-byte on the same frames
    val legacy =
      MediaDecode.decodeMp4FrameSlices(MediaFixtures.mp4Mjpeg(600, frames))
    assert(legacy.get.map(_.toSeq) === frames.map(_.toSeq))
    // truncation loses moov (it trails mdat here) -> loud failure
    assert(MediaDecode.decodeMp4FrameSlices(b.dropRight(1)) === None)
    // an absolute chunk offset past EOF must fail, not short-slice:
    // patch the co64 table's first offset to the file length
    def findTag(x: Array[Byte], tag: String): Int = {
      val t = tag.getBytes("US-ASCII")
      (0 to x.length - 4).find(i => x(i) == t(0) && x(i + 1) == t(1) &&
        x(i + 2) == t(2) && x(i + 3) == t(3)).get
    }
    val bad = b.clone()
    val op = findTag(bad, "co64") + 4 + 4 + 4 // fourcc, ver/flags, count
    val badOff = bad.length.toLong
    for (i <- 0 until 8)
      bad(op + i) = ((badOff >>> (56 - 8 * i)) & 0xff).toByte
    assert(MediaDecode.decodeMp4FrameSlices(bad) === None)
    // a file with NO video track (patch the vide handler to soun):
    // selection must find nothing and fail, not slice the audio track
    val noVid = b.clone()
    val hp = findTag(noVid, "vide")
    "soun".getBytes("US-ASCII").zipWithIndex.foreach {
      case (c, i) => noVid(hp + i) = c
    }
    assert(MediaDecode.decodeMp4FrameSlices(noVid) === None,
      "a video-less mux must fail loudly, not slice audio samples")
    // hand-built single-track file: an stsc RUN spanning chunks 1-2
    // (first_chunk runs, not per-chunk entries), stco offsets honored
    // across junk gaps between chunks, no hdlr (legacy selection)
    def be(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def box(t: String, body: Array[Byte]) =
      be(8 + body.length) ++ t.getBytes("US-ASCII") ++ body
    val samples = (0 until 5).map(k =>
      Array.tabulate(3 + k)(i => (k * 16 + i).toByte))
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be(0))
    val gap = Array.fill[Byte](5)(0x77)
    val mdat = box("mdat", (samples(0) ++ samples(1) ++ gap ++
      samples(2) ++ samples(3) ++ gap ++ samples(4)).toArray)
    val c1 = ftyp.length + 8
    val c2 = c1 + samples(0).length + samples(1).length + gap.length
    val c3 = c2 + samples(2).length + samples(3).length + gap.length
    val stsz = box("stsz", Array[Byte](0, 0, 0, 0) ++ be(0) ++ be(5) ++
      samples.flatMap(s0 => be(s0.length)).toArray)
    val stts = box("stts",
      Array[Byte](0, 0, 0, 0) ++ be(1) ++ be(5) ++ be(1))
    val stsc = box("stsc", Array[Byte](0, 0, 0, 0) ++ be(2) ++
      be(1) ++ be(2) ++ be(1) ++ // chunks 1-2: two samples each
      be(3) ++ be(1) ++ be(1)) // chunk 3: one
    val stco = box("stco", Array[Byte](0, 0, 0, 0) ++ be(3) ++
      be(c1) ++ be(c2) ++ be(c3))
    val trak = box("trak",
      box("mdia", box("minf", box("stbl", stsz ++ stts ++ stsc ++ stco))))
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be(0) ++ be(0) ++
      be(600) ++ be(5) ++ Array.fill[Byte](80)(0))
    val whole = ftyp ++ mdat ++ box("moov", mvhd ++ trak)
    assert(MediaDecode.decodeMp4FrameSlices(whole).get.map(_.toSeq) ===
      samples.map(_.toSeq), "stsc run must expand across chunks 1-2")
    // a chunk map covering FEWER samples than stsz must fail loudly
    val stscShort = box("stsc",
      Array[Byte](0, 0, 0, 0) ++ be(1) ++ be(1) ++ be(2) ++ be(1))
    val stcoShort = box("stco", Array[Byte](0, 0, 0, 0) ++ be(1) ++ be(c1))
    val trakShort = box("trak", box("mdia", box("minf",
      box("stbl", stsz ++ stts ++ stscShort ++ stcoShort))))
    val wholeShort = ftyp ++ mdat ++ box("moov", mvhd ++ trakShort)
    assert(MediaDecode.decodeMp4FrameSlices(wholeShort) === None,
      "a chunk map not covering stsz must fail, not short-slice")
  }

  test("multimodal query magic matches the mapPartitions decode path") {
    val q = MultimodalQueries.mediaMeta(spark, sf)
      .select($"doc_id", lower($"magic_hex").as("magic_hex"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val media = Tables.documents(spark, sf).filter($"doc_id" < 200)
      .select($"doc_id", $"text".cast("binary"))
      .as[(Long, Array[Byte])]
    MediaDecode.decodePartitioned(media).collect().foreach { m =>
      assert(q(m.doc_id) === m.magic_hex)
    }
  }

  test("X3s outlier census: planted far-off member fires the 2-sigma flag") {
    // a tight cluster (cq within a few thousand ppm of each other) plus
    // ONE member far below the pack: the integer z-test must flag exactly
    // that member, name it worst_id, and its z2 frontier must clear 400
    // centi. The clean-cluster control (same spread, no plant) stays at
    // zero flags — the query's honest behavior on unpolluted data.
    val mc = Seq(
      // cluster 1: tight pack around 800000 ppm + one plant at 100000
      (1L, 10L, 801000L), (1L, 11L, 799000L), (1L, 12L, 800500L),
      (1L, 13L, 800200L), (1L, 14L, 799400L), (1L, 15L, 800900L),
      (1L, 16L, 799100L), (1L, 17L, 100000L),
      // cluster 2: the same pack, unpolluted
      (2L, 20L, 801000L), (2L, 21L, 799000L), (2L, 22L, 800500L),
      (2L, 23L, 800200L), (2L, 24L, 799400L), (2L, 25L, 800900L),
      (2L, 26L, 799100L))
      .toDF("c_id", "vec_id", "cq")
    val rows = SimilarityQueries.outlierCensusOf(mc)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(5), r.getLong(6))).toMap
    val (n1, z1, worst1) = rows(1L)
    assert(n1 === 1L, "the planted member must be the one flag")
    assert(worst1 === 17L, "worst_id must name the plant")
    assert(z1 > 400L, s"plant's z2 frontier must clear the 2-sigma bar, got $z1")
    val (n2, z2, _) = rows(2L)
    assert(n2 === 0L, "the unpolluted control must stay clean")
    assert(z2 <= 400L, s"control frontier must sit under the bar, got $z2")
  }
}
