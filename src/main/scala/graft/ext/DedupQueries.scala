package graft.ext

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Large-scale training-data deduplication operators (SURVEY.md §2.9 X1/X2)
  * over the `documents` table: exact (content hash), MinHash+LSH banding,
  * SimHash, and exact n-gram Jaccard.
  *
  * Scale design: every stage is a hash-partition-friendly groupBy/join on a
  * derived key (content hash / band value / shingle), never an all-pairs
  * cross product. LSH buckets are capped (mega-bucket skip) so one popular
  * band value cannot quadratically blow up the candidate join — the standard
  * guard when this runs over billions of documents.
  *
  * Cross-engine determinism: md5/sha256 agree between Spark and DuckDB, and
  * all scores are small-integer ratios, so the oracle hash-match is exact.
  */
object DedupQueries {

  /** Word-3-gram shingles: tokenize ONCE into a `toks` column, then index
    * it — inlining split(text) into the transform lambda would re-split the
    * text for every array index (O(tokens²) per doc). Docs shorter than 3
    * tokens contribute one whole-text shingle. */
  private[ext] def shingleArr: Column =
    when(size(col("toks")) >= 3,
      expr("transform(sequence(0, size(toks) - 3), " +
        "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
      .otherwise(array(col("text")))

  /** The `toks` column [[shingleArr]] indexes: `text` tokenized once. */
  private[ext] def withToks(df: DataFrame): DataFrame =
    df.withColumn("toks", Ops.words(col("text")))

  /** DuckDB mirror of [[shingleArr]] (1-based list indexing). */
  // NOTE: keep '||' at end-of-line — a continuation line starting with '||'
  // would lose a pipe to the enclosing query's stripMargin.
  private[ext] val shinglesSql: String =
    """CASE WHEN len(string_split(text, ' ')) >= 3
      |  THEN list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
      |    i -> string_split(text, ' ')[i] || ' ' ||
      |      string_split(text, ' ')[i+1] || ' ' ||
      |      string_split(text, ' ')[i+2])
      |  ELSE [text] END""".stripMargin

  // --- X1: exact dedup via content hash ----------------------------------
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(sha2($"text", 256)).as("n_unique"),
        (count(lit(1)) - countDistinct(sha2($"text", 256))).as("n_exact_dupes"))
      .orderBy($"source")
  }

  val dedupExactSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT sha256(text)) AS n_unique,
      |  COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_exact_dupes
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --- X2: MinHash signatures + LSH banding ------------------------------
  private[graft] val K = 8   // minhash functions
  private[graft] val BUCKET_CAP = 50 // skip mega-buckets (LSH standard practice)

  /** Per-doc K-component minhash signature: component j = min over the
    * shingle set of hex chunk [8j, 8j+8) of `md5(sh) || md5('x' || sh)`.
    * Entirely narrow — no explode, no groupBy, no shuffle of the (doc,
    * shingle) relation (round 1 shuffled millions of exploded rows here;
    * MIN being duplicate-insensitive means skipping the shingle dedup
    * changes nothing). Since round 4 the signature is the native
    * single-pass [[graft.functions.MinhashSig]] expression (two digests
    * per shingle, running minima — replaces 9 interpreted HOF traversals;
    * FunctionsSpec pins equality with the HOF form). The K components
    * still land as K named columns in ONE projection, multi-referencing
    * the sig array so CollapseProject keeps it materialized (a
    * single-referenced non-cheap expression gets inlined and re-evaluated
    * per use — measured 15-60× slower in round 2). */
  private[graft] def minhashSigs(s: SparkSession, dir: String): DataFrame =
    minhashSigsOf(Tables.documents(s, dir))

  /** [[minhashSigs]] over an arbitrary (doc_id, text) relation — the core
    * the ContractAndPropertySpec end-to-end LSH reference pin drives on
    * generated corpora. */
  private[graft] def minhashSigsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .transform(withToks)
      .withColumn("sig0", graft.functions.MinhashSig.minhashSig(shingleArr))
      .select($"doc_id" +:
        (0 until K).map(i => $"sig0".getItem(i).as(s"h$i")): _*)
  }

  /** The pre-round-4 composable HOF signature form — kept as the
    * cross-check twin for [[graft.functions.MinhashSig]] (FunctionsSpec
    * asserts bit-identical output on real documents). */
  private[graft] def minhashSigsHof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .transform(withToks)
      .withColumn("hf",
        transform(shingleArr, sh => concat(md5(sh), md5(concat(lit("x"), sh)))))
      .select($"doc_id" +:
        (0 until K).map(i =>
          array_min(transform($"hf", h => substring(h, 8 * i + 1, 8))).as(s"h$i")): _*)
  }

  private val minhashSigsSql: String =
    s"""shingled AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |hashed AS (
       |  SELECT doc_id, md5(sh) || md5('x' || sh) AS hf FROM shingled),
       |sigs AS (
       |  SELECT doc_id,
       |    ${(0 until K).map(i => s"min(substring(hf, ${8 * i + 1}, 8)) AS h$i").mkString(",\n    ")}
       |  FROM hashed GROUP BY doc_id)""".stripMargin

  /** Candidate near-dup pairs: docs sharing any of the K single-row bands,
    * scored by signature agreement (est. Jaccard = matches/K), kept when
    * at least 2 of K components agree. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashPairs(s, dir).orderBy($"doc_a", $"doc_b")
  }

  /** The scored pair table is the hub artifact of the near-dup pipeline —
    * the pair query, cluster resolution, survivor counts, and the curation
    * pipeline all consume it — so, like the cluster table below, it
    * materializes once per (session, dir) (localCheckpoint) instead of
    * re-running the LSH plan per consumer. */
  // Key on the documents.parquet content fingerprint (names/sizes/mtimes),
  // not the directory path alone — a regenerated sf dir in the same JVM
  // must NOT serve stale checkpointed pairs (same staleness contract as
  // ensureStats / dppFactsPath). Session scoping (and death-with-session)
  // comes from GraftSession.memo's weak keying.
  private[ext] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "minhash_pairs", dir, "documents") {
      graft.GraftSession.ckpt(minhashPairsPlan(s, dir))
    }

  /** The un-materialized LSH pair plan ([[dedupMinhashLsh]] without the
    * presentation sort). */
  private def minhashPairsPlan(s: SparkSession, dir: String): DataFrame =
    minhashPairsPlanOf(minhashSigs(s, dir))

  /** One row per (doc, band) of a MinHash signature table: (doc_id, sig,
    * b, v), `sig` the whole K-hash signature and `v` band `b`'s hash. */
  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
        array((0 until K).map(i => col(s"h$i")): _*).as("sig"),
        explode(array(
          (0 until K).map(i => struct(lit(i).as("b"), col(s"h$i").as("v"))): _*)).as("band"))
      .select(col("doc_id"), col("sig"), col("band.b").as("b"), col("band.v").as("v"))

  /** The LSH pair plan over an arbitrary signature relation (doc_id,
    * h0..h{K-1}) — factored so the property pin can run the IDENTICAL
    * band-explode / capped-bucket / pair-expansion machinery on generated
    * corpora against an independent reference. */
  private[graft] def minhashPairsPlanOf(sigs: DataFrame): DataFrame = {
    import sigs.sparkSession.implicits._
    // Fused plan (round 2): signatures are computed without any shuffle
    // (see minhashSigs) and ride along through the band explode. Candidate
    // pairs are generated INSIDE each capped bucket — a bounded-state
    // collect (graft.functions.BoundedCollect) caps the buffer at
    // BUCKET_CAP+1 DURING aggregation, so the whole cap-and-collect is ONE
    // exchange on (b, v) with provably bounded executor state (a
    // mega-bucket collects cap+1 members and is dropped by the size
    // filter), followed by a local O(cap²) pair expansion — no count
    // pre-pass, no re-join, no self-join.
    val bands = bandRows(sigs)
    val boundedCollect = udaf(graft.functions.BoundedCollect.docSigs(BUCKET_CAP))
    val members = bands.groupBy($"b", $"v")
      .agg(boundedCollect($"doc_id", $"sig").as("ms"))
      .filter(size($"ms") >= 2 && size($"ms") <= BUCKET_CAP)
    // The expansion lambda only builds (ids, sig refs) structs — signature
    // agreement is scored AFTER the explode by codegen'd array indexing
    // (scoring inside the interpreted lambda ran per cap² candidate and
    // measured ~15× slower), and the distinct dedups 3 scalars.
    val matches = (0 until K)
      .map(i => when(col("p.sa").getItem(i) === col("p.sb").getItem(i), 1).otherwise(0))
      .reduce(_ + _)
    members
      .select(explode(expr(
        "flatten(transform(ms, x -> filter(transform(ms, y -> " +
          "struct(x.doc_id AS doc_a, y.doc_id AS doc_b, x.sig AS sa, y.sig AS sb)), " +
          "p -> p.doc_a < p.doc_b)))")).as("p"))
      .select($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"),
        (matches.cast(DoubleType) / K).as("est_jaccard"))
      .filter($"est_jaccard" >= 2.0 / K)
      .distinct()
  }

  /** Estimated-Jaccard expression over two sig-table aliases — the ONE
    * definition of the pair score, shared by every LSH-derived oracle. */
  private[ext] def estJaccardSql(a: String, b: String): String =
    s"CAST(${(0 until K).map(i => s"(CASE WHEN $a.h$i = $b.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")} AS DOUBLE) / $K"

  /** Shared oracle CTE chain for LSH candidacy: signatures → single-row
    * bands → capped buckets → ordered candidate pairs (`cpairs`). The ONE
    * definition of what an LSH candidate is — interpolated by the pair
    * query and every cluster-derived oracle, so K / BUCKET_CAP / threshold
    * changes cannot diverge between them. */
  private[ext] val lshCandCtesSql: String =
    s"""$minhashSigsSql,
       |bands AS (
       |  ${(0 until K).map(i => s"SELECT doc_id, $i AS b, h$i AS v FROM sigs")
            .mkString("\n  UNION ALL\n  ")}),
       |ok_buckets AS (
       |  SELECT b, v FROM bands GROUP BY b, v
       |  HAVING COUNT(*) >= 2 AND COUNT(*) <= $BUCKET_CAP),
       |in_buckets AS (
       |  SELECT bands.* FROM bands JOIN ok_buckets USING (b, v)),
       |cpairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM in_buckets x JOIN in_buckets y
       |    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)""".stripMargin

  val dedupMinhashLshSql: String =
    s"""WITH $lshCandCtesSql
       |SELECT doc_a, doc_b,
       |  ${estJaccardSql("sa", "sb")} AS est_jaccard
       |FROM cpairs
       |JOIN sigs sa ON doc_a = sa.doc_id
       |JOIN sigs sb ON doc_b = sb.doc_id
       |WHERE ${estJaccardSql("sa", "sb")} >= ${2.0 / K}
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- X2d: near-dup cluster resolution (connected components) -----------
  /** Iteration cap for connected-components convergence. One iteration is
    * a LARGE-STAR + SMALL-STAR pair (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"), which converges in O(log² n)
    * rounds REGARDLESS of component structure. The cap is a safety valve,
    * not a tuning knob: a 4000-node path needs 13 rounds, so 25 covers
    * components astronomically beyond any real near-dup graph.
    *
    * History (round 18): the previous propagate+pointer-jump loop was
    * documented as O(log d) but is linear on min-GRADIENT structures —
    * chains of glued cliques whose local minima decrease toward one end
    * make every jump hit a local-min self-pointer, so the global min
    * advances one clique per round. The 10× scale tier surfaced exactly
    * that: a 213-doc component (diameter 31) needed 13 rounds and blew
    * the old 12-round cap, a failure no small-SF fixture ever produced. */
  private val CC_MAX_ITERS = 25

  /** Number of label-propagation rounds the last [[clusterLabels]] run
    * needed — exposed for the spec's bounded-iteration assertion. */
  @volatile private[graft] var lastCcIters: Int = -1

  /** Connected-component labels (label = min doc_id in the component) for
    * an undirected pair set, via alternating LARGE-STAR / SMALL-STAR edge
    * contraction (Kiveris et al.) — the structure-robust distributed-CC
    * algorithm, O(log² n) rounds on ANY graph. Each round rewrites the
    * edge set with two hash-aggregate + equi-join passes (no cross
    * product anywhere), eagerly `localCheckpoint`ed so lineage stays flat
    * and the pair generation runs exactly once. At the fixpoint every
    * component is a star centered at its minimum doc id, so the label
    * table is a direct read of the edges. This is the piece that turns
    * near-dup PAIRS into the keep/drop decision a real dedup pipeline
    * executes — and the round bound is what survives a 100-TB pair graph
    * whose component structure nobody audited first (see CC_MAX_ITERS). */
  private[graft] def clusterLabels(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    // canonical (u > v) deduped edge set; eager so the LSH pair plan
    // executes exactly once
    var edges = graft.GraftSession.ckpt(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where($"u" =!= $"v").distinct())
    var iters = 0
    var same = edges.isEmpty
    while (!same && iters < CC_MAX_ITERS) {
      // LARGE-STAR: per node u, m = min(N(u) ∪ {u}); every neighbor
      // LARGER than u links to m (strictly-larger keeps rounds monotone)
      val adj = edges.union(edges.select($"v".as("u"), $"u".as("v")))
      val mins = adj.groupBy($"u").agg(least($"u", min($"v")).as("m"))
      val ls = graft.GraftSession.ckpt(adj.join(mins, "u")
        .where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .where($"u" =!= $"v").distinct())
      // SMALL-STAR: per node u, every neighbor ≤ u (and u itself) links
      // to m — contracts the low side toward the minimum
      val adj2 = ls.union(ls.select($"v".as("u"), $"u".as("v")))
      val mins2 = adj2.groupBy($"u").agg(least($"u", min($"v")).as("m"))
      val next = graft.GraftSession.ckpt(adj2.join(mins2, "u")
        .where($"v" < $"u")
        .select($"v".as("a"), $"m".as("b"))
        .union(mins2.select($"u".as("a"), $"m".as("b")))
        .select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
        .where($"u" =!= $"v").distinct())
      // fixpoint test, ONE job: LS+SS leave exactly the STAR FORESTS
      // unchanged (centers at component minima), and a canonical (u > v)
      // edge set is a star forest iff BOTH (a) no node appears on both
      // sides (no chains) AND (b) no u appears twice (no member linked
      // to two distinct centers). Round 19: (b) was missing — disjoint
      // sides alone admits e.g. {(4,1),(3,1),(3,2),(5,2)} (reached in
      // one round from the path 1-4-3-5-2), where doc 3 carries TWO
      // labels and one component splits in the label read below. The
      // two violation scans union into a single isEmpty job, and this
      // is precisely the postcondition the consumer depends on.
      val sideHits = next.select($"v".as("x"))
        .join(next.select($"u".as("x")), Seq("x"), "left_semi")
      val dupU = next.groupBy($"u").agg(count(lit(1)).as("c"))
        .where($"c" > 1).select($"u".as("x"))
      same = sideHits.union(dupU).isEmpty
      edges = next
      iters += 1
    }
    require(same, s"connected components did not converge in $CC_MAX_ITERS rounds")
    lastCcIters = iters
    // the converged star forest CONTAINS every paired node (every ≥2-node
    // component is fully present: members as u, its center as v), so the
    // label table is a direct read — members label to their center,
    // centers label to themselves
    edges.select($"u".as("src"), $"v".as("lbl"))
      .union(edges.select($"v".as("src"), $"v".as("lbl")).distinct())
  }

  /** (cluster_id, doc_id) membership, computed once per (session, dir):
    * the cluster table is the hub artifact of a dedup pipeline — several
    * downstream queries ([[dedupClusters]], [[dedupKeep]]) consume it, so
    * it memoizes the checkpointed label run instead of re-running the
    * LSH + CC iteration per consumer. */
  private def memberLabels(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "cc_members", dir, "documents") {
      // nested memo consult (minhashPairs) is fine: the per-session memo
      // lock is reentrant
      clusterLabels(s, minhashPairs(s, dir).select(col("doc_a"), col("doc_b")))
        .select(col("lbl").as("cluster_id"), col("src").as("doc_id"))
    }

  /** Members of each cluster ranked by the canonical-pick order (longest
    * text, ties to the smallest doc_id): rn = 1 is the doc a dedup pass
    * keeps. Memoized + checkpointed like the label table itself: four
    * queries consume it (clusters, keep, chain drift ×2 sides, modal
    * agreement), and without materialization each consumer re-runs the
    * documents join (the session-3 plan audit counted the re-scans). */
  private[ext] def rankedMembers(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "cc_ranked", dir, "documents") {
      import s.implicits._
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      val members = memberLabels(s, dir).join(docs, "doc_id")
      // every consumer only distinguishes canonical (rn == 1) from
      // non-canonical (rn > 1), so the canonical — (n_chars DESC,
      // doc_id ASC) max — comes from a map-side-combining
      // groupBy(max(struct)) + join back on cluster_id, not a
      // row_number window partitioned on the cluster id (one viral
      // boilerplate cluster would buffer all its members in a single
      // WindowExec task; the r15 content-key-window rewrite). rn is
      // materialized as 1/2 to keep the consumer contract.
      val canon = members.groupBy($"cluster_id")
        .agg(max(struct($"n_chars", (-$"doc_id").as("ndoc"))).as("cx"))
      members.join(canon, Seq("cluster_id"))
        .withColumn("rn",
          when($"n_chars" === $"cx.n_chars" && $"doc_id" === -$"cx.ndoc",
            lit(1)).otherwise(lit(2)))
        .drop("cx")
        .transform(graft.GraftSession.ckpt(_))
    }

  /** The missing last stage of every near-dup pipeline: resolve the LSH
    * candidate pairs ([[dedupMinhashLsh]]) into clusters and pick one
    * canonical document per cluster (longest text, ties to the smallest
    * doc_id) — the decision that actually deletes data. cluster_id is the
    * component's min doc_id; only true near-dup groups (≥2 members)
    * appear. Oracle: DuckDB recursive transitive closure over the same
    * pair set. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rankedMembers(s, dir)
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when($"rn" === 1, $"doc_id")).as("canonical_doc"),
        max(when($"rn" === 1, $"n_chars")).as("canonical_n_chars"))
      .orderBy($"cluster_id")
  }

  /** Apply the dedup decision: per source, how much of the corpus
    * survives once every non-canonical cluster member is dropped. This is
    * the number a data curator actually reports ("dedup removed N% of
    * crawl X") and the summary a 100-TB run materializes next to the
    * surviving corpus; reuses the memoized cluster table, so the whole
    * pipeline (pairs → components → keep set) computes once. */
  def dedupKeep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perSource = Tables.documents(s, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val droppedPerSource = rankedMembers(s, dir)
      .filter($"rn" =!= 1)
      .groupBy($"source").agg(count(lit(1)).as("nd"))
    perSource.join(droppedPerSource, Seq("source"), "left")
      .select($"source", $"n_docs",
        coalesce($"nd", lit(0L)).as("n_dropped"),
        ($"n_docs" - coalesce($"nd", lit(0L))).as("n_kept"))
      .orderBy($"source")
  }

  /** DuckDB mirror of [[minhashPairs]]: [[lshCandCtesSql]], then the
    * CTE `name` (doc_a, doc_b) of the candidates whose estimated Jaccard
    * clears 2/K. */
  private[ext] def lshPairsCtesSql(name: String): String =
    s"""$lshCandCtesSql,
       |$name AS (
       |  SELECT doc_a, doc_b FROM cpairs
       |  JOIN sigs sa ON doc_a = sa.doc_id
       |  JOIN sigs sb ON doc_b = sb.doc_id
       |  WHERE ${estJaccardSql("sa", "sb")} >= ${2.0 / K})""".stripMargin

  /** Shared oracle CTE chain: LSH pairs → symmetric edges → recursive
    * transitive closure → per-node min label → canonical-ranked members.
    * Consumed by both cluster-shaped oracles. */
  private[ext] val ccCtesSql: String =
    s"""${lshPairsCtesSql("fpairs")},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM fpairs
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM fpairs),
       |reach(src, lbl) AS (
       |  SELECT src, dst AS lbl FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
       |labels AS (
       |  SELECT src AS doc_id, LEAST(src, MIN(lbl)) AS cluster_id
       |  FROM reach GROUP BY src),
       |ranked AS (
       |  SELECT l.cluster_id, l.doc_id, d.source, d.n_chars,
       |    row_number() OVER (PARTITION BY l.cluster_id
       |      ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn
       |  FROM labels l JOIN documents d ON l.doc_id = d.doc_id)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $ccCtesSql
       |SELECT cluster_id, COUNT(*) AS n_members,
       |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
       |  MAX(CASE WHEN rn = 1 THEN n_chars END) AS canonical_n_chars
       |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  val dedupKeepSql: String =
    s"""WITH RECURSIVE $ccCtesSql,
       |dropped AS (
       |  SELECT source, COUNT(*) AS nd FROM ranked
       |  WHERE rn <> 1 GROUP BY source)
       |SELECT s.source, s.n_docs,
       |  COALESCE(dr.nd, 0) AS n_dropped,
       |  s.n_docs - COALESCE(dr.nd, 0) AS n_kept
       |FROM (SELECT source, COUNT(*) AS n_docs
       |      FROM documents GROUP BY source) s
       |LEFT JOIN dropped dr USING (source)
       |ORDER BY source""".stripMargin

  // --- X2o: transitive-chain drift audit ---------------------------------

  /** Argmin packing stride for (star_bp asc, doc_id asc): star_bp ≤ 10⁴,
    * so the pack stays inside a long while doc_id < 10¹² (the same
    * documented bound as SimilarityQueries.ID_STRIDE). */
  private val DRIFT_STRIDE = 1000000000000L

  /** The dedup-quality hazard every transitive-closure near-dup pipeline
    * carries: closure glues A~B~C into one cluster even when A and C were
    * never LSH candidates — so the canonical doc can be arbitrarily
    * DISSIMILAR to a far member it is about to replace ("chain drift").
    * This audit measures the drift directly: for every cluster, the EXACT
    * shingle-set Jaccard between the canonical and each other member
    * (star pairs — the pairs the keep-decision actually collapses), in
    * integer basis points. Emits per cluster the worst member (min star
    * similarity + its doc), and how many members sit below the LSH
    * nominal floor (est ≥ 2/K = 0.25 ⇒ star_bp < 2500 means the closure
    * glued a pair the banding itself would never have admitted).
    *
    * Scale: star pairs are Σ(|cluster|−1) ≤ |docs| — LINEAR, never the
    * quadratic within-cluster pair set; the exact-overlap count is the
    * same (doc, shingle) equi-join shape as the X2h truth tier, its work
    * bounded by the star pairs' shingle mass. Reuses the memoized cluster
    * labels, so a session that already resolved clusters pays only the
    * star joins. */
  /** Exact-scored star pairs (canonical → each other member) with their
    * shingle-set Jaccard in basis points — the shared relation under both
    * the chain-drift census and the modal-agreement audit. */
  private def chainStarScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranked = rankedMembers(s, dir)
    val can = ranked.filter($"rn" === 1)
      .select($"cluster_id", $"doc_id".as("can_doc"))
    val mem = ranked.filter($"rn" > 1)
      .select($"cluster_id", $"doc_id".as("mem_doc"))
    val star = can.join(mem, "cluster_id")
    // shingle SETS only for cluster members (an equi-join prune — members
    // are the near-dup subset, a small corpus fraction), materialized at
    // |members| rows so both star sides read it without re-scanning the
    // corpus; the intersection then runs locally per pair
    // (array_intersect over pre-distinct arrays), replacing the 4-join
    // (doc, shingle) explode shape the plan audit counted 8 scans for
    val shArr = Tables.documents(s, dir)
      .join(ranked.select($"doc_id"), "doc_id")
      .transform(withToks)
      .select($"doc_id", array_distinct(shingleArr).as("sh_arr"))
      .withColumn("n_sh", size($"sh_arr").cast("long"))
      .transform(graft.GraftSession.ckpt(_))
    star
      .join(shArr.toDF("can_doc", "sha", "n_sh_a"), "can_doc")
      .join(shArr.toDF("mem_doc", "shb", "n_sh_b"), "mem_doc")
      .withColumn("n_inter",
        size(array_intersect($"sha", $"shb")).cast("long"))
      .withColumn("star_bp", expr(
        "n_inter * 10000 div (n_sh_a + n_sh_b - n_inter)"))
      .select($"cluster_id", $"can_doc", $"mem_doc", $"star_bp")
  }

  def dedupChainDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    chainStarScored(s, dir).groupBy($"cluster_id")
      .agg((count(lit(1)) + 1).as("n_members"),
        min(expr(s"star_bp * $DRIFT_STRIDE + mem_doc")).as("packed"),
        sum(when($"star_bp" < 2500, 1L).otherwise(0L)).as("n_drifted"))
      .select($"cluster_id", $"n_members",
        expr(s"packed div $DRIFT_STRIDE").as("min_star_bp"),
        expr(s"packed % $DRIFT_STRIDE").as("worst_doc"),
        $"n_drifted")
      .orderBy($"cluster_id")
  }

  /** Oracle mirror of [[chainStarScored]] (composed after [[ccCtesSql]]):
    * star pairs → distinct shingles → overlap counts → scored stars. */
  private val chainStarCtesSql: String =
    s"""dstar AS (
       |  SELECT c.cluster_id, c.doc_id AS can_doc, m.doc_id AS mem_doc
       |  FROM ranked c JOIN ranked m
       |    ON c.cluster_id = m.cluster_id AND c.rn = 1 AND m.rn > 1),
       |dsh AS (
       |  SELECT DISTINCT doc_id, unnest($shinglesSql) AS sh FROM documents),
       |dsizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
       |dinter AS (
       |  SELECT s.cluster_id, s.can_doc, s.mem_doc, COUNT(*) AS n_inter
       |  FROM dstar s
       |  JOIN dsh a ON a.doc_id = s.can_doc
       |  JOIN dsh b ON b.doc_id = s.mem_doc AND b.sh = a.sh
       |  GROUP BY 1, 2, 3),
       |dscored AS (
       |  SELECT s.cluster_id, s.can_doc, s.mem_doc,
       |    COALESCE(i.n_inter, 0) * 10000 //
       |      (za.n_sh + zb.n_sh - COALESCE(i.n_inter, 0)) AS star_bp
       |  FROM dstar s
       |  LEFT JOIN dinter i ON i.cluster_id = s.cluster_id
       |    AND i.can_doc = s.can_doc AND i.mem_doc = s.mem_doc
       |  JOIN dsizes za ON za.doc_id = s.can_doc
       |  JOIN dsizes zb ON zb.doc_id = s.mem_doc)""".stripMargin

  val dedupChainDriftSql: String =
    s"""WITH RECURSIVE $ccCtesSql,
       |$chainStarCtesSql
       |SELECT cluster_id, COUNT(*) + 1 AS n_members,
       |  CAST(MIN(star_bp * $DRIFT_STRIDE + mem_doc) // $DRIFT_STRIDE
       |    AS BIGINT) AS min_star_bp,
       |  CAST(MIN(star_bp * $DRIFT_STRIDE + mem_doc) % $DRIFT_STRIDE
       |    AS BIGINT) AS worst_doc,
       |  CAST(SUM(CASE WHEN star_bp < 2500 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_drifted
       |FROM dscored GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // --- X2p: text-vs-embedding modal agreement ----------------------------

  /** Embedding dimensionality of the corpus vectors (pinned by the
    * similarity tier; both mirrors iterate exactly this many indices). */
  private val EMB_DIM = 64

  /** Does the EMBEDDING modality agree with the text near-dup decision?
    * Every pair the keep-decision collapses (the [[chainStarScored]] star
    * pairs) is scored on BOTH signals: exact shingle Jaccard (text) and
    * exact integer-quantized cosine (embedding, the X3a arithmetic with
    * doc_id ≡ vec_id — the convention the hybrid-retrieval tier pins).
    * Binned by text-similarity decile, the result is the modality
    * CALIBRATION CURVE: per decile, how many collapsed pairs, and the
    * mean/min/max embedding cosine in integer micro-units. A flat or
    * inverted curve means the two dedup tiers (MinHash and SemDeDup)
    * would keep DIFFERENT documents — the audit a curator runs before
    * trusting either tier alone.
    *
    * Scale: star pairs are corpus-linear; the embedding join is two hash
    * equi-joins on doc id; the cosine is one codegen'd integer dot per
    * pair ([[graft.functions.LongArrayDot]]); the decile census is an
    * 11-row aggregate. The double cosine is IEEE-deterministic (integer
    * dot, correctly-rounded sqrt) and quantized to micro-units before it
    * crosses the oracle boundary. */
  def dedupModalAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q6 = (x: org.apache.spark.sql.Column) =>
      floor(x.cast("double") * 1000000L)
    // quantize only the cluster members' vectors (equi-join prune on the
    // memoized member table) — the star sides then read a |members|-row
    // materialization instead of re-quantizing the corpus per side
    val emb = Tables.embeddings(s, dir)
      .join(rankedMembers(s, dir).select($"doc_id".as("vec_id")), "vec_id")
      .select($"vec_id", transform($"embedding", x => q6(x)).as("qe"))
      .select($"vec_id", $"qe",
        graft.functions.LongArrayDot.longArrayDot($"qe", $"qe").as("nrm"))
      .transform(graft.GraftSession.ckpt(_))
    val dot = graft.functions.LongArrayDot.longArrayDot($"qa", $"qb")
    val scored = chainStarScored(s, dir)
      .join(emb.toDF("can_doc", "qa", "na"), "can_doc")
      .join(emb.toDF("mem_doc", "qb", "nb"), "mem_doc")
      .withColumn("cos_u",
        floor(dot.cast("double") /
          (sqrt($"na".cast("double")) * sqrt($"nb".cast("double")))
          * 1000000L).cast("long"))
    scored
      .groupBy(expr("star_bp div 1000").as("bp_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(cos_u) div count(1)").as("mean_cos_u"),
        min($"cos_u").as("min_cos_u"),
        max($"cos_u").as("max_cos_u"))
      .orderBy($"bp_decile")
  }

  val dedupModalAgreementSql: String =
    s"""WITH RECURSIVE $ccCtesSql,
       |$chainStarCtesSql,
       |didx AS (SELECT unnest(generate_series(1, $EMB_DIM)) AS g),
       |dnrm AS (
       |  SELECT vec_id,
       |    CAST(SUM(CAST(floor(CAST(embedding[i.g] AS DOUBLE) * 1000000) AS BIGINT)
       |           * CAST(floor(CAST(embedding[i.g] AS DOUBLE) * 1000000) AS BIGINT))
       |      AS BIGINT) AS nrm
       |  FROM embeddings, didx i GROUP BY vec_id),
       |ddot AS (
       |  SELECT s.cluster_id, s.can_doc, s.mem_doc, s.star_bp,
       |    CAST(SUM(CAST(floor(CAST(a.embedding[i.g] AS DOUBLE) * 1000000) AS BIGINT)
       |           * CAST(floor(CAST(b.embedding[i.g] AS DOUBLE) * 1000000) AS BIGINT))
       |      AS BIGINT) AS dot
       |  FROM dscored s
       |  JOIN embeddings a ON a.vec_id = s.can_doc
       |  JOIN embeddings b ON b.vec_id = s.mem_doc, didx i
       |  GROUP BY 1, 2, 3, 4),
       |dcos AS (
       |  SELECT d.star_bp,
       |    CAST(floor(CAST(d.dot AS DOUBLE)
       |      / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
       |      * 1000000) AS BIGINT) AS cos_u
       |  FROM ddot d
       |  JOIN dnrm na ON na.vec_id = d.can_doc
       |  JOIN dnrm nb ON nb.vec_id = d.mem_doc)
       |SELECT CAST(star_bp // 1000 AS BIGINT) AS bp_decile,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(cos_u) // COUNT(*) AS BIGINT) AS mean_cos_u,
       |  CAST(MIN(cos_u) AS BIGINT) AS min_cos_u,
       |  CAST(MAX(cos_u) AS BIGINT) AS max_cos_u
       |FROM dcos GROUP BY 1 ORDER BY bp_decile""".stripMargin

  // --- X2b: SimHash (16-bit) collision groups ----------------------------
  private val SIMHASH_BITS = 16

  /** Bit j of a token's hash: parity of hex char j+1 of ONE md5(token)
    * digest — identical in Spark and DuckDB. One digest yields all 16 bits
    * (the 16 hex chars of the first 64 digest bits), 16× less hash work
    * than a per-bit salted digest; same LSH semantics class. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    simhashGroupsOf(Tables.documents(s, dir))

  /** [[dedupSimhash]] over an arbitrary (doc_id, text) relation — factored
    * for the ContractAndPropertySpec reference pin. */
  private[graft] def simhashGroupsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // per-doc token-set dedup is narrow (array_distinct before the
    // explode) — a row-level distinct here would shuffle the whole
    // (doc, token) relation first
    val tok = docs
      .select($"doc_id", explode(array_distinct(Ops.words($"text"))).as("tok"))
      .select($"doc_id", md5($"tok").as("h"))
    val bitSums = (0 until SIMHASH_BITS).map { j =>
      sum(when(ascii(substring($"h", j + 1, 1)) % 2 === 1, 1)
        .otherwise(-1)).as(s"s$j")
    }
    val simhash = (0 until SIMHASH_BITS)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id", simhash.as("simhash"))
      .groupBy($"simhash")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .filter($"n_docs" > 1)
      .orderBy($"simhash")
  }

  val dedupSimhashSql: String =
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |hs AS (
       |  SELECT doc_id, md5(tok) AS h FROM toks),
       |bitsums AS (
       |  SELECT doc_id,
       |    ${(0 until SIMHASH_BITS).map(j =>
              s"SUM(CASE WHEN ascii(substring(h, ${j + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
              .mkString(",\n    ")}
       |  FROM hs GROUP BY doc_id),
       |hashes AS (
       |  SELECT doc_id,
       |    ${(0 until SIMHASH_BITS).map(j =>
              s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS simhash
       |  FROM bitsums)
       |SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM hashes GROUP BY simhash HAVING COUNT(*) > 1
       |ORDER BY simhash""".stripMargin

  // --- X2c: exact n-gram Jaccard for a sampled query set -----------------
  /** A shingle present in more than this many docs (per lang) is a
    * stop-shingle: it carries no dedup signal and, at scale, one ubiquitous
    * 3-gram would otherwise blow the equi-join bucket quadratically. Jaccard
    * is computed over the non-stop shingle sets (mirrored in the oracle). */
  private[graft] val DF_CAP = 100

  /** Exact 3-gram Jaccard of ~1% sampled docs vs all same-lang docs, top-5
    * matches each — the verification tier one runs on LSH candidates.
    * Posting-list plan: per-doc shingle sets dedup narrowly
    * (array_distinct, no shuffle), shingle doc-frequencies come from a
    * partial-agg count (scale-safe on a mega-shingle), and candidate pairs
    * expand locally inside each ≤ [[DF_CAP]] posting list — the
    * intersection count is an aggregation over expanded pairs, never a
    * shingle-relation self-join.
    *
    * Why there is NO hash-keyed twin of this query (the X1c move,
    * [[substringDedupHashed]], does not transfer): what crosses the
    * shingle exchange here is set CARDINALITIES — |A∩B| enters the
    * numerator and |A|+|B| the denominator of an EXACT Jaccard. Under
    * an 8-byte fingerprint key, a within-doc collision between two
    * different shingles shrinks that doc's |set|, and a cross-doc
    * collision manufactures a phantom intersection member — both
    * silently shift the reported basis points. X1c survives hashing
    * because its candidates are POSITIONS: the verify stage re-slices
    * each candidate's window string and tests true equality, so a
    * collision dies before the output. A cardinality admits no such
    * spot-check — "verifying" |A∩B| means re-deriving both shingle
    * sets at string grain, i.e. exactly the exchange the hash was
    * supposed to avoid, for every candidate pair. Hash-keyed twins are
    * sound where the hashed value is re-checked per member (X1c) or
    * where a bounded overcount is acceptable by contract
    * ([[substringOverlapOf]]'s admission bp); they are NOT provably
    * exact where a count crosses the hash, so this query keeps its
    * string-keyed, DF-capped posting lists. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(Tables.documents(s, dir))

  /** [[dedupNgramJaccard]] over an arbitrary (doc_id, lang, text) relation
    * — factored for the ContractAndPropertySpec reference pin. */
  private[graft] def ngramJaccardOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sh = docs
      .transform(withToks)
      .select($"doc_id", $"lang", explode(array_distinct(shingleArr)).as("sh"))
    // stop-shingles (df > cap) are usually few, but their cardinality is
    // only bounded by |pairs|/DF_CAP — on an adversarial corpus a forced
    // broadcast could exceed executor memory. No hint: AQE sees the
    // runtime size and converts the anti-join to broadcast exactly when
    // the hot set is genuinely tiny, else it stays a bounded shuffle.
    val hotShingles = sh.groupBy($"lang", $"sh")
      .agg(count(lit(1)).as("df"))
      .filter($"df" > DF_CAP)
      .select($"lang", $"sh")
    val shOk = sh.join(hotShingles, Seq("lang", "sh"), "left_anti")
    val sizes = shOk.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    // r21 (verdict r20 item 5): a posting list contributes candidate pairs
    // ONLY if it contains a query doc (the expansion keeps q % 97 = 0 as
    // the left element), yet the collect_list exchange used to assemble
    // EVERY non-stop posting list and discard the ~99% with no query doc
    // inside the expansion lambda. Admit shingles on membership in a
    // query doc FIRST: qsh is the (lang, shingle) dictionary of the ~1%
    // query docs (the doc_id filter prunes at the scan, before shingling),
    // and the semi-join drops non-query shingle rows BEFORE the posting
    // exchange. Lossless by construction — a surviving list keeps ALL its
    // docs (the semi-join filters on the shingle key, never the doc), and
    // every list containing a query doc survives because that query doc's
    // own (lang, sh) row puts sh in qsh. Deriving qsh from the raw `sh`
    // (not shOk) keeps it one narrow 1%-scan; the superset (it may name
    // hot shingles) is harmless — hot rows are already gone from shOk.
    // Measured 1.5x faster than the unadmitted form (OPTIMIZATION_r21.md §3).
    val qsh = sh.filter($"doc_id" % 97 === 0).select($"lang", $"sh").distinct()
    val postings = shOk.join(qsh, Seq("lang", "sh"), "left_semi")
      .groupBy($"lang", $"sh")
      .agg(collect_list($"doc_id").as("docs"))
      .filter(size($"docs") >= 2)
    val inter = postings
      .select(explode(expr(
        "flatten(transform(filter(docs, q -> q % 97 = 0), " +
          "q -> transform(filter(docs, d -> d != q), " +
          "d -> struct(q AS q_id, d AS doc_id))))")).as("p"))
      .groupBy($"p.q_id".as("q_id"), $"p.doc_id".as("doc_id"))
      .agg(count(lit(1)).as("n_inter"))
    val qsz = sizes.toDF("qs_id", "q_n")
    val scored = inter
      .join(qsz, $"q_id" === $"qs_id")
      .join(sizes.toDF("ds_id", "d_n"), $"doc_id" === $"ds_id")
      .select($"q_id", $"doc_id",
        ($"n_inter".cast(DoubleType) / ($"q_n" + $"d_n" - $"n_inter")).as("jaccard"))
    SimilarityQueries.topK(scored, "q_id", 5, $"jaccard".desc, $"doc_id".asc)(
      "q_id", "rnk", "doc_id", "jaccard")
  }

  val dedupNgramJaccardSql: String =
    s"""WITH sh0 AS (
       |  SELECT DISTINCT doc_id, lang, unnest($shinglesSql) AS sh FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, sh FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY lang, sh) AS df FROM sh0)
       |  WHERE df <= $DF_CAP),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT q.doc_id AS q_id, d.doc_id AS doc_id, COUNT(*) AS n_inter
       |  FROM sh q JOIN sh d
       |    ON q.lang = d.lang AND q.sh = d.sh AND q.doc_id <> d.doc_id
       |  WHERE q.doc_id % 97 = 0
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT q_id, inter.doc_id,
       |    CAST(n_inter AS DOUBLE) / (qs.n_sh + ds.n_sh - n_inter) AS jaccard
       |  FROM inter
       |  JOIN sizes qs ON q_id = qs.doc_id
       |  JOIN sizes ds ON inter.doc_id = ds.doc_id)
       |SELECT q_id, rnk, doc_id, jaccard FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY jaccard DESC, doc_id ASC) AS rnk
       |  FROM scored) WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin

  // --- X2f: incremental dedup — delta vs standing corpus ------------------

  /** Incremental near-dup screening: dedup an arriving DELTA batch (here
    * every 17th doc) against the standing CORPUS without recomputing
    * corpus-vs-corpus pairs — the shape a production pipeline runs on every
    * ingest tick, where re-running full-corpus LSH per batch is the classic
    * scale failure. The corpus side collapses to cap-bounded LSH buckets in
    * one exchange ([[graft.functions.BoundedCollect]], mega-buckets
    * dropped); the delta's band rows equi-join those buckets, candidates
    * expand locally, and signature agreement is scored post-explode by
    * codegen'd indexing. At 100 TB the corpus bucket table is a standing
    * artifact updated per batch, so marginal cost is O(|delta| · K) join
    * rows — never O(|corpus|).
    *
    * Output: one row per delta doc — near-dup count against the corpus,
    * best estimated Jaccard, and the best-matching corpus doc (ties → min
    * doc_id). Docs with no candidate survive with n_matches = 0. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val deltaPred = col("doc_id") % 17 === 0
    val bands = bandRows(minhashSigs(s, dir))
    val boundedCollect = udaf(graft.functions.BoundedCollect.docSigs(BUCKET_CAP))
    val corpusBuckets = bands.where(!deltaPred)
      .groupBy($"b", $"v")
      .agg(boundedCollect($"doc_id", $"sig").as("ms"))
      .filter(size($"ms") <= BUCKET_CAP)
    val matches = (0 until K)
      .map(i => when($"sig".getItem(i) === $"m.sig".getItem(i), 1).otherwise(0))
      .reduce(_ + _)
    val scored = bands.where(deltaPred)
      .join(corpusBuckets, Seq("b", "v"))
      .select($"doc_id", $"sig", explode($"ms").as("m"))
      .select($"doc_id", $"m.doc_id".as("match_id"),
        (matches.cast(DoubleType) / K).as("est_jaccard"))
      .filter($"est_jaccard" >= 2.0 / K)
      .distinct() // a pair seen via several bands counts once
    val wBest = Window.partitionBy($"doc_id")
      .orderBy($"est_jaccard".desc, $"match_id".asc)
    val agg = scored
      .withColumn("rn", row_number().over(wBest))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_matches"),
        max($"est_jaccard").as("best_est"),
        max(when($"rn" === 1, $"match_id")).as("best_match"))
    Tables.documents(s, dir).where(deltaPred).select($"doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_matches", lit(0L)).as("n_matches"),
        $"best_est", $"best_match")
      .orderBy($"doc_id")
  }

  val dedupIncrementalSql: String =
    s"""WITH $minhashSigsSql,
       |bands AS (
       |  ${(0 until K).map(i => s"SELECT doc_id, $i AS b, h$i AS v FROM sigs")
            .mkString("\n  UNION ALL\n  ")}),
       |cbands AS (SELECT * FROM bands WHERE doc_id % 17 <> 0),
       |okb AS (
       |  SELECT b, v FROM cbands GROUP BY b, v HAVING COUNT(*) <= $BUCKET_CAP),
       |cb AS (SELECT cbands.* FROM cbands JOIN okb USING (b, v)),
       |cand AS (
       |  SELECT DISTINCT d.doc_id AS doc_id, c.doc_id AS match_id
       |  FROM bands d JOIN cb c ON d.b = c.b AND d.v = c.v
       |  WHERE d.doc_id % 17 = 0),
       |scored AS (
       |  SELECT cand.doc_id, match_id,
       |    ${estJaccardSql("sa", "sb")} AS est_jaccard
       |  FROM cand
       |  JOIN sigs sa ON cand.doc_id = sa.doc_id
       |  JOIN sigs sb ON match_id = sb.doc_id
       |  WHERE ${estJaccardSql("sa", "sb")} >= ${2.0 / K}),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY est_jaccard DESC, match_id ASC) AS rn
       |  FROM scored),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       |    MAX(est_jaccard) AS best_est,
       |    MAX(CASE WHEN rn = 1 THEN match_id END) AS best_match
       |  FROM ranked GROUP BY doc_id)
       |SELECT d.doc_id, CAST(COALESCE(n_matches, 0) AS BIGINT) AS n_matches,
       |  best_est, best_match
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 17 = 0) d
       |LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --- X2l: cross-source contamination census -----------------------------

  /** Where do near-duplicates CROSS source boundaries? A near-dup pair
    * inside one source is ordinary redundancy; a pair straddling two
    * sources is leakage — a mirror, a scrape-of-a-scrape, or eval data
    * inside a training source (the between-SOURCE complement of X4's
    * n-gram benchmark decontamination). One census over the memoized
    * thresholded pair table: two dimension joins to attach sources, an
    * unordered (least, greatest) source pair key, one hash count. Off-
    * diagonal rows are the contamination audit. */
  def dedupCrossSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, dir).select($"doc_id", $"source")
    minhashPairs(s, dir).select($"doc_a", $"doc_b")
      .join(src.toDF("doc_a", "src_a"), Seq("doc_a"))
      .join(src.toDF("doc_b", "src_b"), Seq("doc_b"))
      .select(least($"src_a", $"src_b").as("source_1"),
        greatest($"src_a", $"src_b").as("source_2"))
      .groupBy($"source_1", $"source_2")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_1", $"source_2")
  }

  val dedupCrossSourceSql: String =
    s"""WITH $lshCandCtesSql,
       |lshp AS (
       |  SELECT doc_a, doc_b FROM cpairs
       |  JOIN sigs sa ON doc_a = sa.doc_id
       |  JOIN sigs sb ON doc_b = sb.doc_id
       |  WHERE ${estJaccardSql("sa", "sb")} >= ${2.0 / K}),
       |src AS (SELECT doc_id, source FROM documents)
       |SELECT least(a.source, b.source) AS source_1,
       |  greatest(a.source, b.source) AS source_2,
       |  COUNT(*) AS n_pairs
       |FROM lshp
       |JOIN src a ON doc_a = a.doc_id
       |JOIN src b ON doc_b = b.doc_id
       |GROUP BY 1, 2 ORDER BY source_1, source_2""".stripMargin

  // --- X2m: banding-config sweep ------------------------------------------

  /** The banding frontier AS DATA — the X2k audit generalized across the
    * (r rows per band, b = K/r bands) axis every LSH deployment tunes: for
    * r ∈ {1, 2, 4}, a candidate pair shares at least one of the K/r bands
    * formed by concatenating r consecutive signature components, under the
    * SAME capped-bucket discipline as the production pipeline; each config
    * is scored against the exact J ≥ 0.6 truth
    * ([[SimJoinQueries.exactPairs]], memoized). Theory says
    * P(candidate) = 1 − (1 − J^r)^(K/r) — longer bands trade recall for
    * precision; this row set shows the actual trade on the actual corpus,
    * which is what picks the config.
    *
    * Scale: signatures are the zero-shuffle build; all three configs'
    * bands ride ONE explode (8+4+2 = 14 rows per doc); buckets stay
    * cap-bounded per (r, band, value) via [[graft.functions.BoundedCollect]]
    * (ids-only member form); pair expansion is local to a bucket; the
    * truth comparison is an equi-join on the pair key plus a 3-row
    * aggregate. */
  def dedupBandSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rs = Seq(1, 2, 4)
    val bandStructs = rs.flatMap { r =>
      (0 until K / r).map { j =>
        struct(lit(r).as("r"), lit(j).as("b"),
          concat((r * j until r * j + r).map(i => col(s"h$i")): _*).as("v"))
      }
    }
    val bands = minhashSigs(s, dir)
      .select($"doc_id", explode(array(bandStructs: _*)).as("band"))
      .select($"doc_id", $"band.r".as("r"), $"band.b".as("b"),
        $"band.v".as("v"))
    val bounded = udaf(graft.functions.BoundedCollect.docIds(BUCKET_CAP))
    val members = bands.groupBy($"r", $"b", $"v")
      .agg(bounded($"doc_id").as("ms"))
      .filter(size($"ms") >= 2 && size($"ms") <= BUCKET_CAP)
    val cand = members
      .select($"r", explode(expr(
        "flatten(transform(ms, x -> filter(transform(ms, y -> " +
          "struct(x AS doc_a, y AS doc_b)), p -> p.doc_a < p.doc_b)))"))
        .as("p"))
      .select($"r", $"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"))
      .distinct()
    val truth = SimJoinQueries.exactPairs(s, dir)
      .select($"a_id".as("doc_a"), $"b_id".as("doc_b"), lit(1L).as("e"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    cand.join(truth, Seq("doc_a", "doc_b"), "left")
      .groupBy($"r")
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce($"e", lit(0L))).as("n_both"))
      .crossJoin(broadcast(nTruth))
      .select($"r".cast(LongType).as("rows_per_band"),
        expr(s"$K div r").cast(LongType).as("n_bands"),
        $"n_cand", $"n_both",
        expr("n_both * 1000000 div nullif(n_cand, 0)").as("prec_ppm"),
        expr("n_both * 1000000 div nullif(n_truth, 0)").as("rec_ppm"))
      .orderBy($"rows_per_band")
  }

  val dedupBandSweepSql: String = {
    val rsSeq = Seq(1, 2, 4)
    val bandsSql = rsSeq.flatMap { r =>
      (0 until K / r).map { j =>
        val v = (r * j until r * j + r).map(i => s"h$i").mkString(" || ")
        s"SELECT doc_id, $r AS r, $j AS b, $v AS v FROM sigs"
      }
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $minhashSigsSql,
       |sbands AS (
       |  $bandsSql),
       |okb AS (
       |  SELECT r, b, v FROM sbands GROUP BY r, b, v
       |  HAVING COUNT(*) >= 2 AND COUNT(*) <= $BUCKET_CAP),
       |inb AS (SELECT sbands.* FROM sbands JOIN okb USING (r, b, v)),
       |scand AS (
       |  SELECT DISTINCT x.r, x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM inb x JOIN inb y
       |    ON x.r = y.r AND x.b = y.b AND x.v = y.v
       |    AND x.doc_id < y.doc_id),
       |${SimJoinQueries.exactTruthCtesSql},
       |stats AS (
       |  SELECT c.r, COUNT(*) AS n_cand,
       |    CAST(SUM(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_both
       |  FROM scand c
       |  LEFT JOIN exact e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
       |  GROUP BY 1)
       |SELECT CAST(r AS BIGINT) AS rows_per_band,
       |  CAST($K // r AS BIGINT) AS n_bands, n_cand, n_both,
       |  CAST(n_both * 1000000 // nullif(n_cand, 0) AS BIGINT) AS prec_ppm,
       |  CAST(n_both * 1000000 // nullif((SELECT COUNT(*) FROM exact), 0)
       |    AS BIGINT) AS rec_ppm
       |FROM stats ORDER BY rows_per_band""".stripMargin
  }

  // --- X1c: exact repeated-substring spans (suffix-array-style dedup) ----

  /** Fixed fingerprint window for [[substringDedup]] — the minimum
    * duplicated-substring length the scan detects (chars; the published
    * ExactSubstr threshold is ~50 tokens, scaled to this corpus's short
    * synthetic docs). */
  private[graft] val SUBSTR_W = 40

  /** Exact repeated-SUBSTRING spans across the corpus — the
    * character-level complement of line-keyed span scrubbing: find every
    * maximal span whose every length-[[SUBSTR_W]] window also occurs
    * elsewhere in the corpus (another doc OR another offset of the same
    * doc), i.e. the spans an exact-substring deduplicator would cut.
    * Published design this re-expresses Spark-first: suffix-array
    * ExactSubstr dedup. A suffix array is a single-machine structure; the
    * distributed equivalent is (1) every char position emits its W-char
    * window, (2) windows group on their content — positions sharing a
    * window are exactly the positions a suffix array would place in one
    * LCP≥W run, (3) per doc, surviving positions p, p' merge into one
    * span while p' − p ≤ W (their windows overlap or touch), a
    * gaps-islands pass. All three stages are hash-partitioned narrow
    * aggregates — O(total chars) rows, the same asymptotics as suffix
    * array construction, but embarrassingly parallel with no global
    * structure.
    *
    * Scale: since r16 BOTH forms admit candidates on the 8-byte rolling
    * hash (the corpus-chars-grain exchange carries 24 bytes/row, not
    * W+16) and verify true window equality within the candidate tail —
    * still exact, because equal windows always hash equal and the verify
    * removes collisions. This form verifies at position grain; the
    * [[substringDedupHashed]] twin verifies at doc grain so corpus text
    * never shuffles — the 100-TB shape (grain trade documented at
    * [[substringDedupOf]]). Output is the span table a scrubber
    * consumes. */
  def substringDedup(s: SparkSession, dir: String): DataFrame =
    substringDedupOf(Tables.documents(s, dir))

  /** Docs-DF-parameterized body of [[substringDedup]] (the spec drives a
    * non-ASCII corpus through it directly). */
  private[graft] def substringDedupOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // Two-stage X1c shape (r16), shared with [[substringDedupHashedOf]]:
    // ADMIT positions on the 8-byte rolling-hash fingerprint (recall 1 —
    // equal windows always hash equal), then VERIFY true window equality
    // among the candidates only. The r15 one-stage form shipped every
    // position's 40-char window string through the corpus-chars-grain
    // groupBy exchange (W+16 bytes/row); here that heavy exchange
    // carries 24 bytes/row and window strings exist only for the
    // candidate tail. Both counting stages stay map-side-combining
    // groupBy + semi-join back — never `count(*) OVER (PARTITION BY
    // win)`: a window partitioned on a CONTENT key funnels every
    // position of one hot boilerplate window into a single WindowExec
    // task with no partial-agg escape and no AQE skew split (the r14→r15
    // rewrite, now banned repo-wide by RegistrySpec's bounded-keys
    // dictionary). Where this form differs from the hashed twin: the
    // verify re-derives candidate windows at POSITION grain (one join
    // candPos ⋈ docs on doc_id, slice in the projection) — cheaper at
    // bench scale (no collect_list/array assembly) but the join output
    // is position-grain, so the doc text column rides through one join
    // stage per candidate position. [[substringDedupHashedOf]] keeps the
    // DOC-grain verify whose join is one row per candidate doc and
    // broadcasts when the duplicated tail is small — the 100-TB shape.
    // Same dupPos set, same spans, same DuckDB oracle either way.
    // Verify slices come from the SANITIZED text (r17): the contract is
    // code-point equality under the fingerprint's decode, and a raw
    // substring over a malformed tail (truncated multi-byte sequence at
    // end-of-doc) carries ill-defined bytes that can disagree with the
    // deterministic U+FFFD the fingerprint hashed — a real trailing
    // duplicate dropped, or a spurious one kept. SanitizeUtf8 is the
    // identity (same object, no allocation) on valid text, so the
    // oracle corpus is untouched; positions are preserved by
    // construction (same stepping). One O(len) scan per candidate doc
    // row, WSCG-resident.
    val candPos = candidatePositions(docs)
    val candWin = candPos
      .join(docs.select($"doc_id",
        graft.functions.SanitizeUtf8.sanitizeUtf8($"text").as("text")),
        Seq("doc_id"))
      .select($"doc_id", $"p",
        $"text".substr($"p".cast("int"), lit(SUBSTR_W)).as("win"))
    repeatedWinSpans(candWin)
  }

  /** Spans of the (doc_id, p, win) candidate windows whose content is
    * seen more than once among the candidates. */
  private def repeatedWinSpans(candWin: DataFrame): DataFrame = {
    val dupWin = candWin
      .groupBy(col("win")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("win"))
    // SHUFFLE_HASH: a sort-merge semi join would Tungsten-sort 40-char
    // binaries on BOTH sides; hashing the (already-aggregated, dup-only)
    // build side skips both sorts. AQE still splits skewed probe
    // partitions for SHJ.
    spansOf(candWin.join(dupWin.hint("shuffle_hash"), Seq("win"), "left_semi")
      .select(col("doc_id"), col("p")))
  }

  /** Shared admission stage of both substring-dedup forms: positions
    * whose 8-byte window fingerprint is seen more than once corpus-wide
    * — a superset of the truly duplicated positions (hash collisions
    * only ever ADD candidates; the per-form verify removes them). The
    * dup-fingerprint relation comes from a map-side-combining groupBy
    * count (hot boilerplate fingerprints collapse per map partition) and
    * the probe semi-join is AQE-skew-splittable — see the skew note in
    * [[substringDedupOf]]. The fingerprint relation is derived twice
    * (agg + probe), but each derivation is the one-pass O(n) codegen
    * [[graft.functions.RollingHash64]] scan — re-hashing is cheaper at
    * scale than materializing the corpus-chars-grain relation. */
  private def candidatePositions(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val fps = windowFingerprints(docs)
    val dupH = fps
      .groupBy($"win_h").agg(count(lit(1)).as("n"))
      .filter($"n" > 1)
      .select($"win_h")
    // A bloom prefilter over dupH before this probe was measured and
    // rejected: slower at every tier (OPTIMIZATION_r20.md §2.1)
    fps.join(dupH.hint("shuffle_hash"), Seq("win_h"), "left_semi")
      .select($"doc_id", $"p")
  }

  /** Gaps-islands span assembly over duplicated positions — shared by
    * the string-keyed [[substringDedup]] and the hash-keyed
    * [[substringDedupHashed]], so the two forms cannot drift: positions
    * within [[SUBSTR_W]] of each other merge (their windows overlap or
    * touch), spans number per doc in start order. */
  private[graft] def spansOf(dupPos: DataFrame): DataFrame = {
    import dupPos.sparkSession.implicits._
    val wd = Window.partitionBy($"doc_id").orderBy($"p")
    val spans = dupPos
      .withColumn("brk",
        when($"p" - lag($"p", 1).over(wd) <= SUBSTR_W, 0L).otherwise(1L))
      .withColumn("g", sum($"brk").over(wd))
      .groupBy($"doc_id", $"g")
      .agg(min($"p").as("s"), (max($"p") + (SUBSTR_W - 1)).as("e"))
    spans
      .withColumn("span_id",
        row_number().over(Window.partitionBy($"doc_id").orderBy($"s"))
          .cast(LongType))
      .select($"doc_id", $"span_id", $"s", $"e",
        ($"e" - $"s" + 1L).as("span_chars"))
      .orderBy($"doc_id", $"span_id")
  }

  /** X1c at the 100-TB shape — the production variant
    * [[substringDedup]]'s Scaladoc promises, made real and gated on the
    * SAME oracle: the corpus-wide exchange carries each window's 8-byte
    * rolling-hash fingerprint ([[windowFingerprints]], one codegen O(n)
    * pass per doc) instead of the 40-char window string, and only
    * CANDIDATE positions — fingerprint seen more than once corpus-wide —
    * re-derive their window string for the true-equality verify.
    * Exactness: equal windows always hash equal, so every truly
    * duplicated position is a candidate (recall 1); grouping candidates
    * by window CONTENT is precisely per-hash-bucket verification (equal
    * strings share a bucket), so every collision dies before a span is
    * declared — the output is byte-identical to the string-keyed form,
    * and both run against the identical DuckDB oracle. Scale: the heavy
    * O(total chars) exchange shrinks from W+16 to 24 bytes/row (~2.8×
    * at W=40, growing with W); window strings exist only for the
    * duplicated-candidate tail, and the verify join runs at DOC grain
    * so it broadcasts when the tail is small and the corpus text column
    * never shuffles. Measured at sf0.1 (min across repeated min-of-2
    * subset sweeps, 32 threads, r16): 3.0 s, with the string-keyed
    * twin's position-grain verify at 2.7 s now that BOTH forms share
    * the fingerprint admission (the r15 one-stage string form was
    * 5.4-5.7 s) — and this fixture is the WORST case for the verify
    * (synthetic duplication makes nearly every doc a candidate, so the
    * per-doc position arrays are corpus-sized). The position-grain
    * verify is cheaper here (no collect_list/array work) but carries
    * the corpus text per candidate POSITION through the join and can
    * never broadcast — at a real few-percent tail this doc-grain form
    * is the one that avoids touching corpus bytes entirely. */
  def substringDedupHashed(s: SparkSession, dir: String): DataFrame =
    substringDedupHashedOf(Tables.documents(s, dir))

  /** Docs-DF-parameterized body of [[substringDedupHashed]]. */
  private[graft] def substringDedupHashedOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // fingerprint admission shared with the string form — the two twins
    // differ only in the verify grain (see [[substringDedupOf]]'s note)
    val candPos = candidatePositions(docs)
    // verify join at DOC grain: candidate positions aggregate to one
    // array row per doc (bounded by doc length), so the join against the
    // corpus is one row per candidate doc — AQE broadcasts it when the
    // dup tail is small and the corpus text column never shuffles — and
    // the windows are sliced INSIDE the per-doc row (transform lambda),
    // so text is never duplicated per candidate position in the join
    // output. Per-doc positions stay far under 2^31 at any doc-length
    // bound, so the CAST is safe.
    val candByDoc = candPos.groupBy($"doc_id")
      .agg(collect_list($"p").as("ps"))
    // doc-grain twin of the string form's sanitize note: slices must
    // read the fingerprint's decoded code-point sequence, so the join
    // side carries the sanitized text (identity, zero-copy on valid
    // docs)
    val candWin = candByDoc
      .join(docs.select($"doc_id",
        graft.functions.SanitizeUtf8.sanitizeUtf8($"text").as("text")),
        Seq("doc_id"))
      .select($"doc_id", explode(expr(
        s"transform(ps, p -> struct(p AS p, " +
          s"substring(text, CAST(p AS INT), $SUBSTR_W) AS win))")).as("pw"))
      .select($"doc_id", $"pw.p".as("p"), $"pw.win".as("win"))
    // the true-equality verify: window CONTENT seen >1x among the
    // candidates — the duplicated candidates are BY CONSTRUCTION the hot
    // window values
    repeatedWinSpans(candWin)
  }

  val substringDedupSql: String =
    s"""WITH pos AS (
       |  SELECT doc_id,
       |    CAST(unnest(generate_series(1, length(text) - ${SUBSTR_W - 1}))
       |      AS BIGINT) AS p,
       |    text
       |  FROM documents WHERE length(text) >= $SUBSTR_W),
       |win AS (
       |  SELECT doc_id, p,
       |    substr(text, CAST(p AS INTEGER), $SUBSTR_W) AS win FROM pos),
       |dup AS (SELECT win FROM win GROUP BY win HAVING count(*) > 1),
       |dpos AS (
       |  SELECT w.doc_id, w.p FROM win w JOIN dup d ON w.win = d.win),
       |isl AS (
       |  SELECT doc_id, p,
       |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
       |      <= $SUBSTR_W THEN 0 ELSE 1 END AS brk
       |  FROM dpos),
       |grp AS (
       |  SELECT doc_id, p,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM isl),
       |spans AS (
       |  SELECT doc_id, min(p) AS s, max(p) + ${SUBSTR_W - 1} AS e
       |  FROM grp GROUP BY doc_id, g)
       |SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS BIGINT)
       |    AS span_id,
       |  s, e, e - s + 1 AS span_chars
       |FROM spans ORDER BY doc_id, span_id""".stripMargin

  /** Per-position window FINGERPRINTS — the 8-byte production key
    * [[substringDedup]]'s scaladoc promises, computed by the codegen
    * [[graft.functions.RollingHash64]] expression: ONE O(n) pass per
    * document emits every window's hash (the substr-per-position form
    * this replaced did O(n·W) byte work and a 40-char allocation per
    * window). Shared by the published index and the admission probe so
    * both sides hash identically. */
  private[graft] def windowFingerprints(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.filter(length($"text") >= SUBSTR_W)
      .select($"doc_id",
        posexplode(graft.functions.RollingHash64.rollingHash64(
          $"text", lit(SUBSTR_W))).as(Seq("p0", "win_h")))
      .select($"doc_id", ($"p0" + 1).cast(LongType).as("p"), $"win_h")
  }

  /** The publishable corpus fingerprint index for streaming admission:
    * DISTINCT window fingerprints, one 8-byte value per distinct 40-char
    * window — the standing "what substrings does the corpus already
    * contain" structure, persisted via [[graft.sources.ArtifactStore]]
    * like every other trained static. Distinct-only keeps it bounded by
    * corpus content, not corpus length × duplication. */
  def substringIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    windowFingerprints(Tables.documents(s, dir)).select($"win_h").distinct()
  }

  /** X1c admission probe — "how much of this document is ALREADY in the
    * corpus?": each of the doc's window fingerprints probes the published
    * index; the hit fraction (integer basis points) is the
    * exact-substring-overlap signal an ingest gate thresholds before
    * paying storage/tokenization for a near-copy. The equi-join on the
    * 8-byte fingerprint is the only exchange; per-doc agg is narrow.
    * Docs shorter than the window emit no row (no fingerprint = no
    * evidence either way). Collisions (~2⁻⁶⁴ per probe) can only
    * overcount bp — the admission decision tolerates that; the exact
    * span-level answer stays [[substringDedup]]'s job. */
  def substringOverlapOf(docs: DataFrame, index: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    windowFingerprints(docs)
      .join(index.select($"win_h", lit(1L).as("hit")), Seq("win_h"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_win"),
        sum(coalesce($"hit", lit(0L))).as("n_hit"))
      .withColumn("overlap_bp", expr("n_hit * 10000 div n_win"))
  }

  // --- X1d: marginal-novelty census per source ---------------------------

  /** How much genuinely NEW content does each source add? — the
    * acquisition/licensing question behind every "should we ingest this
    * feed" decision, answered with the dedup tier's own shingle
    * vocabulary: attribute every distinct word-3-gram to its FIRST
    * source (sources ordered by name — the ingest order), then census
    * each source's distinct shingles vs the ones it introduced. A source
    * whose novelty_bp collapses is re-crawling what the corpus already
    * holds — the diminishing-returns signal, at shingle granularity
    * (doc-level dedup misses partial overlap).
    *
    * Scale: distinct (shingle, source) pairs then a min-source attribute
    * pass — two hash aggregates on the shingle key, no joins, no pair
    * expansion; vocabulary-bounded, not corpus-bounded. */
  def sourceNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.documents(s, dir)
      .transform(withToks)
      .select($"source", explode(array_distinct(shingleArr)).as("sh"))
      .distinct()
    val first = pairs.groupBy($"sh").agg(min($"source").as("first_src"))
    pairs.join(first, Seq("sh"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_src" === $"source", 1L).otherwise(0L))
          .as("n_novel"))
      .select($"source", $"n_shingles", $"n_novel",
        expr("n_novel * 10000 div n_shingles").as("novelty_bp"))
      .orderBy($"source")
  }

  val sourceNoveltySql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT source, unnest($shinglesSql) AS sh
       |  FROM documents),
       |first AS (SELECT sh, MIN(source) AS first_src FROM pairs GROUP BY sh)
       |SELECT p.source, count(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN f.first_src = p.source THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN f.first_src = p.source THEN 1 ELSE 0 END)
       |    * 10000 // count(*) AS BIGINT) AS novelty_bp
       |FROM pairs p JOIN first f ON p.sh = f.sh
       |GROUP BY p.source ORDER BY p.source""".stripMargin

  /** A shingle carried by more than this many SOURCES is a stop-shingle
    * for the overlap matrix: it says nothing about which pair of feeds
    * re-crawls the other (every feed has it), and at scale one ubiquitous
    * shingle would otherwise expand |sources|²/2 pairs. The Jaccard is
    * over the sub-cap vocabulary on BOTH sides (sizes and intersections),
    * mirrored in the oracle — the X2h stop-shingle discipline. */
  private val SRC_CAP = 100

  /** X1e — the pairwise SOURCE-OVERLAP matrix, [[sourceNovelty]]'s
    * two-sided companion: exact shingle-vocabulary Jaccard between every
    * source pair that shares content — which feeds are re-crawls of each
    * other (the dedup-planning view), not just who got there first.
    *
    * Posting-list plan (the [[dedupNgramJaccard]] shape, not a self-join):
    * distinct (shingle, source) pairs collapse to one sorted source-list
    * row PER SHINGLE; lists longer than [[SRC_CAP]] are dropped as
    * stop-shingles (so each surviving list is ≤ cap and the per-shingle
    * pair expansion is ≤ cap²/2 — bounded regardless of how many feeds
    * exist or how hot a shingle runs); source pairs then expand LOCALLY
    * inside each list and aggregate. One exchange over the vocabulary
    * (the groupBy), tiny aggregates after — no shingle-relation self-join
    * shuffling the vocabulary twice. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.documents(s, dir)
      .transform(withToks)
      .select($"source", explode(array_distinct(shingleArr)).as("sh"))
      .distinct()
    val postings = pairs.groupBy($"sh")
      .agg(sort_array(collect_set($"source")).as("srcs"))
      .filter(size($"srcs") <= SRC_CAP)
    val sizes = postings
      .select(explode($"srcs").as("source"))
      .groupBy($"source").agg(count(lit(1)).as("nsz"))
    val inter = postings
      .select(explode(expr(
        "flatten(transform(srcs, a -> transform(filter(srcs, b -> b > a), " +
          "b -> struct(a AS src_a, b AS src_b))))")).as("p"))
      .groupBy($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select($"source".as("src_a"), $"nsz".as("na")), Seq("src_a"))
      .join(sizes.select($"source".as("src_b"), $"nsz".as("nb")), Seq("src_b"))
      .select($"src_a", $"src_b", $"n_inter",
        expr("n_inter * 1000000 div (na + nb - n_inter)").as("jaccard_ppm"))
      .orderBy($"src_a", $"src_b")
  }

  val sourceOverlapSql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT source, unnest($shinglesSql) AS sh
       |  FROM documents),
       |ok AS (
       |  SELECT source, sh FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY sh) AS df FROM pairs)
       |  WHERE df <= $SRC_CAP),
       |sizes AS (SELECT source, count(*) AS nsz FROM ok GROUP BY source),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
       |  FROM ok a JOIN ok b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_inter,
       |  CAST(n_inter * 1000000 // (sa.nsz + sb.nsz - n_inter) AS BIGINT)
       |    AS jaccard_ppm
       |FROM inter
       |JOIN sizes sa ON src_a = sa.source
       |JOIN sizes sb ON src_b = sb.source
       |ORDER BY src_a, src_b""".stripMargin

  // --- X1f: content-defined chunking + chunk-level dedup census ----------

  /** CDC window width, polynomial base, and boundary modulus (avg chunk
    * ≈ CDC_MOD chars). */
  private val CDC_W = 8
  private val CDC_MOD = 64L

  /** The boundary polynomial over the CDC_W-char window starting at
    * 1-based position `p` — IDENTICAL text in both engines (`ascii` /
    * `ord` are the code point of a character-indexed substring in both),
    * so chunk boundaries cannot drift between them. Every term is cast
    * to BIGINT BEFORE the multiply: code points reach 1.1e6 and the
    * high coefficients 33^7 ≈ 4.3e10 — an INT32 product overflows
    * (DuckDB raises; Spark with ANSI off would silently wrap, which is
    * worse). */
  private def cdcPolySql(asciiFn: String): String =
    (0 until CDC_W).map { i =>
      val pw = Seq.fill(i)(33L).product
      val term = s"CAST($asciiFn(substring(text, p + $i, 1)) AS BIGINT)"
      if (i == 0) term else s"$term * $pw"
    }.mkString(" + ")

  /** Per-doc CDC chunk rows (lang, doc_id, chunk) for any
    * (doc_id, lang, text) relation — shared by the declared query and
    * the spec's shift-resistance replay. The whole chunking is ONE
    * narrow in-row expression (the q_tokens_per_doc discipline): cut
    * positions are the window starts whose 8-term polynomial hash ≡ 0
    * (mod 64), chunks are the substrings between consecutive cuts, and
    * only the resulting CHUNK rows (≈ chars/64 per doc) ever leave the
    * row — no per-position explode, no shuffle before the census. */
  private[graft] def cdcChunkRows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // One native codegen pass per row ([[graft.functions.CdcChunks]],
    // r14): the previous composable form (split to a char array +
    // code-point transform + window-polynomial filter over a position
    // sequence, all interpreted higher-order lambdas) allocated three
    // L-sized arrays per row and dispatched per position; before that,
    // per-position substring() was O(L²) per doc (24 s at sf0.1). The
    // expression emits only the chunk strings and keeps the stage in
    // whole-stage codegen — q_cdc_chunks 2.65 s → 0.88 s at sf0.1
    // (numbers in the expression's Scaladoc). Cut positions and chunk
    // content are byte-for-byte the DuckDB mirror's (code-point grain,
    // the spelled-out Σ code·33^i window sum).
    docs.select($"lang", $"doc_id",
      explode(graft.functions.CdcChunks.cdcChunks($"text", CDC_W, CDC_MOD))
        .as("chunk"))
      .filter(length($"chunk") > 0)
  }

  /** X1f — CONTENT-DEFINED CHUNKING + chunk-level dedup census: the
    * storage/transfer-dedup primitive (LBFS/Gear/FastCDC family) the
    * document tier lacked. Boundaries are content-addressed — a window's
    * hash, not a byte offset, decides the cut — so an edit near a doc's
    * head re-chunks only up to the first downstream boundary and every
    * later chunk keeps its identity (DedupSpec pins exactly that
    * shift-resistance, the property fixed-size blocking cannot have).
    * The census then measures what chunk-level dedup buys per language:
    * chunk instances whose CONTENT recurs in more than one document, and
    * the bytes those instances cover — the cross-doc redundancy a
    * chunk-store would store once.
    *
    * Scale: chunking is a pure narrow map (in-row lambda, no
    * per-position rows); the census is one hash exchange on chunk
    * content (≈ chars/64 rows), two-phase aggregates above it. */
  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"lang", $"text")
    // Single chunker pass: the naive chunks⋈(chunks groupBy chunk)
    // self-join planned the (dominant-cost) chunking lambda TWICE — the
    // two exchange subtrees differ, so ReuseExchange cannot dedup them.
    // Instead aggregate once to the (chunk, lang) grain and settle the
    // cross-doc spread with a chunk-partitioned window: langs partition
    // the doc space, so summing per-(chunk, lang) distinct-doc counts
    // over the chunk window IS the chunk's distinct-doc spread.
    val perCL = cdcChunkRows(docs)
      .groupBy($"chunk", $"lang").agg(
        count(lit(1)).as("n_inst"),
        countDistinct($"doc_id").as("n_docs_cl"),
        sum(length($"chunk")).cast("long").as("bytes_cl"))
    val wC = org.apache.spark.sql.expressions.Window.partitionBy($"chunk")
    val flagged = perCL
      .withColumn("n_docs_with", sum($"n_docs_cl").over(wC))
    val census = flagged.groupBy($"lang").agg(
      sum($"n_inst").as("n_chunks"),
      sum($"bytes_cl").as("chunk_bytes"),
      sum(when($"n_docs_with" >= 2, $"n_inst").otherwise(0L)).as("dup_chunks"),
      sum(when($"n_docs_with" >= 2, $"bytes_cl").otherwise(0L)).as("dup_bytes"))
    // per-lang doc counts come from the raw docs (a doc yields ≥1 chunk
    // iff its text is non-empty) — a narrow count, not a second chunker
    val nDocs = docs.filter(length($"text") > 0)
      .groupBy($"lang").agg(countDistinct($"doc_id").as("n_docs"))
    census.join(nDocs, Seq("lang"))
      .select($"lang", $"n_docs", $"n_chunks", $"chunk_bytes",
        $"dup_chunks", $"dup_bytes")
      .orderBy($"lang")
  }

  /** DuckDB mirror of [[cdcChunkRows]] over `documents`: the non-empty
    * chunks as the CTE `nz` (doc_id, lang, chunk). */
  private def cdcChunkRowsSql: String =
    s"""cuts AS (
       |  SELECT doc_id, lang, text,
       |    CASE WHEN length(text) >= $CDC_W THEN
       |      list_filter(list_transform(
       |        generate_series(1, length(text) - ${CDC_W - 1}),
       |        p -> CASE WHEN (${cdcPolySql("ord")})
       |          % $CDC_MOD = 0 THEN p END),
       |        x -> x IS NOT NULL)
       |    ELSE [] END AS cut_list
       |  FROM documents),
       |bnds AS (
       |  SELECT doc_id, lang, text,
       |    list_sort(list_distinct(
       |      list_concat(list_concat([0], cut_list), [length(text)])))
       |      AS bounds
       |  FROM cuts),
       |chunks AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(generate_series(1, len(bounds) - 1),
       |      i -> substring(text, CAST(bounds[i] + 1 AS INTEGER),
       |             CAST(bounds[i + 1] - bounds[i] AS INTEGER)))) AS chunk
       |  FROM bnds),
       |nz AS (SELECT * FROM chunks WHERE length(chunk) > 0)""".stripMargin

  val cdcChunksSql: String =
    s"""WITH $cdcChunkRowsSql,
       |spread AS (
       |  SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs_with
       |  FROM nz GROUP BY chunk)
       |SELECT n.lang,
       |  CAST(COUNT(DISTINCT n.doc_id) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(length(n.chunk)) AS BIGINT) AS chunk_bytes,
       |  CAST(SUM(CASE WHEN s.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS dup_chunks,
       |  CAST(SUM(CASE WHEN s.n_docs_with >= 2 THEN length(n.chunk)
       |    ELSE 0 END) AS BIGINT) AS dup_bytes
       |FROM nz n JOIN spread s ON n.chunk = s.chunk
       |GROUP BY n.lang ORDER BY n.lang""".stripMargin

  // --- X1g: chunk-store GC census — retention meets chunk dedup ----------

  /** Deterministic delete predicate for the GC audit (the retention
    * pass's victims): every 7th doc. */
  private val GC_DEL = "doc_id % 7 = 3"

  /** CHUNK-STORE GARBAGE-COLLECTION census (round 13): when documents
    * are chunk-deduplicated into a content-addressed store
    * ([[cdcChunks]]), a retention delete of DOCUMENTS does not by itself
    * free BYTES — a chunk is reclaimable only when its LAST referencing
    * document is gone (the refcount semantics every dedup store — LBFS,
    * content-addressed backup, container registries — garbage-collects
    * by). This audit runs the X1f chunker over the corpus, applies the
    * deterministic retention predicate, and reports the store's truth:
    * distinct chunk contents and bytes still live vs reclaimable — the
    * number that tells an operator what a delete wave actually returns.
    *
    * Scale: the chunker's narrow map plus ONE hash aggregate on chunk
    * content carrying two counts (total refs, surviving refs) — the
    * classification is a per-group comparison, no joins at all. */
  def cdcChunkGc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = cdcChunkRows(
      Tables.documents(s, dir).select($"doc_id", $"lang", $"text"))
    chunks
      .groupBy($"chunk")
      .agg(count(lit(1)).as("refs"),
        sum(when(expr(GC_DEL), 0L).otherwise(1L)).as("live_refs"))
      .select($"chunk",
        when($"live_refs" > 0, "live").otherwise("reclaimable").as("status"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_chunks"),
        sum(length($"chunk")).cast("long").as("n_bytes"))
      .orderBy($"status")
  }

  val cdcChunkGcSql: String =
    s"""WITH $cdcChunkRowsSql,
       |refs AS (
       |  SELECT chunk,
       |    SUM(CASE WHEN $GC_DEL THEN 0 ELSE 1 END) AS live_refs
       |  FROM nz GROUP BY chunk)
       |SELECT CASE WHEN live_refs > 0 THEN 'live' ELSE 'reclaimable' END
       |    AS status,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(length(chunk)) AS BIGINT) AS n_bytes
       |FROM refs GROUP BY 1 ORDER BY status""".stripMargin

  /** Per-doc chunk-store overlap of any (doc_id, lang, text) relation
    * against a standing chunk index (distinct chunk contents, column
    * `chunk`): chunk the docs under the X1f boundary rule, probe the
    * store, report per-doc chunk and byte overlap in basis points — the
    * admission signal that lets an ingest path store only NOVEL chunks
    * (and skip near-verbatim re-crawls outright). Shared by the batch
    * form and [[graft.streaming.StreamJobs.cdcAdmitStream]]; the probe
    * is one equi-join on chunk content + a per-doc hash aggregate. */
  def cdcOverlapOf(docs: DataFrame, store: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    cdcChunkRows(docs)
      .join(store.select($"chunk").distinct().withColumn("hit", lit(1L)),
        Seq("chunk"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce($"hit", lit(0L))).as("dup_chunks"),
        sum(length($"chunk")).cast("long").as("chunk_bytes"),
        sum(when($"hit" === 1L, length($"chunk").cast("long"))
          .otherwise(0L)).as("dup_bytes"))
      .withColumn("dup_bp",
        expr("dup_bytes * 10000 div greatest(chunk_bytes, 1L)"))
  }

  // --- X2n: split-leakage audit — near-dups crossing the eval boundary ---

  /** EVAL-LEAKAGE census (round 13): near-duplicate pairs whose members
    * land on OPPOSITE sides of the train/val/test split — the
    * contamination channel a random doc-level split leaves open (a test
    * document with a train near-twin is evaluated on memorized content;
    * doc-level dedup alone does not close it, only a split-aware check
    * does). Pairs come from the SAME memoized LSH pair table as every
    * X2 query; the split is the SAME md5-cell rule as `q_sample_split`
    * ([[SamplingQueries.splitOf]] — one definition, composed). One row
    * per unordered split combination with its pair count and a leak
    * flag; the (train, test) and (train, val) rows are the number every
    * eval-integrity gate thresholds at zero.
    *
    * Scale: two broadcast-light equi-joins of the (bounded) pair table
    * against a two-column split projection, one small hash aggregate —
    * nothing touches document text. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashPairs(s, dir).select($"doc_a", $"doc_b")
    val aSplit = SamplingQueries.splitOf("doc_a")
    val bSplit = SamplingQueries.splitOf("doc_b")
    pairs
      .select(least(aSplit, bSplit).as("split_lo"),
        greatest(aSplit, bSplit).as("split_hi"))
      .groupBy($"split_lo", $"split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .select($"split_lo", $"split_hi", $"n_pairs",
        when($"split_lo" =!= $"split_hi", 1L).otherwise(0L).as("is_leak"))
      .orderBy($"split_lo", $"split_hi")
  }

  val splitLeakageSql: String =
    s"""WITH ${lshPairsCtesSql("fpairs")},
       |tagged AS (
       |  SELECT
       |    LEAST(${SamplingQueries.splitSqlOf("doc_a")},
       |          ${SamplingQueries.splitSqlOf("doc_b")}) AS split_lo,
       |    GREATEST(${SamplingQueries.splitSqlOf("doc_a")},
       |             ${SamplingQueries.splitSqlOf("doc_b")}) AS split_hi
       |  FROM fpairs)
       |SELECT split_lo, split_hi, COUNT(*) AS n_pairs,
       |  CAST(CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_leak
       |FROM tagged GROUP BY split_lo, split_hi
       |ORDER BY split_lo, split_hi""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_cdc_chunk_gc", cdcChunkGc, Some(cdcChunkGcSql),
      "X1g chunk-store GC census: live vs reclaimable chunk contents/bytes after a retention delete wave"),
    QueryDef("q_split_leakage", splitLeakage, Some(splitLeakageSql),
      "X2n eval-leakage census: near-dup pairs crossing the train/val/test split, composed from the X2 pair table + the sampling split rule"),
    QueryDef("q_cdc_chunks", cdcChunks, Some(cdcChunksSql),
      "X1f content-defined chunking (Gear-style boundary polynomial) + cross-doc chunk dedup census"),
    QueryDef("q_source_overlap", sourceOverlap, Some(sourceOverlapSql),
      "X1e pairwise source-overlap matrix: exact shingle-vocabulary Jaccard via posting lists"),
    QueryDef("q_source_novelty", sourceNovelty, Some(sourceNoveltySql),
      "X1d marginal-novelty census: distinct shingles each source introduces, in basis points"),
    QueryDef("q_substring_dedup", substringDedup, Some(substringDedupSql),
      "X1c exact repeated-substring spans (distributed ExactSubstr: window fingerprints + gaps-islands merge)"),
    QueryDef("q_substring_dedup_hashed", substringDedupHashed,
      Some(substringDedupSql),
      "X1c at the 100-TB shape: 8-byte rolling-hash exchange + in-bucket string verify, byte-identical output (same oracle)"),
    QueryDef("q_dedup_band_sweep", dedupBandSweep, Some(dedupBandSweepSql),
      "X2m banding-config frontier: per-(r,b) candidate precision/recall vs exact truth"),
    QueryDef("q_dedup_cross_source", dedupCrossSource,
      Some(dedupCrossSourceSql),
      "X2l cross-source near-dup contamination census off the pair table"),
    QueryDef("q_dedup_incremental", dedupIncremental, Some(dedupIncrementalSql),
      "X2f incremental delta-vs-corpus LSH dedup (standing bucket join)"),
    QueryDef("q_dedup_exact", dedupExact, Some(dedupExactSql),
      "X1 exact dedup via sha256 content hash"),
    QueryDef("q_dedup_minhash_lsh", dedupMinhashLsh, Some(dedupMinhashLshSql),
      "X2 MinHash signatures + LSH banding, capped buckets"),
    QueryDef("q_dedup_clusters", dedupClusters, Some(dedupClustersSql),
      "X2d connected-component cluster resolution + canonical doc pick"),
    QueryDef("q_dedup_keep", dedupKeep, Some(dedupKeepSql),
      "X2e applied dedup: per-source survivor counts from the cluster table"),
    QueryDef("q_dedup_chain_drift", dedupChainDrift, Some(dedupChainDriftSql),
      "X2o transitive-chain drift audit: exact canonical-to-member star Jaccard per cluster, worst member + below-LSH-floor census"),
    QueryDef("q_dedup_modal_agreement", dedupModalAgreement,
      Some(dedupModalAgreementSql),
      "X2p text-vs-embedding modal calibration: collapsed star pairs binned by text-Jaccard decile with exact integer-cosine stats"),
    QueryDef("q_dedup_simhash", dedupSimhash, Some(dedupSimhashSql),
      "X2 SimHash 16-bit collision groups"),
    QueryDef("q_dedup_ngram_jaccard", dedupNgramJaccard, Some(dedupNgramJaccardSql),
      "X2 exact n-gram Jaccard verification of sampled docs"))
}
