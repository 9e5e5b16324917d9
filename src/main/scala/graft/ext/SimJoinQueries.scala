package graft.ext

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** X2h — EXACT set-similarity self-join via prefix filtering (the
  * PPJoin/AllPairs family), the scale-correct way to find ALL document
  * pairs with Jaccard ≥ t without an all-pairs comparison and without the
  * (tunable, lossy) recall of LSH banding.
  *
  * Principle: order every doc's shingle set by GLOBAL rarity (document
  * frequency asc, shingle asc). If J(A,B) ≥ t, then A and B must share at
  * least one shingle inside their first `|X| − ⌈t·|X|⌉ + 1` ordered
  * shingles (else the ≥ ⌈t·|X|⌉ overlap the threshold implies cannot fit
  * in what remains). So candidate generation only equi-joins PREFIX
  * posting lists — and because prefixes hold each doc's RAREST shingles,
  * those posting lists are self-limiting: a high-DF shingle lands in a
  * doc's prefix only when the doc has almost nothing rarer. No cap is
  * needed for correctness (unlike the LSH tier) — the filter is exact,
  * zero false negatives. The worst case (a corpus of near-identical docs)
  * is quadratic in the OUTPUT, which no exact algorithm avoids.
  *
  * Plan: one aggregate for document frequencies (broadcast back onto the
  * shingle stream), ONE doc_id exchange building the rarity-sorted
  * per-doc array, one shingle exchange grouping prefix postings — whose
  * rows carry their doc's full array, so pair expansion AND exact
  * verification (`array_intersect`) run inside the posting list — and a
  * final dedup exchange. Verification cost is O(pairs · |set|) local
  * work, never corpus².
  *
  * Cross-engine determinism: the threshold test is integer cross-
  * multiplication (J ≥ 3/5 ⇔ 8·|∩| ≥ 3·(|A|+|B|)) — no float compare —
  * and ⌈t·n⌉ is computed as (3n+4) div 5, integer-exact in both engines.
  */
object SimJoinQueries {

  /** Jaccard threshold t = NUM/DEN = 0.6 (kept as a ratio: every
    * threshold comparison stays in integer arithmetic). */
  private[graft] val NUM = 3
  private[graft] val DEN = 5

  /** The exact pair table is consumed by its own query AND the X2k audit —
    * memoized per (session, documents-content) like
    * [[DedupQueries.minhashPairs]], so the prefix-join plan executes once
    * per session. */
  private[ext] def exactPairs(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "simjoin_exact_pairs", dir, "documents") {
      graft.GraftSession.ckpt(simjoinPrefixPlan(s, dir))
    }

  /** The rarity-ranked per-document shingle index — `(doc_id, arr, n_sh)`
    * with `arr` sorted by (global df asc, shingle asc) — is the shared
    * substrate of the WHOLE exact-similarity family: the symmetric
    * prefix join reads it once, the asymmetric containment join reads it
    * THREE times (contained-side prefix, containing-side postings,
    * containing-side verification arrays). Building it costs two
    * exchanges (shingle df agg + doc_id regroup) over the full exploded
    * shingle relation — the dominant cost of every consumer (profiled:
    * ~2 s of q_contain_join's ~3 s at sf0.1 was index rebuild, run twice
    * in one plan) — so it is memoized per (session, documents-content)
    * and checkpointed: train once, probe everywhere, the
    * [[graft.sources.ArtifactStore]] shape in-session. In a deployment
    * this relation IS the persisted artifact a re-ranking or dedup
    * service ships alongside the corpus. */
  private[ext] def docIndex(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "simjoin_doc_index", dir, "documents") {
      docIndexOf(Tables.documents(s, dir))
        .transform(graft.GraftSession.ckpt(_))
    }

  /** The un-memoized ranked-index plan over an arbitrary (doc_id, text)
    * relation — factored for the ContractAndPropertySpec brute pin. */
  private[graft] def docIndexOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sh = docs
      .transform(DedupQueries.withToks)
      .select($"doc_id", explode(array_distinct(DedupQueries.shingleArr)).as("sh"))
    val df_ = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    sh.join(df_, "sh")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"sh"))).as("ranked"))
      .select($"doc_id",
        expr("transform(ranked, r -> r.sh)").as("arr"),
        size($"ranked").cast("long").as("n_sh"))
  }

  def simjoinPrefix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    exactPairs(s, dir).orderBy($"a_id", $"b_id")
  }

  private def simjoinPrefixPlan(s: SparkSession, dir: String): DataFrame =
    simjoinPrefixPlanOf(docIndex(s, dir))

  /** The prefix-join plan over an arbitrary ranked index — factored so the
    * brute all-pairs pin can check the filter's zero-false-negative claim
    * on generated corpora. */
  private[graft] def simjoinPrefixPlanOf(docArr0: DataFrame): DataFrame = {
    import docArr0.sparkSession.implicits._
    // the memoized rarity-ranked index: the sorted shingle array (ties
    // impossible — shingles are distinct per doc) doubles as set size AND
    // verification payload, so no later stage touches the exploded
    // shingle relation again
    val docArr = docArr0
    // prefix length n − ⌈t·n⌉ + 1, with ⌈3n/5⌉ = (3n+4) div 5. Each
    // prefix-shingle posting row CARRIES its doc's full array, so pair
    // expansion and exact verification happen inside the posting list —
    // the X2 capped-bucket pattern, made exact: a doc appears in a
    // shingle's posting list only if it contains that shingle, so list
    // size ≤ that shingle's global df, and prefixes hold each doc's
    // RAREST shingles. A derived-table self-join here would instead make
    // Catalyst re-derive the whole shingle index once per reference
    // (measured: 16 parquet scans in the plan).
    val pairs = docArr
      .select($"doc_id", $"arr", $"n_sh", explode(expr(
        s"slice(arr, 1, size(arr) - ($NUM * size(arr) + ${DEN - 1}) div $DEN + 1)"))
        .as("sh"))
      .groupBy($"sh")
      .agg(collect_list(struct($"doc_id", $"arr", $"n_sh")).as("docs"))
      .filter(size($"docs") >= 2)
      .select(explode(expr(
        "flatten(transform(docs, a -> " +
          "transform(filter(docs, b -> b.doc_id > a.doc_id), " +
          "b -> struct(a.doc_id AS a_id, b.doc_id AS b_id, " +
          "a.arr AS arr_a, b.arr AS arr_b, " +
          "a.n_sh AS a_n, b.n_sh AS b_n))))")).as("p"))
      .select($"p.*")
    pairs
      .select($"a_id", $"b_id",
        size(array_intersect($"arr_a", $"arr_b")).cast("long").as("n_inter"),
        $"a_n", $"b_n")
      // J ≥ 3/5 ⇔ 5·i ≥ 3·(a+b−i) ⇔ 8·i ≥ 3·(a+b): integer-exact
      .filter($"n_inter" * (DEN + NUM) >= ($"a_n" + $"b_n") * NUM)
      .select($"a_id", $"b_id", $"n_inter",
        ($"a_n" + $"b_n" - $"n_inter").as("n_union"),
        ($"n_inter".cast(DoubleType) / ($"a_n" + $"b_n" - $"n_inter")).as("jaccard"))
      // a pair verifies identically in every shared prefix bucket — one
      // exchange dedups the duplicates (presentation ORDER BY lives in
      // the public query, after the memoized checkpoint)
      .distinct()
  }

  val simjoinPrefixSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, unnest(${DedupQueries.shinglesSql}) AS sh
       |  FROM documents),
       |dfs AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |pre AS (
       |  SELECT doc_id, sh FROM (
       |    SELECT s.doc_id, s.sh, z.n_sh,
       |      row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS p
       |    FROM sh s JOIN dfs d USING (sh) JOIN sizes z USING (doc_id))
       |  WHERE p <= n_sh - (($NUM * n_sh + ${DEN - 1}) // $DEN) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pre a JOIN pre b ON a.sh = b.sh AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.a_id
       |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
       |  GROUP BY 1, 2)
       |SELECT i.a_id, i.b_id, i.n_inter,
       |  za.n_sh + zb.n_sh - i.n_inter AS n_union,
       |  CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.a_id
       |JOIN sizes zb ON zb.doc_id = i.b_id
       |WHERE i.n_inter * ${DEN + NUM} >= (za.n_sh + zb.n_sh) * $NUM
       |ORDER BY a_id, b_id""".stripMargin

  // --- X2i: exact containment join ----------------------------------------

  /** Containment threshold c = 9/10. */
  private[graft] val CNUM = 9
  private[graft] val CDEN = 10

  /** EXACT near-containment detection: pairs where ≥ 90% of the SMALLER
    * doc's shingles appear in the larger doc — the "quoted in full" dedup
    * case symmetric Jaccard structurally misses (a paragraph embedded in a
    * long page shares all its shingles yet has near-zero Jaccard). Same
    * prefix principle, asymmetric: if |A∩B| ≥ c·|A| then one of A's
    * `|A| − ⌈c·|A|⌉ + 1` rarest shingles must be in B — so only the
    * CONTAINED side is restricted to its prefix; the containing side
    * posts its full shingle set. Candidate volume is Σ_prefix-shingle df,
    * still rare-shingle-bounded; verification is the same in-bucket
    * `array_intersect`. The containment test is integer cross-multiplied
    * (10·|∩| ≥ 9·|A|). On THIS synthetic corpus every high-containment
    * pair happens to also be X2h-Jaccard-similar (the planted near-dups
    * are equal-length paraphrases); on a real corpus the operator's value
    * is exactly the pairs X2h misses — small docs embedded in large ones.
    */
  def containJoin(s: SparkSession, dir: String): DataFrame =
    containJoinOf(docIndex(s, dir))

  /** The containment-join plan over an arbitrary ranked index — factored
    * for the ContractAndPropertySpec brute pin. */
  private[graft] def containJoinOf(docArr0: DataFrame): DataFrame = {
    import docArr0.sparkSession.implicits._
    // every side of this plan reads the ONE memoized ranked index — the
    // profiled alternative (rebuilding the shingle/df/regroup pipeline
    // inline) re-ran the two index exchanges per reference, dominating
    // the query's cost
    val docArr = docArr0
    // contained-side candidates: A's prefix rows, CARRYING A's array
    // (candidate volume stays rare-shingle-bounded). The containing side
    // must expose its FULL shingle set — A's prefix shingle is guaranteed
    // somewhere in B, not in B's prefix, so a prefix×prefix bucket would
    // silently drop true containments — as a light (b_id, sh) row stream
    // re-exploded from the index (no df join needed on this side).
    val pre = docArr.select($"doc_id".as("a_id"), $"arr".as("arr_a"),
      $"n_sh".as("a_n"), explode(expr(
        s"slice(arr, 1, size(arr) - ($CNUM * size(arr) + ${CDEN - 1}) div $CDEN + 1)"))
        .as("sh"))
    val postings = docArr.select($"doc_id".as("b_id"), explode($"arr").as("sh"))
    val cand = pre
      .join(postings, Seq("sh"))
      .filter($"a_id" =!= $"b_id")
      .select($"a_id", $"arr_a", $"a_n", $"b_id")
      .distinct()
    cand
      .join(docArr.select($"doc_id".as("b_id"), $"arr".as("arr_b"),
        $"n_sh".as("b_n")), "b_id")
      // containment runs small-into-large; equal sizes tie-break on doc_id
      .filter($"b_n" > $"a_n" || ($"b_n" === $"a_n" && $"b_id" > $"a_id"))
      .select($"a_id", $"b_id",
        size(array_intersect($"arr_a", $"arr_b")).cast("long").as("n_inter"),
        $"a_n", $"b_n")
      // containment ≥ 9/10 ⇔ 10·i ≥ 9·|A|
      .filter($"n_inter" * CDEN >= $"a_n" * CNUM)
      .select($"a_id", $"b_id", $"n_inter", $"a_n", $"b_n",
        ($"n_inter".cast(DoubleType) / $"a_n").as("containment"))
      .orderBy($"a_id", $"b_id")
  }

  val containJoinSql: String =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, unnest(${DedupQueries.shinglesSql}) AS sh
       |  FROM documents),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i.a_id, i.b_id, i.n_inter,
       |  za.n_sh AS a_n, zb.n_sh AS b_n,
       |  CAST(i.n_inter AS DOUBLE) / za.n_sh AS containment
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.a_id
       |JOIN sizes zb ON zb.doc_id = i.b_id
       |WHERE (zb.n_sh > za.n_sh OR (zb.n_sh = za.n_sh AND i.b_id > i.a_id))
       |  AND i.n_inter * $CDEN >= za.n_sh * $CNUM
       |ORDER BY a_id, b_id""".stripMargin

  // --- X2k: dedup-quality evaluation (LSH banding vs exact truth) --------

  /** The evaluation a pipeline runs before trusting its banding config:
    * the MinHash/LSH candidate pair set ([[DedupQueries.minhashPairs]],
    * est-Jaccard ≥ 2/K) scored against the EXACT J ≥ 0.6 pair set
    * ([[simjoinPrefix]]) — recall says how many true near-dup pairs the
    * probabilistic tier catches, precision says how much of its candidate
    * volume survives the strict bar. Output is one audit row with counts
    * and integer-millionth ratios (NULL when a side is empty — nullif
    * guards both engines identically).
    *
    * Scale: both inputs are the already-scale-shaped pair pipelines (the
    * LSH side is the memoized cap-bounded bucket build, the exact side the
    * prefix-filtered join); the comparison itself is one full-outer
    * equi-join on the pair key + a single-row aggregate. */
  def dedupEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lsh = DedupQueries.minhashPairs(s, dir)
      .select($"doc_a", $"doc_b", lit(1L).as("l"))
    val exact = exactPairs(s, dir)
      .select($"a_id".as("doc_a"), $"b_id".as("doc_b"), lit(1L).as("e"))
    lsh.join(exact, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum(coalesce($"l", lit(0L))).as("n_lsh"),
        sum(coalesce($"e", lit(0L))).as("n_exact"),
        sum(when($"l".isNotNull && $"e".isNotNull, 1L).otherwise(0L))
          .as("n_both"))
      .select($"n_lsh", $"n_exact", $"n_both",
        expr("n_both * 1000000 div nullif(n_lsh, 0)").as("prec_ppm"),
        expr("n_both * 1000000 div nullif(n_exact, 0)").as("rec_ppm"))
  }

  /** Shared truth CTE chain — the exact J ≥ 0.6 pair set (`exact`): the
    * ONE oracle definition of ground truth, interpolated by the X2k audit
    * and the X2m banding sweep so a threshold change cannot diverge
    * between them. */
  private[ext] val exactTruthCtesSql: String =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, unnest(${DedupQueries.shinglesSql}) AS sh
       |  FROM documents),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |xinter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT i.doc_a, i.doc_b FROM xinter i
       |  JOIN sizes za ON za.doc_id = i.doc_a
       |  JOIN sizes zb ON zb.doc_id = i.doc_b
       |  WHERE i.n_inter * ${DEN + NUM} >= (za.n_sh + zb.n_sh) * $NUM)""".stripMargin

  val dedupEvalSql: String =
    s"""WITH ${DedupQueries.lshCandCtesSql},
       |lsh AS (
       |  SELECT doc_a, doc_b FROM cpairs
       |  JOIN sigs sa ON doc_a = sa.doc_id
       |  JOIN sigs sb ON doc_b = sb.doc_id
       |  WHERE ${DedupQueries.estJaccardSql("sa", "sb")} >= ${2.0 / DedupQueries.K}),
       |$exactTruthCtesSql,
       |joined AS (
       |  SELECT COALESCE(l.ok, 0) AS l, COALESCE(e.ok, 0) AS e
       |  FROM (SELECT doc_a, doc_b, 1 AS ok FROM lsh) l
       |  FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS ok FROM exact) e
       |    USING (doc_a, doc_b)),
       |counts AS (
       |  SELECT CAST(SUM(l) AS BIGINT) AS n_lsh,
       |    CAST(SUM(e) AS BIGINT) AS n_exact,
       |    CAST(SUM(l * e) AS BIGINT) AS n_both
       |  FROM joined)
       |SELECT n_lsh, n_exact, n_both,
       |  CAST(n_both * 1000000 // nullif(n_lsh, 0) AS BIGINT) AS prec_ppm,
       |  CAST(n_both * 1000000 // nullif(n_exact, 0) AS BIGINT) AS rec_ppm
       |FROM counts""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_simjoin_prefix", simjoinPrefix, Some(simjoinPrefixSql),
      "X2h exact Jaccard self-join via rarity-ordered prefix filtering"),
    QueryDef("q_contain_join", containJoin, Some(containJoinSql),
      "X2i exact near-containment join: asymmetric prefix filter"),
    QueryDef("q_dedup_eval", dedupEval, Some(dedupEvalSql),
      "X2k banding quality audit: LSH candidates vs exact J>=0.6 truth"))
}
