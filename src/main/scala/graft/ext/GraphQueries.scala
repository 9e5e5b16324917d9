package graft.ext

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the near-dup similarity graph (the LSH pair set
  * of X2, shared via the memoized pair table): degree distribution and
  * join-based triangle counting — the structural health checks a dedup
  * pipeline runs on its candidate graph (a fat-tailed degree histogram
  * or a triangle explosion means the banding threshold is letting
  * unrelated docs glue into mega-clusters).
  *
  * Scale: both operators are equi-join shaped over the THRESHOLDED pair
  * set, whose size the LSH bucket cap already bounds (BoundedCollect,
  * cap 50) — never over raw documents. Triangle enumeration orders
  * vertices (a < b < c), the standard trick that emits each triangle
  * exactly once and keeps the join DAG acyclic.
  */
object GraphQueries {

  /** Thresholded undirected edge set (doc_a < doc_b), memoized with the
    * cluster queries — reading it here costs nothing extra in a session
    * that already ran any X2 query. */
  private def edges(s: SparkSession, dir: String): DataFrame =
    DedupQueries.minhashPairs(s, dir).select("doc_a", "doc_b")

  /** Shared oracle edge CTE — the SAME candidate+threshold definition the
    * X2 oracles interpolate, so graph and dedup queries cannot diverge. */
  private val edgesCteSql: String =
    DedupQueries.lshPairsCtesSql("edges")

  /** Both directions of every undirected edge, as (src, dst). */
  private def symEdges(e: DataFrame): DataFrame =
    e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  /** DuckDB mirror of [[symEdges]] over the `edges` CTE. */
  private val symEdgesSql: String =
    """sym AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM edges
      |  UNION ALL SELECT doc_b, doc_a FROM edges)""".stripMargin

  // --- G1: degree distribution -------------------------------------------

  /** Histogram of vertex degrees in the near-dup graph: for each degree,
    * how many documents have exactly that many near-dup partners. One
    * union (each edge contributes both endpoints), two hash aggregates
    * over edge-bounded data. */
  def graphDegrees(s: SparkSession, dir: String): DataFrame =
    graphDegreesOf(edges(s, dir))

  /** [[graphDegrees]] over an arbitrary (doc_a < doc_b) edge relation —
    * factored for the ContractAndPropertySpec graph reference pins. */
  private[graft] def graphDegreesOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val ends = e.select($"doc_a".as("doc_id"))
      .unionAll(e.select($"doc_b".as("doc_id")))
    ends.groupBy($"doc_id").agg(count(lit(1)).as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_docs"))
      .orderBy($"degree")
  }

  val graphDegreesSql: String =
    s"""WITH $edgesCteSql,
       |ends AS (
       |  SELECT doc_a AS doc_id FROM edges
       |  UNION ALL SELECT doc_b FROM edges),
       |deg AS (SELECT doc_id, COUNT(*) AS degree FROM ends GROUP BY doc_id)
       |SELECT degree, COUNT(*) AS n_docs FROM deg
       |GROUP BY degree ORDER BY degree""".stripMargin

  // --- G2: triangle counting ---------------------------------------------

  /** Per-document triangle participation: for every doc in at least one
    * triangle, how many triangles it closes. Canonical enumeration —
    * edges already satisfy a < b, so joining (x,y)⋈(y,z)⋈(x,z) with
    * x < y < z emits each triangle once; two equi self-joins, then one
    * explode over the 3 corners and a hash count. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    graphTrianglesOf(edges(s, dir))

  /** [[graphTriangles]] over an arbitrary edge relation. */
  private[graft] def graphTrianglesOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val tri = e.toDF("x", "y")
      .join(e.toDF("y", "z"), "y")
      .join(e.toDF("x", "z"), Seq("x", "z"))
      .select($"x", $"y", $"z")
    tri.select(explode(array($"x", $"y", $"z")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"doc_id")
  }

  val graphTrianglesSql: String =
    s"""WITH $edgesCteSql,
       |tri AS (
       |  SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
       |  FROM edges e1
       |  JOIN edges e2 ON e1.doc_b = e2.doc_a
       |  JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       |corners AS (
       |  SELECT x AS doc_id FROM tri
       |  UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri)
       |SELECT doc_id, COUNT(*) AS n_triangles FROM corners
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- G3: PageRank (bounded rounds, integer-exact) ----------------------

  /** Damping factor in percent and the fixed-point rank unit. */
  private[graft] val DAMP_PCT = 85L
  private[graft] val RANK_ONE = 1000000L
  private[graft] val ROUNDS = 3

  /** PageRank over the near-dup graph, 3 damped power-iteration rounds —
    * the centrality signal a dedup pipeline uses to pick CANONICAL
    * documents (keep the most-connected copy, not an arbitrary min-id).
    * All arithmetic is fixed-point integer (ranks in millionths, damping
    * as ×85 div 100, contributions as rank div degree), so every round is
    * bit-identical in both engines — no float drift across iterations.
    *
    * Scale: the iterate is one equi-join of the rank vector against the
    * adjacency list plus one hash aggregate per round — the textbook
    * distributed PageRank step. Rounds are FIXED (3), so the plan is a
    * finite unrolled DAG; an open-ended variant would localCheckpoint per
    * round exactly like [[DedupQueries]]' connected components. Undirected
    * edges mean every vertex has degree ≥ 1 — no dangling-mass term. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame =
    graphPagerankOf(edges(s, dir))

  /** [[graphPagerank]] over an arbitrary edge relation. */
  private[graft] def graphPagerankOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val sym = symEdges(e)
    val deg = sym.groupBy($"src").agg(count(lit(1)).as("deg"))
    // r20 optimization note: per-round localCheckpoint of `ranks` (and a
    // one-time checkpoint of `adj`) was implemented and A/B-measured at
    // sf0.1/local[32]: 1.16 s unrolled vs 1.22-1.37 s checkpointed. The
    // unrolled 3-round DAG's duplicated subtrees (adj re-derived per
    // round, ranks consumed twice per round) are already deduplicated at
    // RUNTIME by exchange reuse (every duplicate feeds an identical
    // shuffle → ReusedExchange), so the eager materialization barriers
    // only ADD per-round job overhead at a fixed 3 rounds. Kept unrolled;
    // an open-ended-rounds variant must checkpoint per round (like the
    // CC loop) because its plan would otherwise grow without bound.
    val adj = sym.join(deg, "src")
    var ranks = deg.select($"src".as("doc_id"), lit(RANK_ONE).as("r"))
    for (_ <- 1 to ROUNDS) {
      val contrib = adj
        .join(ranks, adj("src") === ranks("doc_id"))
        .select($"dst", expr("r div deg").as("c"))
        .groupBy($"dst").agg(sum($"c").as("csum"))
      ranks = ranks.select($"doc_id")
        .join(contrib, $"doc_id" === $"dst", "left")
        .select($"doc_id",
          (lit(RANK_ONE - RANK_ONE * DAMP_PCT / 100) +
            expr(s"($DAMP_PCT * coalesce(csum, 0L)) div 100")).as("r"))
    }
    ranks.orderBy($"doc_id").select($"doc_id", $"r".as("rank_u"))
  }

  val graphPagerankSql: String = {
    val base = RANK_ONE - RANK_ONE * DAMP_PCT / 100
    val rounds = (1 to ROUNDS).map { i =>
      s"""c$i AS (
         |  SELECT a.dst AS doc_id, SUM(r.r // a.deg) AS csum
         |  FROM adj a JOIN r${i - 1} r ON a.src = r.doc_id
         |  GROUP BY a.dst),
         |r$i AS (
         |  SELECT v.doc_id,
         |    $base + ($DAMP_PCT * COALESCE(c.csum, 0)) // 100 AS r
         |  FROM r${i - 1} v LEFT JOIN c$i c ON v.doc_id = c.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCteSql,
       |$symEdgesSql,
       |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
       |adj AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d USING (src)),
       |r0 AS (SELECT src AS doc_id, CAST($RANK_ONE AS BIGINT) AS r FROM deg),
       |$rounds
       |SELECT doc_id, CAST(r AS BIGINT) AS rank_u
       |FROM r$ROUNDS ORDER BY doc_id""".stripMargin
  }

  // --- G4: k-core / onion-layer decomposition ----------------------------

  /** Core threshold and fixed peel rounds for [[graphKcore]]. */
  private[graft] val CORE_K = 2L
  private[graft] val PEEL_ROUNDS = 3

  /** k-core decomposition of the near-dup graph by iterative peeling —
    * the mega-cluster detector: a document surviving the 2-core sits on
    * a CYCLE of near-dup relations (mutually-reinforcing template
    * families), where pendant/tree attachments (one fragile LSH edge)
    * peel off. Each round removes every vertex whose CURRENT degree is
    * below k — including vertices isolated by earlier removals, which is
    * why the peel set is alive∖keep (an absent-from-degree vertex has
    * degree 0), not a degree filter alone. Emits the onion census: how
    * many docs peeled at each round, round 0 = the surviving core.
    *
    * Scale: each round is one hash aggregate (degrees) plus two
    * semi-joins restricting the edge list — the textbook distributed
    * peel step. Rounds are FIXED so the plan is a finite DAG (the
    * open-ended variant checkpoints per round like the CC loop); the
    * spec proves the fixpoint is reached within them at test scale, and
    * peeling is monotone so extra rounds are no-ops once it is. */
  def graphKcore(s: SparkSession, dir: String): DataFrame =
    graphKcoreOf(edges(s, dir))

  /** [[graphKcore]] over an arbitrary edge relation. */
  private[graft] def graphKcoreOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val sym = symEdges(e)
    var alive = sym.select($"src".as("doc_id")).distinct()
    var cur = sym
    var peeled: Seq[DataFrame] = Nil
    for (r <- 1 to PEEL_ROUNDS) {
      // Checkpoint each round's survivor set and restricted edge set
      // (r20 optimization): `keep` is consumed THREE times per round
      // (the peel anti-join and both semi-joins) and `cur` feeds both
      // the next round's degree count and its restriction — without a
      // lineage cut, every consumer re-executes the whole prior-round
      // subtree, so the unrolled plan roughly TRIPLES per round
      // (measured: 217 Exchanges / 432 HashAggregates / a 16,687-line
      // formatted plan at 3 rounds — Catalyst + codegen paid it on
      // every run, and each round's work re-ran up to 3×). With both
      // per-round relations materialized the plan is linear in rounds
      // and each round's degree count runs exactly once — the same
      // per-round truncation the open-ended CC loop (DedupQueries)
      // already uses, and what any unbounded-round peel needs anyway.
      val keep = graft.GraftSession.ckpt(
        cur.groupBy($"src").agg(count(lit(1)).as("dg"))
          .filter($"dg" >= CORE_K).select($"src".as("doc_id")))
      peeled = peeled :+ alive.join(keep, Seq("doc_id"), "left_anti")
        .select($"doc_id", lit(r.toLong).as("peel_round"))
      alive = keep
      cur = graft.GraftSession.ckpt(
        cur.join(keep.select($"doc_id".as("src")), Seq("src"), "left_semi")
          .join(keep.select($"doc_id".as("dst")), Seq("dst"), "left_semi")
          .select($"src", $"dst"))
    }
    val core = alive.select($"doc_id", lit(0L).as("peel_round"))
    // Convergence receipt, IN the output: peel_round = -1 counts the
    // "core" vertices whose degree in the final restricted edge set is
    // still < k — vertices a further round WOULD peel. 0 ⇔ the fixed
    // rounds reached the fixpoint; nonzero makes a truncated peel visible
    // in the census itself (both engines would otherwise agree on the
    // same mislabeled core and the hash gate could never catch it).
    val finalKeep = cur.groupBy($"src").agg(count(lit(1)).as("dg"))
      .filter($"dg" >= CORE_K).select($"src".as("doc_id"))
    val residual = alive.join(finalKeep, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_docs"))
      .select(lit(-1L).as("peel_round"), $"n_docs")
    val census = (peeled :+ core).reduce(_.unionByName(_))
      .groupBy($"peel_round").agg(count(lit(1)).as("n_docs"))
    census.unionByName(residual).orderBy($"peel_round")
  }

  val graphKcoreSql: String = {
    val rounds = (1 to PEEL_ROUNDS).map { r =>
      s"""k$r AS (
         |  SELECT src AS doc_id FROM e${r - 1}
         |  GROUP BY src HAVING COUNT(*) >= $CORE_K),
         |p$r AS (
         |  SELECT a.doc_id, CAST($r AS BIGINT) AS peel_round
         |  FROM a${r - 1} a LEFT JOIN k$r k USING (doc_id)
         |  WHERE k.doc_id IS NULL),
         |a$r AS (SELECT doc_id FROM k$r),
         |e$r AS (
         |  SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN k$r x ON e.src = x.doc_id
         |  JOIN k$r y ON e.dst = y.doc_id)""".stripMargin
    }.mkString(",\n")
    val peelUnion = (1 to PEEL_ROUNDS).map(r => s"SELECT * FROM p$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $edgesCteSql,
       |$symEdgesSql,
       |a0 AS (SELECT DISTINCT src AS doc_id FROM sym),
       |e0 AS (SELECT src, dst FROM sym),
       |$rounds,
       |onion AS (
       |  $peelUnion
       |  UNION ALL SELECT doc_id, CAST(0 AS BIGINT) FROM a$PEEL_ROUNDS),
       |resid AS (
       |  SELECT CAST(-1 AS BIGINT) AS peel_round,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM a$PEEL_ROUNDS a LEFT JOIN (
       |    SELECT src AS doc_id FROM e$PEEL_ROUNDS
       |    GROUP BY src HAVING COUNT(*) >= $CORE_K) s USING (doc_id)
       |  WHERE s.doc_id IS NULL)
       |SELECT peel_round, COUNT(*) AS n_docs FROM onion
       |GROUP BY peel_round
       |UNION ALL SELECT peel_round, n_docs FROM resid
       |ORDER BY peel_round""".stripMargin
  }

  // --- G5: link prediction by common-neighbor Jaccard --------------------

  /** Minimum shared neighbors for a predicted link. The capped LSH test
    * graph is nearly clique-shaped (band buckets collide all-or-nothing),
    * so distance-2 NON-edges are rare — at 2+ shared neighbors the
    * sf0.01 graph yields none at all, and a 0-row gate row pins nothing.
    * 1 keeps the audit non-trivial at test scale (3 rows at sf0.01, one
    * with Jaccard 1.0 — a missed pair in the fullest sense) while the
    * ranking is what a production run would threshold. */
  private[graft] val LP_MIN_COMMON = 1L

  /** LINK PREDICTION over the near-dup graph (round 13): for every
    * non-adjacent pair reachable through ≥ [[LP_MIN_COMMON]] shared
    * neighbors, the neighbor-set Jaccard — the classic
    * common-neighbors/Jaccard link predictor, which for a dedup graph
    * answers "which near-dup families are ONE family the banding
    * narrowly missed" (two docs sharing most of their near-dup partners
    * are almost surely variants of each other even if no band ever
    * collided them — the recall patch applied where it is cheapest).
    *
    * Scale: the distance-2 expansion joins the adjacency list with
    * itself on the SHARED NEIGHBOR — Σ deg² work, which the LSH bucket
    * cap already bounds (max degree ≤ bands·(cap−1)); the existing-edge
    * exclusion is a left-anti equi-join; degrees broadcast. Never
    * all-pairs. */
  def graphLinkPredict(s: SparkSession, dir: String): DataFrame =
    graphLinkPredictOf(edges(s, dir))

  /** [[graphLinkPredict]] over an arbitrary edge relation. */
  private[graft] def graphLinkPredictOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val sym = symEdges(e)
    val deg = sym.groupBy($"src").agg(count(lit(1)).as("deg"))
    val cand = sym.toDF("a", "n").join(sym.toDF("b", "n"), "n")
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("common_n"))
      .filter($"common_n" >= LP_MIN_COMMON)
    cand
      .join(e.toDF("a", "b"), Seq("a", "b"), "left_anti") // non-edges only
      .join(broadcast(deg.toDF("a", "deg_a")), Seq("a"))
      .join(broadcast(deg.toDF("b", "deg_b")), Seq("b"))
      .select($"a".as("doc_a"), $"b".as("doc_b"), $"common_n",
        expr("common_n * 1000000 div (deg_a + deg_b - common_n)")
          .as("jaccard_ppm"))
      .orderBy($"doc_a", $"doc_b")
  }

  val graphLinkPredictSql: String =
    s"""WITH $edgesCteSql,
       |$symEdgesSql,
       |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
       |cand AS (
       |  SELECT x.src AS a, y.src AS b, COUNT(*) AS common_n
       |  FROM sym x JOIN sym y ON x.dst = y.dst AND x.src < y.src
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $LP_MIN_COMMON),
       |nonedge AS (
       |  SELECT c.* FROM cand c
       |  LEFT JOIN edges e ON c.a = e.doc_a AND c.b = e.doc_b
       |  WHERE e.doc_a IS NULL)
       |SELECT n.a AS doc_a, n.b AS doc_b,
       |  CAST(n.common_n AS BIGINT) AS common_n,
       |  CAST(n.common_n * 1000000 // (da.deg + db.deg - n.common_n)
       |    AS BIGINT) AS jaccard_ppm
       |FROM nonedge n
       |JOIN deg da ON n.a = da.src
       |JOIN deg db ON n.b = db.src
       |ORDER BY doc_a, doc_b""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_graph_link_predict", graphLinkPredict, Some(graphLinkPredictSql),
      "G5 common-neighbor Jaccard link prediction: near-miss near-dup pairs the banding never collided"),
    QueryDef("q_graph_kcore", graphKcore, Some(graphKcoreSql),
      "G4 k-core onion decomposition: bounded-round peel census over the near-dup graph"),
    QueryDef("q_graph_degrees", graphDegrees, Some(graphDegreesSql),
      "G1 degree distribution of the near-dup similarity graph"),
    QueryDef("q_graph_triangles", graphTriangles, Some(graphTrianglesSql),
      "G2 per-doc triangle participation via canonical join enumeration"),
    QueryDef("q_graph_pagerank", graphPagerank, Some(graphPagerankSql),
      "G3 fixed-point integer PageRank (3 damped rounds) for canonical pick"))
}
