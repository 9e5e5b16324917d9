package graft.analytics

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recursive-hierarchy operators (R tier): transitive closure over a
  * parent-pointer forest. Spark has no `WITH RECURSIVE`; the scale-correct
  * substitute is pointer jumping (path doubling) — each round every node's
  * ancestor pointer jumps to its ancestor's ancestor, so a depth-D tree
  * flattens in ceil(log2 D) equi-join rounds instead of D sequential ones.
  * This is the same bounded-round discipline as the dedup tier's connected
  * components ([[graft.ext.DedupQueries]]), applied to DIRECTED forests
  * (org charts, category trees, thread/reply graphs, file-system paths).
  *
  * The forest is derived deterministically from the orders table: node set
  * = o_orderkey, parent(k) = k div 7; a node is a root when it is its own
  * parent (k = 0) or when its parent key is absent from the node set (the
  * sparse-key case — the derivation never assumes dense keys). Parent keys
  * are strictly smaller than child keys, so the structure is acyclic by
  * construction.
  */
object HierarchyQueries {

  /** Pointer-jump rounds. Depth of the derived tree is log7(max key), so
    * 5 rounds (2^5 = 32 levels) cover key spaces up to 7^32 — any scale.
    * Keys are non-negative, so Spark's truncating `div` and DuckDB's
    * flooring `//` agree. */
  private val JUMPS = 5

  /** Shared pointer-jump state, memoized per (session, orders content) —
    * the basket-pair/minhashPairs pattern. R1 (closure) and R3 (paths)
    * walk the SAME forest with the SAME doubling rounds; carrying both
    * the hop distance and the path segment in one state means the 5
    * join+checkpoint rounds run once per session and each consumer is a
    * projection: closure reads `dist`, paths reads `pth`. The extra path
    * column costs R1 nothing material (it is Σ depth(n) characters,
    * the same order as the state itself). */
  private def jumpState(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "hierarchy_jump", dir, "orders") {
      graft.GraftSession.ckpt(jumpStatePlan(s, dir))
    }

  /** The un-memoized jump build (PlanShapeSpec pins its shape).
    *
    * Scale: root/non-root classification is one left_anti against the node
    * set; each jump round is one equi-join of the pointer table with
    * itself (shuffle on the ancestor key) + a lineage-flattening
    * checkpoint ([[graft.GraftSession.ckpt]] — reliable when
    * `spark.graft.checkpoint.dir` is set) — log-bounded rounds, never a
    * depth-proportional chain. No driver-side state, no assumption the
    * tree fits anywhere.
    *
    * State: (node, anc, dist, pth). Roots point at themselves with dist 0
    * and an empty segment, so jumping is idempotent once a pointer reaches
    * its root; `pth` carries the path from anc (exclusive) down to node
    * (inclusive), so each jump's concat seg(a2→a1) || seg(a1→node) is
    * exactly seg(a2→node). */
  private[graft] def jumpStatePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = Tables.orders(s, dir).select($"o_orderkey".as("k"))
    val cand = nodes.select($"k", expr("k div 7").as("pk"))
    val keys = nodes.select($"k".as("pk"))
    // Roots: self-parent (k = 0) or parent key absent from the node set.
    val roots = cand.where($"k" === $"pk").select($"k")
      .unionByName(
        cand.where($"k" =!= $"pk").join(keys, Seq("pk"), "left_anti")
          .select($"k"))
    val nonRoots =
      cand.where($"k" =!= $"pk").join(keys, Seq("pk"), "left_semi")
    var st = roots.select($"k".as("node"), $"k".as("anc"), lit(0L).as("dist"),
      lit("").as("pth"))
      .unionByName(nonRoots.select($"k".as("node"), $"pk".as("anc"),
        lit(1L).as("dist"), concat(lit("/"), $"k".cast("string")).as("pth")))
    st = graft.GraftSession.ckpt(st)
    for (_ <- 1 to JUMPS) {
      val hop = st.select($"node".as("h_node"), $"anc".as("h_anc"),
        $"dist".as("h_dist"), $"pth".as("h_pth"))
      st = graft.GraftSession.ckpt(
        st.join(hop, st("anc") === hop("h_node"))
          .select($"node", $"h_anc".as("anc"),
            ($"dist" + $"h_dist").as("dist"),
            concat($"h_pth", $"pth").as("pth")))
    }
    st
  }

  /** R1: flatten the forest to (node → root, depth) by path doubling and
    * emit the per-depth audit rollup (population + exact money mass per
    * level) — the compact shape a lineage/rollup job reports. Consumes the
    * memoized [[jumpState]]; the only work here is one join to re-attach
    * prices and one hash aggregate on depth. */
  def hierarchyClosure(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = Tables.orders(s, dir)
      .select($"o_orderkey".as("k"), Ops.money($"o_totalprice").as("price"))
    jumpState(s, dir).select($"node".as("k"), $"dist".as("depth"))
      .join(nodes, Seq("k"))
      .groupBy($"depth")
      .agg(count(lit(1)).as("n_nodes"), sum($"price").cast("double")
        .as("sum_price"))
      .orderBy($"depth")
  }

  /** DuckDB mirror: the same forest walked with WITH RECURSIVE (breadth-
    * first from the roots), so the closure semantics — not the doubling
    * mechanics — are what the hash pins. */
  val hierarchyClosureSql: String =
    """WITH RECURSIVE nodes AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders),
      |walk AS (
      |  SELECT k, CAST(0 AS BIGINT) AS depth FROM nodes n0
      |  WHERE k = k // 7
      |     OR NOT EXISTS (SELECT 1 FROM nodes p WHERE p.k = n0.k // 7)
      |  UNION ALL
      |  SELECT n.k, w.depth + 1 FROM nodes n
      |  JOIN walk w ON n.k // 7 = w.k AND n.k <> n.k // 7)
      |SELECT depth, COUNT(*) AS n_nodes,
      |  CAST(SUM(price) AS DOUBLE) AS sum_price
      |FROM walk JOIN nodes USING (k)
      |GROUP BY depth ORDER BY depth""".stripMargin

  /** R2: subtree rollup — for every node, the size and money mass of its
    * full descendant subtree (self included), reported as the top-20
    * heaviest subtrees.
    *
    * Round 19 REPLACED the materialized ancestor closure with bottom-up
    * LEVEL-WISE aggregation. The closure form (binary lifting to every
    * (descendant, ancestor) pair, then one hash aggregate) materializes
    * Σ depth(n) ≈ N·log₇ N rows through four checkpointed join rounds —
    * the 100× tier measured it 25.8× wall for 10× data (the ~12× closure
    * blowup plus the memory pressure of checkpointing it). Subtree
    * aggregates never need the closure: process levels deepest-first,
    * each round folding level-t totals into their level-(t−1) parents
    * (one map-side-combining groupBy(parent) + one equi-join against the
    * level's rows). A node's total is FINAL the round its level fires,
    * so each row flows through exactly one round: total shuffle is
    * Σ|level t| = N rows across ALL rounds (~N/6 after the 7-ary
    * map-side combine), peak state is one level, and the top-20 cut on
    * the per-level union is a TakeOrdered, never a global sort. Rounds =
    * tree depth ≤ log₇(max key) — 22 for the full int64 key space, ~8 at
    * the 100× tier — each a bounded small job, the same sequential-depth
    * discipline as a BFS WITH RECURSIVE but with provably tiny rounds. */
  def hierarchyRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = Tables.orders(s, dir)
      .select($"o_orderkey".as("k"), Ops.money($"o_totalprice").as("price"))
    // (k, depth) for every node from the memoized jump state — depth is
    // the round schedule; the root/orphan classification is already baked
    // into it (roots sit at dist 0)
    val base = graft.GraftSession.ckpt(
      jumpState(s, dir).select($"node".as("k"), $"dist".as("depth"))
        .join(nodes, Seq("k"))
        .select($"k", expr("k div 7").as("pk"), $"depth", $"price"))
    // max() over zero rows is null — short-circuit to an empty frame with
    // the output schema instead of NPE-ing on getLong (advice r19)
    val maxDepthOpt =
      Option(base.agg(max($"depth")).head().get(0)).map(_.asInstanceOf[Long])
    if (maxDepthOpt.isEmpty) {
      return base.select($"k".as("anc_key"), lit(0L).as("n_subtree"),
        lit(0.0).as("sum_price")).limit(0)
    }
    val maxDepth = maxDepthOpt.get
    val zero = lit(0L).cast(org.apache.spark.sql.types.DecimalType(18, 2))
    // deepest level first: totals are (self count, self price) — leaves
    var cur = base.filter($"depth" === maxDepth)
      .select($"k", $"pk", lit(1L).as("n"), $"price".as("sp"))
    val finals = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- (maxDepth - 1) to 0L by -1L) {
      finals += cur.select($"k", $"n", $"sp")
      // children's totals fold into their parents (all at level t)
      val up = cur.groupBy($"pk")
        .agg(sum($"n").as("cn"), sum($"sp").as("cp"))
        .select($"pk".as("upk"), $"cn", $"cp")
      cur = graft.GraftSession.ckpt(
        base.filter($"depth" === t)
          .join(up, $"k" === $"upk", "left")
          .select($"k", $"pk",
            (coalesce($"cn", lit(0L)) + 1L).as("n"),
            (coalesce($"cp", zero) + $"price").as("sp")))
    }
    finals += cur.select($"k", $"n", $"sp")
    finals.reduce(_ unionByName _)
      .orderBy($"n".desc, $"k".asc)
      .limit(20)
      .select($"k".as("anc_key"), $"n".as("n_subtree"),
        $"sp".cast("double").as("sum_price"))
  }

  /** DuckDB mirror: the closure as a plain recursive walk up the parent
    * chain — semantics, not the lifting mechanics, are what the hash
    * pins. */
  val hierarchyRollupSql: String =
    """WITH RECURSIVE nodes AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders),
      |anc AS (
      |  SELECT n.k AS d, n.k // 7 AS a FROM nodes n
      |  WHERE n.k <> n.k // 7
      |    AND EXISTS (SELECT 1 FROM nodes p WHERE p.k = n.k // 7)
      |  UNION ALL
      |  SELECT w.d, x.k // 7 AS a FROM anc w JOIN nodes x ON w.a = x.k
      |  WHERE x.k <> x.k // 7
      |    AND EXISTS (SELECT 1 FROM nodes p WHERE p.k = x.k // 7)),
      |cl AS (
      |  SELECT d, a FROM anc
      |  UNION ALL SELECT k, k FROM nodes),
      |agg AS (
      |  SELECT a AS anc_key, COUNT(*) AS n_subtree,
      |    CAST(SUM(p.price) AS DOUBLE) AS sum_price
      |  FROM cl JOIN nodes p ON cl.d = p.k GROUP BY a)
      |SELECT anc_key, n_subtree, sum_price FROM agg
      |ORDER BY n_subtree DESC, anc_key ASC LIMIT 20""".stripMargin

  /** R3: materialized paths — the `/root/…/node` path-string column a
    * warehouse denormalizes onto hierarchy tables (org charts, BOM,
    * category trees) so descendant queries become prefix filters. Built
    * with the same pointer doubling as R1, with each jump CONCATENATING
    * the two path segments it composes: the state (node → anc) carries
    * the path from anc (exclusive) down to node (inclusive), so
    * seg(a2→a1) || seg(a1→node) is exactly seg(a2→node) and after
    * ceil(log2 D) rounds every node holds its full root path — log-round
    * string assembly, never a depth-long sequential walk.
    *
    * Output: the 20 deepest nodes (ties on key) with their paths — the
    * rows a prefix-filter consumer would index. Consumes the memoized
    * [[jumpState]] (shared with R1); the only work here is the projection
    * prepending the root key and a top-20 TakeOrdered. */
  def hierarchyPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    jumpState(s, dir)
      .select($"node".as("k"), $"dist".as("depth"),
        concat($"anc".cast("string"), $"pth").as("path"))
      .orderBy($"depth".desc, $"k".asc)
      .limit(20)
  }

  val hierarchyPathsSql: String =
    """WITH RECURSIVE nodes AS (SELECT o_orderkey AS k FROM orders),
      |walk AS (
      |  SELECT k, CAST(0 AS BIGINT) AS depth, CAST(k AS VARCHAR) AS path
      |  FROM nodes n0
      |  WHERE k = k // 7
      |     OR NOT EXISTS (SELECT 1 FROM nodes p WHERE p.k = n0.k // 7)
      |  UNION ALL
      |  SELECT n.k, w.depth + 1, w.path || '/' || CAST(n.k AS VARCHAR)
      |  FROM nodes n
      |  JOIN walk w ON n.k // 7 = w.k AND n.k <> n.k // 7)
      |SELECT k, depth, path FROM walk
      |ORDER BY depth DESC, k ASC LIMIT 20""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_hierarchy_closure", hierarchyClosure,
      Some(hierarchyClosureSql),
      "R1 recursive forest closure via log-round pointer jumping vs WITH RECURSIVE"),
    QueryDef("q_hierarchy_paths", hierarchyPaths, Some(hierarchyPathsSql),
      "R3 materialized root paths assembled by concatenating pointer jumps"),
    QueryDef("q_hierarchy_rollup", hierarchyRollup,
      Some(hierarchyRollupSql),
      "R2 subtree size/money rollup via duplicate-free binary-lifting closure"))
}
