package graft.ext

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate string matching — the edit-distance tier of the dedup
  * family (X2 handles token-set similarity; this handles typo-level
  * variation in short keys like product names, brands, entity labels).
  */
object FuzzyQueries {

  /** The two sides of the blocked name self-join: the distinct part names
    * with their row support, as (name_a, parts_a) and (name_b, parts_b). */
  private def namePairSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val names = Tables.part(s, dir)
      .groupBy($"p_name").agg(count(lit(1)).as("n_parts"))
    (names.select($"p_name".as("name_a"), $"n_parts".as("parts_a")),
      names.select($"p_name".as("name_b"), $"n_parts".as("parts_b")))
  }

  /** Fuzzy self-join of the part-name dictionary: name pairs within
    * Levenshtein distance 3, blocked on (first char, |length delta| ≤ 3).
    *
    * The 100-TB shape is dictionary-space, not row-space: distinct names
    * are extracted first (an aggregate that also carries each name's row
    * support), the quadratic candidate generation runs over the TINY
    * dictionary under a blocking predicate, and row-level consumers would
    * join back by exact name. Edit distance never touches the fact table.
    * Blocking note: first-char equality is demo-grade (a first-char typo
    * escapes the block); production blocking would OR a few cheap keys
    * (prefix, suffix, length bucket) the same way. */
  def fuzzyNameJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (a, b) = namePairSides(s, dir)
    a.join(b,
        substring($"name_a", 1, 1) === substring($"name_b", 1, 1) &&
          abs(length($"name_a") - length($"name_b")) <= 3 &&
          $"name_a" < $"name_b")
      .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
      .where($"dist" <= 3)
      .select($"name_a", $"name_b", $"dist", $"parts_a", $"parts_b")
      .orderBy($"name_a", $"name_b")
  }

  val fuzzyNameJoinSql: String =
    """WITH names AS (
      |  SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY 1)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
      |  a.n_parts AS parts_a, b.n_parts AS parts_b
      |FROM names a JOIN names b
      |  ON substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
      | AND abs(len(a.p_name) - len(b.p_name)) <= 3
      | AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  /** Transposition-tolerant twin of [[fuzzyNameJoin]]: the same
    * dictionary-space blocked self-join scored by Jaro-Winkler instead of
    * Levenshtein — the scorer entity-resolution uses for short name keys,
    * where a swapped word pair costs Levenshtein heavily but barely dents
    * JW. Spark has no built-in Jaro-Winkler; this drives the custom codegen
    * [[graft.functions.JaroWinkler]] expression, whose semantics are pinned
    * byte-for-byte to DuckDB's `jaro_winkler_similarity` (the oracle).
    *
    * Determinism: JW is pure double arithmetic (no libm) but its summation
    * shape differs between engines, so the score is rounded at 5 places and
    * BOTH the threshold filter and the output use the rounded value. */
  def fuzzyJaroWinkler(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (a, b) = namePairSides(s, dir)
    a.join(b,
        substring($"name_a", 1, 1) === substring($"name_b", 1, 1) &&
          $"name_a" < $"name_b")
      .withColumn("jw",
        round(graft.functions.JaroWinkler.jaroWinkler($"name_a", $"name_b"), 5))
      .where($"jw" >= 0.85)
      .select($"name_a", $"name_b", $"jw", $"parts_a", $"parts_b")
      .orderBy($"name_a", $"name_b")
  }

  val fuzzyJaroWinklerSql: String =
    """WITH names AS (
      |  SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY 1)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  round(jaro_winkler_similarity(a.p_name, b.p_name), 5) AS jw,
      |  a.n_parts AS parts_a, b.n_parts AS parts_b
      |FROM names a JOIN names b
      |  ON substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
      | AND a.p_name < b.p_name
      |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 5) >= 0.85
      |ORDER BY name_a, name_b""".stripMargin

  // --- X2j: end-to-end entity resolution ----------------------------------

  /** The composed entity-resolution operator: block (first char) → score
    * (the codegen Jaro-Winkler expression, threshold on the rounded
    * value) → cluster (the SAME bounded-round min-label + pointer-jump
    * connected components the dedup tier uses, here over STRING name
    * nodes) → canonical entity id (lexicographic min name) → entity
    * table with name-variant membership and row support. Each stage is
    * the scale shape already proven elsewhere: dictionary-space blocking
    * (X2e), local codegen scoring, equi-join-only CC with localCheckpoint
    * per round (X2d).
    *
    * Output: multi-name entities only (singletons are the uninteresting
    * diagonal), with member counts and total part-row support — what a
    * catalog-reconciliation job materializes. */
  def entityResolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Tables.part(s, dir)
      .groupBy($"p_name").agg(count(lit(1)).as("n_parts"))
    val a = names.select($"p_name".as("name_a"))
    val b = names.select($"p_name".as("name_b"))
    val pairs = a.join(b,
        substring($"name_a", 1, 1) === substring($"name_b", 1, 1) &&
          $"name_a" < $"name_b")
      .filter(round(
        graft.functions.JaroWinkler.jaroWinkler($"name_a", $"name_b"), 5) >= 0.85)
      .select($"name_a".as("doc_a"), $"name_b".as("doc_b"))
    val labels = DedupQueries.clusterLabels(s, pairs)
      .select($"src".as("p_name"), $"lbl".as("entity_id"))
    names.join(labels, Seq("p_name"), "left")
      .select($"p_name", coalesce($"entity_id", $"p_name").as("entity_id"),
        $"n_parts")
      .groupBy($"entity_id")
      .agg(count(lit(1)).as("n_names"), sum($"n_parts").as("n_parts_total"),
        min($"p_name").as("first_name"), max($"p_name").as("last_name"))
      .filter($"n_names" >= 2)
      .orderBy($"entity_id")
  }

  val entityResolutionSql: String =
    """WITH RECURSIVE names AS (
      |  SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY 1),
      |jw AS (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b
      |  FROM names a JOIN names b
      |    ON substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
      |   AND a.p_name < b.p_name
      |  WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 5) >= 0.85),
      |edges AS (
      |  SELECT name_a AS src, name_b AS dst FROM jw
      |  UNION ALL SELECT name_b AS src, name_a AS dst FROM jw),
      |reach(src, lbl) AS (
      |  SELECT src, dst AS lbl FROM edges
      |  UNION
      |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src),
      |labels AS (
      |  SELECT src AS p_name, LEAST(src, MIN(lbl)) AS entity_id
      |  FROM reach GROUP BY src),
      |ent AS (
      |  SELECT n.p_name, COALESCE(l.entity_id, n.p_name) AS entity_id,
      |    n.n_parts
      |  FROM names n LEFT JOIN labels l USING (p_name))
      |SELECT entity_id, COUNT(*) AS n_names,
      |  CAST(SUM(n_parts) AS BIGINT) AS n_parts_total,
      |  MIN(p_name) AS first_name, MAX(p_name) AS last_name
      |FROM ent GROUP BY entity_id HAVING COUNT(*) >= 2
      |ORDER BY entity_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_fuzzy_name_join", fuzzyNameJoin, Some(fuzzyNameJoinSql),
      "X2e dictionary-space fuzzy join: blocked Levenshtein name pairs"),
    QueryDef("q_fuzzy_jarowinkler", fuzzyJaroWinkler, Some(fuzzyJaroWinklerSql),
      "X2e' blocked Jaro-Winkler name pairs via custom codegen expression"),
    QueryDef("q_entity_resolution", entityResolution, Some(entityResolutionSql),
      "X2j composed ER: block -> JW score -> CC cluster -> entity table"))
}
