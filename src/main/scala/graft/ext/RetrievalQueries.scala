package graft.ext

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** X4i — BM25 ranked retrieval over the document corpus: the scoring
  * function behind keyword search / candidate retrieval in a RAG or
  * contamination-audit pipeline, expressed as pure aggregations (no search
  * library, no per-query index structure).
  *
  * BM25(d, Q) = Σ_{t∈Q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  * with the standard Robertson idf = ln((N − df + ½)/(df + ½) + 1),
  * k1 = 1.2, b = 0.75.
  *
  * Scale: term frequencies for the (tiny, constant) query term set come
  * from ONE filtered scan + hash agg — the `isin` filter prunes the token
  * stream before any shuffle, so the exchanged relation is O(matching
  * docs·|Q|), never O(corpus tokens). Corpus stats (N, avgdl) are a
  * single-row aggregate broadcast onto the scored rows (the accepted
  * single-row-BNLJ class, see RegistrySpec), df is a |Q|-row broadcast.
  * Global top-k goes through TakeOrderedAndProject, not a full sort.
  *
  * Determinism: ln is libm — scores are rounded at 5 places and ranked ON
  * the rounded value with a doc_id tie-break (ROUNDLOG round-1 rules); the
  * arithmetic is written token-for-token identically in both engines so
  * IEEE evaluation matches bit-for-bit before the round.
  */
object RetrievalQueries {

  /** The fixed keyword query. Constant-size by construction — a batch of
    * queries would broadcast a (query_id, term) relation instead. */
  private val QUERY = Seq("vector", "spark", "window")
  private val TOP_K = 20

  def textBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = bm25ScoredOf(Tables.documents(s, dir), QUERY)
    // distributed top-k first (TakeOrderedAndProject), THEN rank: the
    // global-ordered window only ever sees TOP_K rows, not every scored doc
    val top = scored.orderBy($"score".desc, $"doc_id".asc).limit(TOP_K)
    val w = Window.orderBy($"score".desc, $"doc_id".asc)
    top.withColumn("rnk", row_number().over(w).cast(LongType))
      .select($"rnk", $"doc_id", $"score")
      .orderBy($"rnk")
  }

  /** BM25 scores (rounded at 5 places) for every document of `docs`
    * matching at least one of `terms` — the scoring core of [[textBm25]],
    * factored over an arbitrary (doc_id, text) relation so the
    * ContractAndPropertySpec reference pin can drive it on generated
    * corpora (the DuckDB oracle runs the same arithmetic token-for-token,
    * so only an independent reference can catch a formula-variant bug). */
  private[graft] def bm25ScoredOf(docs: DataFrame,
      terms: Seq[String]): DataFrame = {
    import docs.sparkSession.implicits._
    val (dl, stats, tf, df_) = bm25Stats(docs, terms)
    tf
      .join(broadcast(df_), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select($"doc_id", bm25Term)
      .groupBy($"doc_id")
      .agg(round(sum($"c"), 5).as("score"))
  }

  /** BM25's corpus statistics over a (doc_id, text) relation: per-doc
    * lengths `dl` (for every doc — BM25 normalizes by the corpus-wide
    * avgdl), the one-row (n_docs, avgdl) `stats`, the (doc_id, tok, tf)
    * frequencies of `terms` and their (tok, df) document frequencies. */
  private def bm25Stats(docs: DataFrame, terms: Seq[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val dl = docs.select(col("doc_id"), Ops.wordCount(col("text")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(Ops.words(col("text"))).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    (dl, stats, tf, tf.groupBy(col("tok")).agg(count(lit(1)).as("df")))
  }

  /** One term's BM25 contribution `c` (k1 = 1.2, b = 0.75) from the
    * columns of [[bm25Stats]]. */
  private def bm25Term: Column =
    (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
      (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))).as("c")

  /** DuckDB mirror of [[bm25Stats]] over `documents`: the `dl`, `stats`,
    * `$tf` and `dfs` CTEs. */
  private def bm25StatsSql(tf: String, terms: Seq[String]): String =
    s"""dl AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM dl),
       |$tf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |    FROM documents)
       |  WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY 1, 2),
       |dfs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM $tf GROUP BY 1)""".stripMargin

  /** DuckDB mirror of [[bm25Term]], summed per group and rounded at 5
    * places. */
  private val bm25ScoreSql: String =
    """round(SUM(
      |      ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
      |      (tf * 2.2) /
      |      (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))), 5)""".stripMargin

  val textBm25Sql: String =
    s"""WITH ${bm25StatsSql("tf", QUERY)},
       |scored AS (
       |  SELECT tf.doc_id,
       |    $bm25ScoreSql AS score
       |  FROM tf
       |  JOIN dfs USING (tok)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats
       |  GROUP BY 1)
       |SELECT rnk, doc_id, score FROM (
       |  SELECT doc_id, score, row_number() OVER (
       |    ORDER BY score DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |WHERE rnk <= $TOP_K
       |ORDER BY rnk""".stripMargin

  // --- X4j: positional phrase search --------------------------------------

  /** Exact phrase matching (the quoted-query operator): for each fixed
    * two-word phrase, how many documents contain it and how many times,
    * counting overlapping occurrences. Positions never leave the row: the
    * per-doc count is a codegen array-HOF scan over adjacent token pairs —
    * no positional posting list is materialized, no join happens. The
    * corpus-level rollup is a hash agg onto |phrases| rows.
    *
    * At 100 TB this is the narrow-scan form a phrase filter should take
    * when it runs AFTER a cheap candidate cut (e.g. the BM25 tier above or
    * a bigram bloom filter); materialized positional indexes only pay when
    * the same corpus serves many ad-hoc phrases. */
  private val PHRASES = Seq(("big", "data"), ("hash", "join"), ("window", "merge"))

  def phraseSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withToks = Tables.documents(s, dir)
      .transform(DedupQueries.withToks)
    // one occurrence-count column per phrase, all from the same scan
    val occCols = PHRASES.map { case (w1, w2) =>
      expr(s"size(filter(sequence(0, size(toks) - 2), " +
        s"i -> toks[i] = '$w1' AND toks[i + 1] = '$w2'))")
        .cast(LongType).as(s"occ_${w1}_$w2")
    }
    val occ = withToks.filter(size($"toks") >= 2)
      .select(($"doc_id" +: occCols): _*)
    val stacked = occ.select(explode(array(PHRASES.map { case (w1, w2) =>
      struct(lit(s"$w1 $w2").as("phrase"), col(s"occ_${w1}_$w2").as("n"))
    }: _*)).as("p"))
      .select($"p.phrase".as("phrase"), $"p.n".as("n"))
    stacked.groupBy($"phrase")
      .agg(sum(when($"n" > 0, 1L).otherwise(0L)).as("n_docs"),
        sum($"n").as("n_occurrences"))
      .orderBy($"phrase")
  }

  val phraseSearchSql: String = {
    val branches = PHRASES.map { case (w1, w2) =>
      s"""SELECT '$w1 $w2' AS phrase,
         |  CAST(len(list_filter(generate_series(1, len(ts) - 1),
         |    i -> ts[i] = '$w1' AND ts[i + 1] = '$w2')) AS BIGINT) AS n
         |FROM (SELECT string_split(text, ' ') AS ts FROM documents)
         |WHERE len(ts) >= 2""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH occ AS (
       |  $branches)
       |SELECT phrase,
       |  CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       |  CAST(SUM(n) AS BIGINT) AS n_occurrences
       |FROM occ GROUP BY phrase
       |ORDER BY phrase""".stripMargin
  }

  // --- X4s: hybrid retrieval (lexical + dense, RRF fusion) ----------------

  /** The hybrid query batch: each query is a (query doc id, keyword terms)
    * pair — the dense arm searches with the query doc's own embedding
    * (documents and embeddings share the id space), the lexical arm with
    * its terms. Constant-size; at scale this is a broadcast
    * (query_id, term) relation plus a broadcast query-vector batch. */
  private val HYBRID: Seq[(Long, Seq[String])] = Seq(
    3L -> Seq("vector", "spark"),
    11L -> Seq("window", "data"),
    17L -> Seq("hash", "join"))
  private val ARM_K = 20
  private val FUSE_K = 10
  private val RRF_B = 60L
  private val DIM = 64

  /** Hybrid retrieval with reciprocal-rank fusion — the retrieval shape a
    * RAG stack actually serves: a sparse/lexical ranker (the X4i BM25
    * aggregation, restricted per query to its term set) and a dense
    * ranker (exact integer-quantized cosine against the query doc's
    * embedding, the X3a arm) each produce a top-[[ARM_K]] list, fused by
    * RRF with INTEGER reciprocal weights `1000000 div (B + rank)` — rank
    * arithmetic only, so the fused score is bit-exact in any engine and
    * summation-order-free (the classic RRF formula's 1/(60+r) doubles
    * would be the only float in the pipeline; scaling to integer division
    * keeps the whole query in BIGINT). Docs found by only one arm fuse
    * with the missing arm contributing 0 (rank emitted as 0 = absent).
    *
    * Scale: both arms are per-query top-K bounded BEFORE the fusion join,
    * so fusion touches ≤ 2·K rows per query regardless of corpus size.
    * The lexical arm's tf stream is pruned by the term `isin` filter at
    * the scan; the dense arm broadcasts the |queries| vectors and streams
    * the corpus once; per-arm top-K is a bounded window per query id.
    * Nothing in the plan is corpus×corpus. */
  def hybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val allTerms = HYBRID.flatMap(_._2).distinct
    val qterms = HYBRID.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("q_id", "tok")

    // lexical arm: BM25 per query over its own term subset
    val (dl, stats, tf, df_) = bm25Stats(docs, allTerms)
    val lexScored = tf
      .join(broadcast(qterms), "tok")
      .join(broadcast(df_), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .filter($"doc_id" =!= $"q_id")
      .select($"q_id", $"doc_id", bm25Term)
      .groupBy($"q_id", $"doc_id")
      .agg(round(sum($"c"), 5).as("score"))
    val wLex = Window.partitionBy($"q_id").orderBy($"score".desc, $"doc_id".asc)
    val lexTop = lexScored
      .withColumn("lex_rnk", row_number().over(wLex).cast(LongType))
      .filter($"lex_rnk" <= ARM_K)
      .select($"q_id", $"doc_id", $"lex_rnk")

    // dense arm: exact integer-quantized cosine (the X3a arithmetic)
    def q6(x: Column): Column = floor(x.cast(DoubleType) * 1000000L)
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id", transform($"embedding", x => q6(x)).as("qe"))
      .select($"vec_id", $"qe",
        graft.functions.LongArrayDot.longArrayDot($"qe", $"qe").as("nrm"))
    val qvec = emb.filter($"vec_id".isin(HYBRID.map(_._1): _*))
      .toDF("q_id", "q_emb", "q_nrm")
    val denseScored = emb.join(broadcast(qvec), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("doc_id"),
        (graft.functions.LongArrayDot.longArrayDot($"q_emb", $"qe")
          .cast(DoubleType) /
          (sqrt($"q_nrm".cast(DoubleType)) * sqrt($"nrm".cast(DoubleType))))
          .as("cos_sim"))
    val wVec = Window.partitionBy($"q_id").orderBy($"cos_sim".desc, $"doc_id".asc)
    val vecTop = denseScored
      .withColumn("vec_rnk", row_number().over(wVec).cast(LongType))
      .filter($"vec_rnk" <= ARM_K)
      .select($"q_id", $"doc_id", $"vec_rnk")

    // RRF fusion: integer reciprocal weights, absent arm contributes 0
    val fused = lexTop.join(vecTop, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        expr(s"coalesce(1000000 div ($RRF_B + lex_rnk), 0)" +
          s" + coalesce(1000000 div ($RRF_B + vec_rnk), 0)"))
    val wFuse = Window.partitionBy($"q_id").orderBy($"rrf".desc, $"doc_id".asc)
    fused
      .withColumn("rnk", row_number().over(wFuse).cast(LongType))
      .filter($"rnk" <= FUSE_K)
      .select($"q_id", $"rnk", $"doc_id", $"rrf",
        coalesce($"lex_rnk", lit(0L)).as("lex_rnk"),
        coalesce($"vec_rnk", lit(0L)).as("vec_rnk"))
      .orderBy($"q_id", $"rnk")
  }

  val hybridRetrievalSql: String = {
    val qtermRows = HYBRID.flatMap { case (q, ts) =>
      ts.map(t => s"($q, '$t')")
    }.mkString(", ")
    val qids = HYBRID.map(_._1).mkString(", ")
    def q6Sql(x: String) = s"CAST(floor(CAST($x AS DOUBLE) * 1000000) AS BIGINT)"
    s"""WITH qt(q_id, tok) AS (VALUES $qtermRows),
       |${bm25StatsSql("tf", HYBRID.flatMap(_._2).distinct)},
       |lex_scored AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    $bm25ScoreSql AS score
       |  FROM tf
       |  JOIN qt ON qt.tok = tf.tok
       |  JOIN dfs ON dfs.tok = tf.tok
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats
       |  WHERE tf.doc_id <> qt.q_id
       |  GROUP BY 1, 2),
       |lex_top AS (
       |  SELECT q_id, doc_id, lex_rnk FROM (
       |    SELECT q_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS BIGINT)
       |      AS lex_rnk
       |    FROM lex_scored)
       |  WHERE lex_rnk <= $ARM_K),
       |nrm AS (
       |  SELECT vec_id,
       |    CAST(SUM(${q6Sql("embedding[i.g]")} * ${q6Sql("embedding[i.g]")})
       |      AS BIGINT) AS nrm
       |  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) AS g) i
       |  GROUP BY vec_id),
       |dots AS (
       |  SELECT q.vec_id AS q_id, v.vec_id AS doc_id,
       |    CAST(SUM(${q6Sql("q.embedding[i.g]")} * ${q6Sql("v.embedding[i.g]")})
       |      AS BIGINT) AS dot
       |  FROM embeddings q JOIN embeddings v ON q.vec_id <> v.vec_id,
       |    (SELECT unnest(generate_series(1, $DIM)) AS g) i
       |  WHERE q.vec_id IN ($qids)
       |  GROUP BY 1, 2),
       |vec_top AS (
       |  SELECT q_id, doc_id, vec_rnk FROM (
       |    SELECT q_id, dots.doc_id,
       |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY
       |        CAST(dot AS DOUBLE) / (sqrt(CAST(qn.nrm AS DOUBLE)) *
       |          sqrt(CAST(vn.nrm AS DOUBLE))) DESC,
       |        dots.doc_id ASC) AS BIGINT) AS vec_rnk
       |    FROM dots
       |    JOIN nrm qn ON dots.q_id = qn.vec_id
       |    JOIN nrm vn ON dots.doc_id = vn.vec_id)
       |  WHERE vec_rnk <= $ARM_K),
       |fused AS (
       |  SELECT COALESCE(l.q_id, v.q_id) AS q_id,
       |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |    COALESCE(1000000 // ($RRF_B + l.lex_rnk), 0)
       |      + COALESCE(1000000 // ($RRF_B + v.vec_rnk), 0) AS rrf,
       |    COALESCE(l.lex_rnk, 0) AS lex_rnk,
       |    COALESCE(v.vec_rnk, 0) AS vec_rnk
       |  FROM lex_top l FULL OUTER JOIN vec_top v
       |    ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
       |SELECT q_id, rnk, doc_id, rrf, lex_rnk, vec_rnk FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rnk
       |  FROM fused)
       |WHERE rnk <= $FUSE_K
       |ORDER BY q_id, rnk""".stripMargin
  }

  // --- X4t: retrieval quality evaluation (Recall@K / MRR / NDCG@K) -------

  /** The qrel batch: (query_id, term) — the batched-query relation the
    * BM25 Scaladoc promises. Constant-size; a production eval broadcasts
    * thousands of rows the same way. */
  /** Queries 1-2 include the corpus's one RARE term (`dup`, ~5% of docs)
    * so binary relevance is selective and the metrics discriminate;
    * query 3 is all-common-terms — the saturated control (every top-K
    * doc relevant, NDCG ≈ 1) that pins the metric ceiling. */
  private val EVAL_QUERIES: Seq[(Long, String)] = Seq(
    1L -> "dup", 1L -> "spark",
    2L -> "dup", 2L -> "window", 2L -> "merge",
    3L -> "stream", 3L -> "batch", 3L -> "hash")
  private val EVAL_K = 10

  /** Retrieval-quality evaluation — the IR metrics a RAG pipeline tracks
    * per index build: run the batched BM25 ranker over the qrel queries
    * and grade it against a deterministic relevance oracle derived from
    * the corpus itself (graded rel(q,d) = number of q's distinct terms d
    * contains; binary-relevant = contains ALL terms). Emits per query:
    * relevant-set size, hits@K, Recall@K, MRR@K, and NDCG@K with the
    * standard (2^rel − 1)/log₂(rank+1) gains.
    *
    * Determinism: BM25 scores round at 5 places and rank with a doc_id
    * tie-break (the X4i rule); each DCG gain is quantized to integer
    * micro-units with the gain FORMULA written token-for-token
    * identically in both engines, so every metric is exact integer math
    * (`*_bp` basis points, `mrr_u` micro-units).
    *
    * Scale: the term `isin` filter prunes the token stream before any
    * shuffle (O(matching docs·|terms|) exchanged); qrels/df/corpus stats
    * ride as broadcasts; per-query rank windows are WindowGroupLimit-
    * capped at K, and the eval parallelism is the qrel batch size — at
    * deployment the "3 queries" are thousands of rows, and nothing in
    * the plan depends on corpus size beyond the one pruned scan. */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val qrels = EVAL_QUERIES.toDF("query_id", "term")
    val nterms = qrels.groupBy($"query_id").agg(count(lit(1)).as("n_terms"))
    val terms = EVAL_QUERIES.map(_._2).distinct
    val (dl, stats, tf0, dfs) = bm25Stats(docs, terms)
    val qtf = tf0.join(broadcast(qrels), $"tok" === $"term")
      .select($"query_id", $"doc_id", $"tok", $"tf")
    // graded relevance: distinct query terms the doc contains (tf0 is
    // already one row per (doc, tok)); binary = all of them
    val relFull = qtf.groupBy($"query_id", $"doc_id")
      .agg(count(lit(1)).as("rel"))
      .join(broadcast(nterms), "query_id")
      .withColumn("is_rel", ($"rel" === $"n_terms").cast(LongType))
    val scored = qtf
      .join(broadcast(dfs), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select($"query_id", $"doc_id",
        (log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
          ($"tf" * 2.2) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl"))).as("c"))
      .groupBy($"query_id", $"doc_id")
      .agg(round(sum($"c"), 5).as("score"))
    val gainU = expr("CAST(floor(1000000.0 * (pow(2.0, rel) - 1.0) " +
      "/ (ln(CAST(rnk + 1 AS DOUBLE)) / ln(2.0))) AS BIGINT)")
    val wq = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"doc_id".asc)
    val retrieved = scored
      .withColumn("rnk", row_number().over(wq).cast(LongType))
      .filter($"rnk" <= EVAL_K)
      .join(relFull.select($"query_id", $"doc_id", $"rel", $"is_rel"),
        Seq("query_id", "doc_id"))
      .withColumn("gain_u", gainU)
      .groupBy($"query_id")
      .agg(sum($"gain_u").as("dcg_u"),
        sum($"is_rel").as("hits"),
        min(when($"is_rel" === 1L, $"rnk")).as("first_rel"))
    val wi = Window.partitionBy($"query_id")
      .orderBy($"rel".desc, $"doc_id".asc)
    val ideal = relFull
      .withColumn("rnk", row_number().over(wi).cast(LongType))
      .filter($"rnk" <= EVAL_K)
      .withColumn("gain_u", gainU)
      .groupBy($"query_id").agg(sum($"gain_u").as("idcg_u"))
    relFull.groupBy($"query_id").agg(sum($"is_rel").as("n_rel"))
      .join(retrieved, "query_id")
      .join(ideal, "query_id")
      .select($"query_id", $"n_rel", $"hits",
        expr("CASE WHEN n_rel = 0 THEN 0L ELSE (10000 * hits) div n_rel END")
          .as("recall_bp"),
        coalesce(expr("1000000 div first_rel"), lit(0L)).as("mrr_u"),
        $"dcg_u", $"idcg_u",
        expr("(10000 * dcg_u) div idcg_u").as("ndcg_bp"))
      .orderBy($"query_id")
  }

  val retrievalEvalSql: String = {
    val qvals = EVAL_QUERIES
      .map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }.mkString(", ")
    val terms = EVAL_QUERIES.map(_._2).distinct
    val gainU = "CAST(floor(1000000.0 * (pow(2.0, rel) - 1.0) " +
      "/ (ln(CAST(rnk + 1 AS DOUBLE)) / ln(2.0))) AS BIGINT)"
    s"""WITH qrels(query_id, term) AS (VALUES $qvals),
       |nterms AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_terms
       |  FROM qrels GROUP BY 1),
       |${bm25StatsSql("tf0", terms)},
       |qtf AS (
       |  SELECT q.query_id, t.doc_id, t.tok, t.tf
       |  FROM tf0 t JOIN qrels q ON t.tok = q.term),
       |relfull AS (
       |  SELECT r.query_id, r.doc_id, r.rel, n.n_terms,
       |    CASE WHEN r.rel = n.n_terms THEN 1 ELSE 0 END AS is_rel
       |  FROM (SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS rel
       |        FROM qtf GROUP BY 1, 2) r
       |  JOIN nterms n ON r.query_id = n.query_id),
       |scored AS (
       |  SELECT qtf.query_id, qtf.doc_id,
       |    $bm25ScoreSql AS score
       |  FROM qtf
       |  JOIN dfs USING (tok)
       |  JOIN dl ON dl.doc_id = qtf.doc_id
       |  CROSS JOIN stats
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT s.query_id, s.doc_id, r.rel, r.is_rel,
       |    CAST(s.rnk AS BIGINT) AS rnk
       |  FROM (SELECT query_id, doc_id, score, row_number() OVER (
       |          PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
       |          AS rnk FROM scored) s
       |  JOIN relfull r ON s.query_id = r.query_id AND s.doc_id = r.doc_id
       |  WHERE s.rnk <= $EVAL_K),
       |retrieved AS (
       |  SELECT query_id,
       |    CAST(SUM($gainU) AS BIGINT) AS dcg_u,
       |    CAST(SUM(is_rel) AS BIGINT) AS hits,
       |    MIN(CASE WHEN is_rel = 1 THEN rnk END) AS first_rel
       |  FROM ranked GROUP BY 1),
       |ideal AS (
       |  SELECT query_id, CAST(SUM($gainU) AS BIGINT) AS idcg_u FROM (
       |    SELECT query_id, rel, CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS BIGINT)
       |      AS rnk
       |    FROM relfull) WHERE rnk <= $EVAL_K GROUP BY 1),
       |truth AS (
       |  SELECT query_id, CAST(SUM(is_rel) AS BIGINT) AS n_rel
       |  FROM relfull GROUP BY 1)
       |SELECT t.query_id, t.n_rel, v.hits,
       |  CASE WHEN t.n_rel = 0 THEN 0
       |    ELSE (10000 * v.hits) // t.n_rel END AS recall_bp,
       |  CAST(COALESCE(1000000 // v.first_rel, 0) AS BIGINT) AS mrr_u,
       |  v.dcg_u, i.idcg_u,
       |  (10000 * v.dcg_u) // i.idcg_u AS ndcg_bp
       |FROM truth t
       |JOIN retrieved v ON t.query_id = v.query_id
       |JOIN ideal i ON t.query_id = i.query_id
       |ORDER BY t.query_id""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_retrieval_eval", retrievalEval, Some(retrievalEvalSql),
      "X4t IR eval of the BM25 ranker: Recall@K, MRR@K, NDCG@K vs a graded term-containment oracle, integer metrics"),
    QueryDef("q_text_bm25", textBm25, Some(textBm25Sql),
      "X4i BM25 ranked retrieval: filtered tf agg + broadcast corpus stats"),
    QueryDef("q_phrase_search", phraseSearch, Some(phraseSearchSql),
      "X4j overlapping phrase occurrence census via narrow array-HOF scan"),
    QueryDef("q_retrieval_hybrid", hybridRetrieval, Some(hybridRetrievalSql),
      "X4s hybrid retrieval: BM25 + dense-cosine arms fused by integer RRF"))
}
