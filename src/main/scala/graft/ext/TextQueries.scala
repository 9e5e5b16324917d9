package graft.ext

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2.9 X4):
  * token counting, quality scoring, language ID (stopword-profile
  * heuristic), term frequency, and rolling-hash document fingerprinting —
  * all over the `documents` table, all single-pass groupBy shapes that hold
  * at 100 TB (per-doc work is embarrassingly parallel; the only shuffles are
  * the final small aggregations).
  */
object TextQueries {

  private[ext] val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private[ext] def inList(v: String, xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString(s"$v IN (", ", ", ")")

  /** Per-doc quality predicate over a `text` column — token-count bounds,
    * punctuation ratio, stopword floor (the Gopher/C4 rule family).
    * Shared by [[textStats]] and the composed curation pipeline. */
  private[graft] def qualityCol: org.apache.spark.sql.Column = {
    val toks = Ops.words(col("text"))
    val tokenCnt = size(toks).cast(LongType)
    val punctCnt =
      (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
        .cast(LongType)
    val stopCnt = size(filter(toks, t =>
      stopwords.map(w => t === w).reduce(_ || _))).cast(LongType)
    tokenCnt >= 10 && tokenCnt <= 1000 &&
      punctCnt.cast(DoubleType) / tokenCnt < 0.2 &&
      stopCnt.cast(DoubleType) / tokenCnt >= 0.01
  }

  /** DuckDB mirror of [[qualityCol]]. */
  private[ext] val qualityPredSql: String =
    s"""(len(string_split(text, ' ')) >= 10 AND len(string_split(text, ' ')) <= 1000
       |    AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |      / len(string_split(text, ' ')) < 0.2
       |    AND CAST(len(list_filter(string_split(text, ' '), t -> ${inList("t", stopwords)})) AS DOUBLE)
       |      / len(string_split(text, ' ')) >= 0.01)""".stripMargin

  // --- X4a: token counting + quality scoring -----------------------------
  def textStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Ops.words($"text")
    val tokenCnt = size(toks).cast(LongType)
    val wordCnt = size(regexp_extract_all($"text", lit("[a-z]+"), lit(0))).cast(LongType)
    // BPE-style pretokenizer shape: word runs, digit runs, single punctuation
    val bpeCnt = size(regexp_extract_all($"text",
      lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast(LongType)
    val punctCnt = (length($"text") - length(regexp_replace($"text", "[.,!?;:]", "")))
      .cast(LongType)
    val stopCnt = size(filter(toks, t =>
      stopwords.map(w => t === w).reduce(_ || _))).cast(LongType)
    val quality = qualityCol
    Tables.documents(s, dir)
      .select($"lang", $"source", $"n_chars", tokenCnt.as("token_cnt"),
        wordCnt.as("word_cnt"), bpeCnt.as("bpe_cnt"),
        punctCnt.as("punct_cnt"), stopCnt.as("stop_cnt"),
        quality.cast(LongType).as("is_quality"))
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"token_cnt").as("sum_tokens"),
        sum($"word_cnt").as("sum_words"),
        sum($"bpe_cnt").as("sum_bpe"),
        sum($"punct_cnt").as("sum_punct"),
        sum($"stop_cnt").as("sum_stop"),
        sum($"n_chars").as("sum_chars"),
        sum($"is_quality").as("n_quality"),
        (sum($"token_cnt").cast(DoubleType) / count(lit(1))).as("avg_tokens"))
      .orderBy($"lang", $"source")
  }

  val textStatsSql: String =
    s"""WITH scored AS (
       |  SELECT lang, source, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt,
       |    CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS word_cnt,
       |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_cnt,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS punct_cnt,
       |    CAST(len(list_filter(string_split(text, ' '), t -> ${inList("t", stopwords)})) AS BIGINT) AS stop_cnt
       |  FROM documents)
       |SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(token_cnt) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(word_cnt) AS BIGINT) AS sum_words,
       |  CAST(SUM(bpe_cnt) AS BIGINT) AS sum_bpe,
       |  CAST(SUM(punct_cnt) AS BIGINT) AS sum_punct,
       |  CAST(SUM(stop_cnt) AS BIGINT) AS sum_stop,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(CAST(token_cnt >= 10 AND token_cnt <= 1000
       |    AND CAST(punct_cnt AS DOUBLE) / token_cnt < 0.2
       |    AND CAST(stop_cnt AS DOUBLE) / token_cnt >= 0.01 AS BIGINT)) AS BIGINT) AS n_quality,
       |  CAST(SUM(token_cnt) AS DOUBLE) / COUNT(*) AS avg_tokens
       |FROM scored GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // --- X4b: language ID via stopword profiles ----------------------------
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "los", "de"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "les", "des", "et"))

  /** Confusion matrix of labeled `lang` vs n-gram-heuristic prediction
    * (argmax of stopword-profile hits, fixed precedence on ties, 'und' when
    * no profile hits). */
  /** The (truth, predicted, n) confusion census shared by the X4 langid
    * query and its X4w metrics view. */
  private def langidConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Ops.words($"text")
    val scores = langProfiles.map { case (l, ws) =>
      l -> size(filter(toks, t => ws.map(w => t === w).reduce(_ || _))).cast(LongType)
    }
    val scoreCols = scores.map { case (l, c) => c.as(s"score_$l") }
    val scored = Tables.documents(s, dir).select(($"lang" +: $"doc_id" +: scoreCols): _*)
    val best = greatest(langProfiles.map { case (l, _) => col(s"score_$l") }: _*)
    val pred = when(best === 0, lit("und"))
      .otherwise(langProfiles.foldRight(lit("und")) { case ((l, _), acc) =>
        when(col(s"score_$l") === best, lit(l)).otherwise(acc)
      })
    // foldRight gives first-profile precedence on ties (en > es > de > fr)
    scored.select($"lang", pred.as("predicted"))
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
  }

  def textLangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    langidConfusion(s, dir).orderBy($"lang", $"predicted")
  }

  /** Oracle CTE chain ending in `conf(lang, predicted, n)` — shared by
    * the langid census and its metrics view. */
  private val langidCtesSql: String = {
    val scoreExprs = langProfiles.map { case (l, ws) =>
      s"CAST(len(list_filter(string_split(text, ' '), t -> ${inList("t", ws)})) AS BIGINT) AS score_$l"
    }.mkString(",\n    ")
    val bestExpr = langProfiles.map { case (l, _) => s"score_$l" }
      .mkString("greatest(", ", ", ")")
    val predExpr = langProfiles.map { case (l, _) =>
      s"WHEN score_$l = best THEN '$l'"
    }.mkString(" ")
    s"""scored AS (
       |  SELECT lang,
       |    $scoreExprs
       |  FROM documents),
       |best_of AS (SELECT lang, $bestExpr AS best, * FROM scored),
       |conf AS (
       |  SELECT lang,
       |    CASE WHEN best = 0 THEN 'und' $predExpr ELSE 'und' END AS predicted,
       |    COUNT(*) AS n
       |  FROM best_of GROUP BY 1, 2)""".stripMargin
  }

  val textLangIdSql: String =
    s"""WITH $langidCtesSql
       |SELECT lang, predicted, n FROM conf ORDER BY lang, predicted""".stripMargin

  // --- X4w: langid quality metrics ----------------------------------------

  /** Per-language PRECISION / RECALL / F1 of the n-gram langid classifier
    * against the corpus's ground-truth `lang` column — the metrics view a
    * filtering pipeline reads before trusting langid as a gate (the
    * confusion census [[textLangId]] shows WHERE the mass goes; this says
    * whether each language's gate is usable). All integer ppm: precision
    * = tp/predicted, recall = tp/support, F1 = 2pr div (p+r).
    *
    * Scale: derived entirely from the |langs|²-bounded confusion
    * dictionary — three aggregates and two equi-joins on it; the corpus
    * is scanned once by the shared census. */
  def langidEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val conf = langidConfusion(s, dir)
    val sup = conf.groupBy($"lang").agg(sum($"n").as("support"))
    val tp = conf.filter($"lang" === $"predicted")
      .select($"lang", $"n".as("tp"))
    val pn = conf.groupBy($"predicted".as("lang"))
      .agg(sum($"n").as("pred_n"))
    sup
      .join(tp, Seq("lang"), "left")
      .join(pn, Seq("lang"), "left")
      .select($"lang", $"support",
        coalesce($"tp", lit(0L)).as("tp"),
        coalesce($"pred_n", lit(0L)).as("pred_n"))
      .withColumn("precision_ppm", expr(
        "CASE WHEN pred_n > 0 THEN tp * 1000000 div pred_n ELSE 0 END"))
      .withColumn("recall_ppm", expr("tp * 1000000 div support"))
      .withColumn("f1_ppm", expr(
        "CASE WHEN precision_ppm + recall_ppm > 0 THEN" +
          " 2 * precision_ppm * recall_ppm div (precision_ppm + recall_ppm)" +
          " ELSE 0 END"))
      .orderBy($"lang")
  }

  val langidEvalSql: String =
    s"""WITH $langidCtesSql,
       |sup AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS support
       |  FROM conf GROUP BY 1),
       |tp AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tp
       |  FROM conf WHERE lang = predicted GROUP BY 1),
       |pn AS (SELECT predicted AS lang, CAST(SUM(n) AS BIGINT) AS pred_n
       |  FROM conf GROUP BY 1),
       |base AS (
       |  SELECT s.lang, s.support, COALESCE(t.tp, 0) AS tp,
       |    COALESCE(p.pred_n, 0) AS pred_n
       |  FROM sup s LEFT JOIN tp t ON s.lang = t.lang
       |  LEFT JOIN pn p ON s.lang = p.lang),
       |m AS (
       |  SELECT lang, support, tp, pred_n,
       |    CASE WHEN pred_n > 0 THEN tp * 1000000 // pred_n ELSE 0 END
       |      AS precision_ppm,
       |    tp * 1000000 // support AS recall_ppm
       |  FROM base)
       |SELECT lang, support, tp, pred_n, precision_ppm, recall_ppm,
       |  CAST(CASE WHEN precision_ppm + recall_ppm > 0
       |    THEN 2 * precision_ppm * recall_ppm // (precision_ppm + recall_ppm)
       |    ELSE 0 END AS BIGINT) AS f1_ppm
       |FROM m ORDER BY lang""".stripMargin

  // --- P2b: positional generator (posexplode / UNNEST WITH ORDINALITY) ---
  def tokenPositions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" < 20)
      .select($"doc_id", posexplode(Ops.words($"text")))
      .select($"doc_id", $"pos".cast(LongType).as("pos"), $"col".as("tok"))
      .orderBy($"doc_id", $"pos")
  }

  val tokenPositionsSql: String =
    """SELECT doc_id, i - 1 AS pos,
      |  string_split(text, ' ')[CAST(i AS INT)] AS tok
      |FROM (
      |  SELECT doc_id, text,
      |    unnest(generate_series(1, len(string_split(text, ' ')))) AS i
      |  FROM documents WHERE doc_id < 20)
      |ORDER BY doc_id, pos""".stripMargin

  // --- X4c: term frequency (top-25 tokens) -------------------------------
  def textTermFreq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(Ops.words($"text")).as("tok"))
      .filter(length($"tok") > 0)
      .groupBy($"tok").agg(count(lit(1)).as("tf"))
      .orderBy($"tf".desc, $"tok".asc)
      .limit(25)
  }

  val textTermFreqSql: String =
    """SELECT tok, COUNT(*) AS tf FROM (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |WHERE length(tok) > 0
      |GROUP BY tok ORDER BY tf DESC, tok ASC LIMIT 25""".stripMargin

  // --- X4d: rolling-hash document fingerprint ----------------------------
  /** Bottom-4 sketch of the md5 hashes of all 8-char shingles of the
    * space-stripped text — a winnowing-style content fingerprint robust to
    * word reordering at the edges. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" < 200)
      .select($"doc_id", replace($"text", lit(" "), lit("")).as("norm"))
      .select($"doc_id",
        when(length($"norm") >= 8,
          expr("transform(sequence(1, length(norm) - 7), i -> md5(substring(norm, i, 8)))"))
          .otherwise(array(md5($"norm"))).as("hashes"))
      .select($"doc_id",
        concat_ws("", slice(array_sort($"hashes"), 1, 4)).as("fingerprint"))
      .orderBy($"doc_id")
  }

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  array_to_string(list_sort(hashes)[1:4], '') AS fingerprint
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN length(norm) >= 8
      |      THEN list_transform(generate_series(1, length(norm) - 7),
      |        i -> md5(substring(norm, i, 8)))
      |      ELSE [md5(norm)] END AS hashes
      |  FROM (SELECT doc_id, replace(text, ' ', '') AS norm
      |        FROM documents WHERE doc_id < 200))
      |ORDER BY doc_id""".stripMargin

  // --- X4e: TF-IDF top terms per document --------------------------------
  /** Top-3 TF-IDF terms for sampled docs. Ranked on the ROUNDED score (with
    * term tie-break) so a last-ulp ln() difference between JVM and DuckDB
    * libm cannot reorder the cut. */
  def textTfidf(s: SparkSession, dir: String): DataFrame =
    textTfidfOf(Tables.documents(s, dir))

  /** [[textTfidf]] over an arbitrary (doc_id, text) relation — factored
    * for the ContractAndPropertySpec reference pin. */
  private[graft] def textTfidfOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val terms = docs
      .select($"doc_id", explode(Ops.words($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy($"term")
      .agg(countDistinct($"doc_id").as("dfreq"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = terms.filter($"doc_id" < 50)
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select($"doc_id", $"term",
        round($"tf" * log($"n_docs".cast(DoubleType) / $"dfreq"), 6).as("tfidf"))
    SimilarityQueries.topK(scored, "doc_id", 3, $"tfidf".desc, $"term".asc)(
      "doc_id", "rnk", "term", "tfidf")
  }

  val textTfidfSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tfs AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS dfreq FROM tfs GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    ROUND(tf * ln(CAST(n_docs AS DOUBLE) / dfreq), 6) AS tfidf
      |  FROM tfs JOIN dfreq USING (term) CROSS JOIN n
      |  WHERE doc_id < 50)
      |SELECT doc_id, rnk, term, tfidf FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
      |  FROM scored) WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // --- X4f: benchmark decontamination (cross-set n-gram containment) -----
  /** The decontamination op of an LLM data pipeline: flag training docs
    * whose n-grams appear in a held-out benchmark suite. Benchmark = docs
    * with doc_id % 101 == 0 (~1%); candidates are everything else; a hit is
    * a shared (lang, gram). In a real deployment the eval suites are tiny
    * next to a 100 TB corpus and AQE broadcasts them at runtime; here the
    * "benchmark" is 1% of the corpus grams (not a fixed-size suite), so no
    * forced broadcast — AQE decides from the observed size. 3-grams
    * (not the 8-13 grams production uses) because the synthetic corpus has
    * no verbatim long spans — the operator shape is identical. */
  def textContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, dir)
      .transform(DedupQueries.withToks)
      .select($"doc_id", $"lang",
        explode(array_distinct(DedupQueries.shingleArr)).as("gram"))
    val bench = grams.filter($"doc_id" % 101 === 0)
      .select($"lang", $"gram").distinct()
    val cand = grams.filter($"doc_id" % 101 =!= 0)
    val sizes = cand.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = cand.join(bench, Seq("lang", "gram"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
    hits.join(sizes, Seq("doc_id"))
      .select($"doc_id", $"n_hits", $"n_grams",
        round($"n_hits".cast(DoubleType) / $"n_grams", 6).as("contam_ratio"))
      .orderBy($"n_hits".desc, $"doc_id".asc)
  }

  val textContaminationSql: String =
    s"""WITH g AS (
       |  SELECT DISTINCT doc_id, lang, unnest(${DedupQueries.shinglesSql}) AS gram
       |  FROM documents),
       |bench AS (SELECT DISTINCT lang, gram FROM g WHERE doc_id % 101 = 0),
       |cand AS (SELECT * FROM g WHERE doc_id % 101 <> 0),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM cand GROUP BY 1),
       |hits AS (
       |  SELECT cand.doc_id, COUNT(*) AS n_hits
       |  FROM cand JOIN bench USING (lang, gram) GROUP BY 1)
       |SELECT doc_id, n_hits, n_grams,
       |  round(CAST(n_hits AS DOUBLE) / n_grams, 6) AS contam_ratio
       |FROM hits JOIN sizes USING (doc_id)
       |ORDER BY n_hits DESC, doc_id ASC""".stripMargin

  // --- X4g: repetition detection (intra-doc duplicate-gram ratio) --------
  /** Gopher/RefinedWeb-style repetition quality rule: a doc whose 3-gram
    * multiset is much larger than its 3-gram set is template/spam-like.
    * Entirely narrow per-doc array math (no explode, no shuffle until the
    * tiny (lang, source) rollup); the repetitive flag is pure integer
    * arithmetic so both engines agree exactly. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .transform(DedupQueries.withToks)
      .withColumn("grams", DedupQueries.shingleArr)
      .select($"lang", $"source",
        size($"grams").cast(LongType).as("n"),
        size(array_distinct($"grams")).cast(LongType).as("d"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n" - $"d").as("dup_grams"),
        sum($"n").as("total_grams"),
        sum(when(($"n" - $"d") * 5 > $"n", 1L).otherwise(0L)).as("n_repetitive"))
      .orderBy($"lang", $"source")
  }

  val textRepetitionSql: String =
    s"""WITH per AS (
       |  SELECT lang, source,
       |    CAST(len(${DedupQueries.shinglesSql}) AS BIGINT) AS n,
       |    CAST(len(list_distinct(${DedupQueries.shinglesSql})) AS BIGINT) AS d
       |  FROM documents)
       |SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(n - d) AS BIGINT) AS dup_grams,
       |  CAST(SUM(n) AS BIGINT) AS total_grams,
       |  CAST(SUM(CASE WHEN (n - d) * 5 > n THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
       |FROM per GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  // --- X4h: approximate heavy hitters via Count-Min sketch ---------------
  private val CMS_D = 4
  private val CMS_W = 1024

  /** Corpus-wide token heavy hitters, estimated by a Count-Min sketch
    * ([[graft.functions.CountMin]]) built in ONE map-side-combined global
    * aggregation (constant d·w state per partition — the 100-TB shape:
    * the token relation is never shuffled, only 4 KB sketches merge).
    * Oracle contract mirrors the HLL/approx-percentile pattern: emit the
    * EXACT top-10 counts plus `approx_ok` = 1 iff the sketch estimate
    * respects (a) the deterministic CMS guarantee est ≥ true, and (b) an
    * EMPIRICAL over-estimate cap of 3·d·N/w. (b) is not a CMS theorem —
    * the per-row e·N/w bound is probabilistic and the min over d rows has
    * no deterministic form — it is a wide margin (like the 3×rsd HLL
    * contract) pinned against this deterministic md5-hash sketch, where
    * any change in collision behavior is reproducible, not random. */
  def textHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(Ops.words($"text")).as("tok"))
    val exactTop = toks.groupBy($"tok").agg(count(lit(1)).as("exact_n"))
      .orderBy($"exact_n".desc, $"tok".asc).limit(10)
    val cms = udaf(new graft.functions.CountMin(CMS_D, CMS_W),
      org.apache.spark.sql.Encoders.STRING)
    val sketch = toks.agg(cms($"tok").as("sk"), count(lit(1)).as("n_total"))
    val estU = udf((sk: Seq[Long], tok: String) =>
      graft.functions.CountMin.estimate(sk, tok, CMS_D, CMS_W))
    exactTop.crossJoin(broadcast(sketch))
      .withColumn("est", estU($"sk", $"tok"))
      .select($"tok", $"exact_n",
        ($"est" >= $"exact_n" &&
          ($"est" - $"exact_n").cast("double") <=
            lit(3.0 * CMS_D) * $"n_total" / CMS_W)
          .cast(LongType).as("approx_ok"))
      .orderBy($"exact_n".desc, $"tok".asc)
  }

  val textHeavyHittersSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |top AS (
      |  SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok
      |  ORDER BY exact_n DESC, tok ASC LIMIT 10)
      |SELECT tok, exact_n, CAST(1 AS BIGINT) AS approx_ok FROM top
      |ORDER BY exact_n DESC, tok ASC""".stripMargin

  // --- X4u: eval-split memorization risk ---------------------------------

  /** How much of the EVAL splits has the model effectively already seen?
    * For every val/test document (the q_sample_split md5 rule), the
    * fraction of its distinct word-3-grams that occur anywhere in the
    * TRAIN split — the n-gram novelty measure behind train/eval
    * memorization audits. Unlike [[textContamination]] (does a benchmark
    * string appear verbatim?) and q_split_leakage (is a near-DUP pair
    * split-crossing?), this scores partial, compositional overlap: an
    * eval doc stitched from training phrases scores high with no single
    * contaminating document. Census per (lang, split): docs, mean/max
    * seen-fraction (bp), and docs ≥ half-seen.
    *
    * Scale: the [[DedupQueries.sourceNovelty]] posting shape — distinct
    * per-doc shingles, ONE hash aggregate on the shingle key for the
    * in-train flag, one equi-join back for the eval side; no pair
    * expansion, vocabulary-bounded state. */
  def memorizationRisk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cell = substring(md5($"doc_id".cast("string")), 1, 1)
    val splitC = when(cell.isin("0", "1"), "val")
      .when(cell.isin("2", "3"), "test")
      .otherwise("train")
    val pairs = Tables.documents(s, dir)
      .transform(DedupQueries.withToks)
      .select($"doc_id", $"lang", splitC.as("split"),
        explode(array_distinct(DedupQueries.shingleArr)).as("sh"))
    val flag = pairs.groupBy($"sh")
      .agg(max(when($"split" === "train", 1L).otherwise(0L)).as("in_train"))
    pairs.filter($"split" =!= "train")
      .join(flag, Seq("sh"))
      .groupBy($"doc_id", $"lang", $"split")
      .agg(count(lit(1)).as("n_sh"), sum($"in_train").as("n_seen"))
      .withColumn("seen_bp", expr("n_seen * 10000 div n_sh"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(seen_bp) div count(1)").as("mean_seen_bp"),
        max($"seen_bp").as("max_seen_bp"),
        sum(when($"seen_bp" >= 5000, 1L).otherwise(0L)).as("n_half_seen"))
      .orderBy($"lang", $"split")
  }

  val memorizationRiskSql: String =
    s"""WITH mpairs AS (
       |  SELECT DISTINCT doc_id, lang,
       |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
       |           IN ('0','1') THEN 'val'
       |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
       |           IN ('2','3') THEN 'test'
       |         ELSE 'train' END AS split,
       |    unnest(${DedupQueries.shinglesSql}) AS sh
       |  FROM documents),
       |mflag AS (
       |  SELECT sh, MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
       |    AS in_train
       |  FROM mpairs GROUP BY sh),
       |mdoc AS (
       |  SELECT p.doc_id, p.lang, p.split,
       |    COUNT(*) AS n_sh, CAST(SUM(f.in_train) AS BIGINT) AS n_seen
       |  FROM mpairs p JOIN mflag f ON p.sh = f.sh
       |  WHERE p.split <> 'train'
       |  GROUP BY 1, 2, 3),
       |mbp AS (
       |  SELECT lang, split, n_seen * 10000 // n_sh AS seen_bp FROM mdoc)
       |SELECT lang, split, COUNT(*) AS n_docs,
       |  CAST(SUM(seen_bp) // COUNT(*) AS BIGINT) AS mean_seen_bp,
       |  CAST(MAX(seen_bp) AS BIGINT) AS max_seen_bp,
       |  CAST(SUM(CASE WHEN seen_bp >= 5000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_half_seen
       |FROM mbp GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_memorization_risk", memorizationRisk,
      Some(memorizationRiskSql),
      "X4u eval-split memorization risk: per val/test doc, fraction of distinct 3-grams present anywhere in train; census per (lang, split)"),
    QueryDef("q_text_contamination", textContamination, Some(textContaminationSql),
      "X4 benchmark decontamination: cross-set n-gram containment"),
    QueryDef("q_langid_eval", langidEval, Some(langidEvalSql),
      "X4w langid quality metrics: per-language precision/recall/F1 (ppm) vs the ground-truth lang column"),
    QueryDef("q_text_heavyhitters", textHeavyHitters, Some(textHeavyHittersSql),
      "X4h Count-Min sketch heavy hitters with bounded-error oracle check"),
    QueryDef("q_text_repetition", textRepetition, Some(textRepetitionSql),
      "X4 repetition quality rule: intra-doc duplicate-gram ratio"),
    QueryDef("q_text_tfidf", textTfidf, Some(textTfidfSql),
      "X4 TF-IDF top terms per document"),
    QueryDef("q_text_stats", textStats, Some(textStatsSql),
      "X4 token counting + quality scoring"),
    QueryDef("q_text_langid", textLangId, Some(textLangIdSql),
      "X4 stopword-profile language ID confusion matrix"),
    QueryDef("q_text_termfreq", textTermFreq, Some(textTermFreqSql),
      "X4 term frequency top-k"),
    QueryDef("q_token_positions", tokenPositions, Some(tokenPositionsSql),
      "P2 positional generator (posexplode vs UNNEST ordinality)"),
    QueryDef("q_text_fingerprint", textFingerprint, Some(textFingerprintSql),
      "X4 rolling-hash bottom-k document fingerprint"),
    QueryDef("q_text_lmscore", textLmScore, Some(textLmScoreSql),
      "X4l char-bigram corpus LM fluency score, integer millionths"),
    QueryDef("q_text_entropy", textEntropy, Some(textEntropySql),
      "X4k character-entropy quality gate per language"),
    QueryDef("q_bpe_pairs", bpePairs, Some(bpePairsSql),
      "X4m BPE merge-pair statistics over the word dictionary (tokenizer training pass)"),
    QueryDef("q_bpe_merge", bpeMerge, Some(bpeMergeSql),
      "X4n BPE merge application: top pair merged into symbols, pairs recounted"),
    QueryDef("q_bpe_train", bpeTrain, Some(bpeTrainSql),
      "X4o multi-round BPE training: ordered merge table over N checkpointed rounds"),
    QueryDef("q_bpe_encode", bpeEncode, Some(bpeEncodeSql),
      "X4p tokenizer inference: apply the trained merge table, emit the token census"),
    QueryDef("q_tokens_per_doc", tokensPerDoc, Some(tokensPerDocSql),
      "X4q per-document exact token counts under the trained BPE vocab"),
    QueryDef("q_bpe_fertility", bpeFertility, Some(bpeFertilitySql),
      "X4u per-language tokenizer fertility (tokens/word) + compression (chars/token) under the trained vocab"),
    QueryDef("q_bpe_vocab", bpeVocab, Some(bpeVocabSql),
      "X4r-a the trained vocab table: base chars 0..B-1 + merge-rank token ids"),
    QueryDef("q_token_ids", tokenIds, Some(tokenIdsSql),
      "X4r-b the tokenized corpus: per-doc ordered token-id sequences under the trained vocab"),
    QueryDef("q_tokenizer_drift", tokenizerDrift, Some(tokenizerDriftSql),
      "X4v tokenizer-version drift: per-round merge agreement + prefix Jaccard between cohort-trained vocabs"))

  // --- X4m: BPE merge-pair statistics --------------------------------------

  /** The statistics pass of byte-pair-encoding tokenizer training: count
    * every adjacent symbol pair across the corpus and surface the top
    * merge candidates. Uses the classic BPE factorization — ONE corpus
    * pass builds the word-frequency DICTIONARY (a hash aggregate over
    * word types), then pair expansion runs over the dictionary only,
    * weighted by word frequency: pair_count = Σ_word freq(word) ·
    * occurrences(pair, word). Every subsequent merge round of a real BPE
    * trainer re-walks this dictionary (types, not tokens), which is why
    * training stays tractable at 100 TB: the corpus is touched once, the
    * per-round cost is |dictionary| — this query IS that round shape.
    *
    * Single-character words contribute no pairs and are filtered before
    * expansion (also required for correctness: Spark's `sequence(1, 0)`
    * generates a DESCENDING sequence rather than an empty one). All
    * counts are exact integers. */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, dir)
      .select(explode(Ops.words($"text")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    words
      .filter(length($"w") >= 2)
      .select($"freq", explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy($"pair")
      .agg(sum($"freq").as("n"))
      .orderBy($"n".desc, $"pair".asc)
      .limit(20)
  }

  val bpePairsSql: String =
    """WITH words AS (
      |  SELECT w, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) > 0 GROUP BY w),
      |pairs AS (
      |  SELECT substring(w, CAST(i AS INT), 2) AS pair, freq
      |  FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
      |        FROM words WHERE length(w) >= 2))
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
      |FROM pairs GROUP BY pair
      |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin

  // --- X4n: BPE merge application ------------------------------------------

  /** One full BPE merge round: the winning pair of [[bpePairs]] is merged
    * into a single symbol in every dictionary word (left-to-right,
    * non-overlapping — the standard BPE application order), and adjacent
    * SYMBOL pairs are recounted over the updated dictionary. The merge is
    * applied with pure string algebra both engines share: a word's symbol
    * sequence is its characters joined with `|`, the merge is one literal
    * `replace('x|y' → 'xy')` (literal replace is LTR non-overlapping in
    * both engines, and a merged 2-char symbol can never re-match the
    * 1-char pattern — exactly the overlap rule BPE requires), and round-2
    * pairs label as `sym+sym` so multi-char symbols stay unambiguous.
    *
    * The string algebra reserves `|` (symbol delimiter) and `+` (pair
    * label separator): a corpus word containing either would corrupt the
    * merge/labels, so such words are excluded from the dictionary up
    * front — identically on both engines, keeping the oracle exact. The
    * general-alphabet form is [[bpeTrain]], whose non-printable sentinel
    * and (ls, rs) columns avoid reserved printable characters entirely.
    *
    * Together with [[bpePairs]] this is the full training iteration shape:
    * count → argmax → apply → recount, every step dictionary-bounded (word
    * TYPES, not corpus tokens), which is what lets real BPE training loop
    * thousands of merges over a 100-TB corpus after ONE corpus pass. */
  def bpeMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, dir)
      .select(explode(Ops.words($"text")).as("w"))
      .filter(length($"w") > 0 && !$"w".contains("|") && !$"w".contains("+"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    val top = words
      .filter(length($"w") >= 2)
      .select($"freq", explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy($"pair").agg(sum($"freq").as("n"))
      .orderBy($"n".desc, $"pair".asc)
      .limit(1)
      .select($"pair")
    words
      .crossJoin(broadcast(top))
      .withColumn("syms", split(
        replace(concat_ws("|", split($"w", "")),
          concat(substring($"pair", 1, 1), lit("|"), substring($"pair", 2, 1)),
          $"pair"),
        "\\|"))
      .filter(size($"syms") >= 2)
      .select($"freq", explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> concat(element_at(syms, i), '+', element_at(syms, i + 1)))"))
        .as("pair"))
      .groupBy($"pair").agg(sum($"freq").as("n"))
      .orderBy($"n".desc, $"pair".asc)
      .limit(20)
  }

  val bpeMergeSql: String =
    """WITH words AS (
      |  SELECT w, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) > 0 AND NOT contains(w, '|') AND NOT contains(w, '+')
      |  GROUP BY w),
      |top1 AS (
      |  SELECT pair FROM (
      |    SELECT substring(w, CAST(i AS INT), 2) AS pair,
      |      CAST(SUM(freq) AS BIGINT) AS n
      |    FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
      |          FROM words WHERE length(w) >= 2)
      |    GROUP BY 1)
      |  ORDER BY n DESC, pair ASC LIMIT 1),
      |merged AS (
      |  SELECT freq, string_split(
      |    replace(array_to_string(string_split(w, ''), '|'),
      |      substring(pair, 1, 1) || '|' || substring(pair, 2, 1), pair),
      |    '|') AS syms
      |  FROM words, top1),
      |pairs2 AS (
      |  SELECT syms[CAST(i AS INT)] || '+' || syms[CAST(i + 1 AS INT)] AS pair,
      |    freq
      |  FROM (SELECT freq, syms,
      |          unnest(generate_series(1, len(syms) - 1)) AS i
      |        FROM merged WHERE len(syms) >= 2))
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
      |FROM pairs2 GROUP BY pair
      |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin

  // --- X4o: multi-round BPE training ---------------------------------------

  /** Number of merge rounds [[bpeTrain]] runs; the oracle SQL is unrolled to
    * the same depth, so both derive from this one constant. */
  val BpeTrainRounds = 4

  /** Non-printable symbol delimiter for [[bpeTrain]]'s dictionary strings.
    * Corpus words containing it are excluded (identically in the oracle);
    * unlike [[bpeMerge]]'s printable `|`/`+` it can't collide with real
    * text, and merge output uses (ls, rs) columns so no label separator is
    * needed at all. */
  private val BpeSent = "\u0001"

  /** Canonical left-to-right greedy application of one merge (ls, rs) to a
    * symbol sequence held as a sentinel-joined string: fold over the
    * symbols, merging when the accumulated string's LAST symbol is `ls`
    * and the next symbol is `rs`. Because symbols never contain the
    * sentinel, `endswith(acc, sent || ls)` is exactly "last symbol == ls",
    * and a just-merged symbol (`ls || rs`) can never re-match as `ls` —
    * the scan continues after the merged pair, which is the canonical BPE
    * overlap rule (e.g. `aaaaa` + (a,a) → `aa aa a`). DuckDB's
    * `list_reduce` shares the first-element-as-init convention with the
    * `slice`-based init here, so both engines run the identical fold. */
  private[graft] def bpeFoldExprOn(sE: String, acc2: String = "acc",
      x2: String = "x"): String =
    s"""aggregate(slice($sE, 2, size($sE) - 1), element_at($sE, 1),
       |  ($acc2, $x2) -> CASE
       |    WHEN $x2 = rs AND $acc2 = ls THEN concat(ls, rs)
       |    WHEN $x2 = rs AND endswith($acc2, concat(char(1), ls))
       |      THEN concat(substring($acc2, 1, length($acc2) - length(ls)), ls, rs)
       |    ELSE concat($acc2, char(1), $x2) END)""".stripMargin

  private val bpeFoldExpr: String = bpeFoldExprOn("s")

  /** Full multi-round BPE tokenizer training: [[BpeTrainRounds]] bounded,
    * checkpointed count→argmax→apply rounds over the word-TYPE dictionary,
    * emitting the ordered merge table — the vocab artifact a tokenizer
    * training job actually ships. Composes the [[bpePairs]] statistics
    * pass and the [[bpeMerge]] application round into the real training
    * loop: the corpus is touched ONCE (the word-frequency hash aggregate);
    * every round after that is dictionary-bounded (pair explode + argmax +
    * a per-word fold), which is precisely why BPE training stays tractable
    * at 100 TB — thousands of merges cost |dictionary| each, not |corpus|.
    * Each round's dictionary and winning pair go through
    * [[graft.GraftSession.ckpt]] (the CC/hierarchy iteration discipline),
    * so lineage stays flat and, in reliable-checkpoint mode, an executor
    * loss costs one round, not the loop.
    *
    * Ties in the argmax break on (n DESC, ls ASC, rs ASC) — a total order,
    * so the merge table is deterministic on both engines. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMergeTable(s, dir).orderBy($"round")
  }

  /** The word-TYPE dictionary (d = sentinel-joined chars, freq) of any
    * document relation — the shared input of training and encode. */
  private[graft] def bpeDictOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(Ops.words($"text")).as("w"))
      .filter(length($"w") > 0 && !$"w".contains(BpeSent))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select(concat_ws(BpeSent, split($"w", "")).as("d"), $"freq")
  }

  private def bpeDict(s: SparkSession, dir: String): DataFrame =
    bpeDictOf(Tables.documents(s, dir))

  /** The trained merge table (round, ls, rs, n), memoized per (session,
    * documents content): the vocab ARTIFACT — trained once per session,
    * shared by `q_bpe_train` (which declares it) and `q_bpe_encode`
    * (which applies it), exactly how a real pipeline trains a tokenizer
    * once and tokenizes with it everywhere. */
  private[graft] def bpeMergeTable(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "bpe_merges", dir, "documents") {
      graft.GraftSession.ckpt(bpeTrainLoop(s, dir))
    }

  private def bpeTrainLoop(s: SparkSession, dir: String): DataFrame =
    bpeTrainLoopDict(bpeDict(s, dir))

  private[graft] def bpeTrainLoopDict(dict0: DataFrame): DataFrame = {
    val s = dict0.sparkSession
    import s.implicits._
    var dict = dict0
    var out: DataFrame = null
    for (r <- 1 to BpeTrainRounds) {
      val syms = dict.withColumn("s", split($"d", BpeSent))
      val top = graft.GraftSession.ckpt(
        syms.filter(size($"s") >= 2)
          .select($"freq", explode(expr(
            "transform(sequence(1, size(s) - 1), " +
              "i -> named_struct('ls', element_at(s, i), 'rs', element_at(s, i + 1)))"))
            .as("p"))
          .groupBy($"p.ls".as("ls"), $"p.rs".as("rs"))
          .agg(sum($"freq").as("n"))
          .orderBy($"n".desc, $"ls".asc, $"rs".asc)
          .limit(1))
      val row = top.select(lit(r.toLong).as("round"), $"ls", $"rs", $"n")
      out = if (out == null) row else out.unionByName(row)
      if (r < BpeTrainRounds)
        dict = graft.GraftSession.ckpt(
          syms.crossJoin(broadcast(top.select($"ls", $"rs")))
            .select(expr(bpeFoldExpr).as("d"), $"freq"))
    }
    out
  }

  // --- X4v: tokenizer-version drift audit -------------------------------

  /** A cohort merge table: the SAME BPE recipe trained on the
    * doc_id-parity half of the corpus — the deterministic stand-in for
    * two corpus snapshots. Memoized per (session, documents, parity)
    * like [[bpeMergeTable]]. */
  private def cohortMergeTable(s: SparkSession, dir: String,
      par: Int): DataFrame =
    graft.GraftSession.memoOn(s, s"bpe_merges_p$par", dir, "documents") {
      graft.GraftSession.ckpt(bpeTrainLoopDict(bpeDictOf(
        Tables.documents(s, dir).filter(col("doc_id") % 2 === par))))
    }

  /** X4v — tokenizer-version DRIFT: train the same BPE recipe on two
    * corpus cohorts and audit how the learned merge tables diverge —
    * the check a pipeline runs before swapping tokenizer versions,
    * because a token minted by one vocab and absent from the other
    * silently changes every downstream token count, pack budget, and
    * fertility number. Per round: both cohorts' chosen merges with
    * support counts, whether the round picked the SAME merge, the
    * running count of merges shared by the two training PREFIXES (set
    * intersection, attributed to the later of the two rounds), and the
    * prefix Jaccard in bp. The first round where `same_merge` drops is
    * the segmentation-compatibility horizon.
    *
    * Scale shape: both trainings are the dictionary-bounded
    * [[bpeTrainLoopDict]] loop (one corpus pass each for the word-type
    * dictionary, then per-round work bounded by the dictionary), each
    * memoized as a session artifact; the audit itself joins two
    * BpeTrainRounds-row tables — constant-size work. The prefix-overlap
    * census is an equi-join on the merge pair (a merge pair can appear
    * at most once per table, so the join is 1:1), never a quadratic
    * prefix comparison; the running sum windows over the
    * BpeTrainRounds-row result (dictionary-bounded, allowlisted). */
  def tokenizerDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = cohortMergeTable(s, dir, 0)
    val b = cohortMergeTable(s, dir, 1)
    val ab = a.select($"round", $"ls".as("ls_a"), $"rs".as("rs_a"),
        $"n".as("n_a"))
      .join(b.select($"round", $"ls".as("ls_b"), $"rs".as("rs_b"),
        $"n".as("n_b")), Seq("round"))
    val shared = a.select($"ls", $"rs", $"round".as("ra"))
      .join(b.select($"ls", $"rs", $"round".as("rb")), Seq("ls", "rs"))
      .groupBy(greatest($"ra", $"rb").as("round"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"round")
    ab.join(shared, Seq("round"), "left")
      .withColumn("cum_shared", sum(coalesce($"c", lit(0L))).over(w))
      .select($"round", $"ls_a", $"rs_a", $"n_a", $"ls_b", $"rs_b", $"n_b",
        when($"ls_a" === $"ls_b" && $"rs_a" === $"rs_b", 1L).otherwise(0L)
          .as("same_merge"),
        $"cum_shared",
        expr("(cum_shared * 10000) div (2 * round - cum_shared)")
          .as("prefix_jaccard_bp"))
      .orderBy($"round")
  }

  val tokenizerDriftSql: String = {
    def merges(sfx: String): String = (1 to BpeTrainRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, ls, rs, n FROM top$sfx$r")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeRoundsChainSql(finalApply = false, sfx = "ca",
          whereDocs = "doc_id % 2 = 0")},
       |${bpeRoundsChainSql(finalApply = false, sfx = "cb",
          whereDocs = "doc_id % 2 = 1")},
       |ma AS (${merges("ca")}),
       |mb AS (${merges("cb")}),
       |shared AS (
       |  SELECT GREATEST(a.round, b.round) AS round, COUNT(*) AS c
       |  FROM ma a JOIN mb b ON a.ls = b.ls AND a.rs = b.rs
       |  GROUP BY 1),
       |joined AS (
       |  SELECT a.round, a.ls AS ls_a, a.rs AS rs_a, a.n AS n_a,
       |    b.ls AS ls_b, b.rs AS rs_b, b.n AS n_b, COALESCE(s.c, 0) AS c
       |  FROM ma a JOIN mb b ON a.round = b.round
       |  LEFT JOIN shared s ON s.round = a.round),
       |cum AS (
       |  SELECT round, ls_a, rs_a, n_a, ls_b, rs_b, n_b,
       |    CAST(CASE WHEN ls_a = ls_b AND rs_a = rs_b
       |      THEN 1 ELSE 0 END AS BIGINT) AS same_merge,
       |    CAST(SUM(c) OVER (ORDER BY round) AS BIGINT) AS cum_shared
       |  FROM joined)
       |SELECT round, ls_a, rs_a, n_a, ls_b, rs_b, n_b, same_merge,
       |  cum_shared,
       |  (cum_shared * 10000) // (2 * round - cum_shared)
       |    AS prefix_jaccard_bp
       |FROM cum ORDER BY round""".stripMargin
  }

  /** X4p — the INFERENCE half of the tokenizer: apply the trained merge
    * table to the corpus in merge-rank order (each merge greedily
    * left-to-right via the same [[bpeFoldExpr]] the trainer uses — train
    * and encode share one application semantics by construction) and emit
    * the token census: every surviving token with the number of word
    * types it appears in and its total corpus occurrences. After
    * [[BpeTrainRounds]] merges the vocabulary is the character set plus
    * one fused symbol per merge row.
    *
    * Scale: encoding is dictionary-bounded like training — the corpus
    * pass is the one word-frequency aggregate, then each merge is a
    * per-type fold against a broadcast 1-row merge; a real deployment
    * encodes with the memoized artifact ([[bpeMergeTable]]) instead of
    * retraining, which is what the session memo makes literal. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dict = applyMerges(bpeDict(s, dir), bpeMergeTable(s, dir), Seq("freq"),
      ckptRounds = true)
    dict.select($"d", $"freq", explode(split($"d", BpeSent)).as("token"))
      .groupBy($"token")
      .agg(countDistinct($"d").as("n_types"), sum($"freq").as("n_occ"))
      .orderBy($"token")
  }

  /** Apply the full trained merge table to a relation carrying a
    * sentinel-joined symbol column `d`, in merge-rank order. Each round
    * is a broadcast of ONE merge row crossed onto the relation + a
    * narrow per-row fold; `ckptRounds` opts the small type dictionary
    * into per-round checkpointing. ([[tokensPerDocOf]] runs the same
    * folds per-word INSIDE a row via `transform` — same semantics, array
    * form.) */
  private[graft] def applyMerges(df: DataFrame, merges: DataFrame,
      carry: Seq[String], ckptRounds: Boolean = false): DataFrame = {
    import df.sparkSession.implicits._
    var out = df
    for (r <- 1 to BpeTrainRounds) {
      val m = merges.filter($"round" === r.toLong).select($"ls", $"rs")
      val folded = out.withColumn("s", split($"d", BpeSent))
        .crossJoin(broadcast(m))
        .select(expr(bpeFoldExpr).as("d") +: carry.map(col): _*)
      out = if (ckptRounds) graft.GraftSession.ckpt(folded) else folded
    }
    out
  }

  /** X4q — the tokenizer applied at corpus scale: per-document token
    * counts under the trained merge table, the number every packing /
    * chunking / context-budget planner actually consumes (`q_pack_chunks`
    * approximates tokens by characters; this is the exact count the
    * trained vocab produces). Deliberately computed per ROW (words array
    * → per-word merge folds inside `transform` → an in-row sum): the
    * whole query is a narrow map pass over the corpus — no explode, no
    * shuffle, no per-doc aggregation state — which is both the fastest
    * batch plan at 100 TB and exactly what makes the streaming twin
    * ([[graft.streaming.StreamJobs.tokenizeStream]]) legal on an
    * unbounded feed with zero keyed state. */
  def tokensPerDoc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tokensPerDocOf(Tables.documents(s, dir), bpeMergeTable(s, dir))
      .orderBy($"doc_id")
  }

  /** Shared core of [[tokensPerDoc]] and the streaming twin: works on any
    * (doc_id, text) relation, batch or streaming. Docs whose every word
    * is filtered (empty after split) drop out, matching the exploded
    * oracle form.
    *
    * The WHOLE ordered merge table rides ONE single-row broadcast
    * ([[mergesRow]]), and each document runs ONE fused fold over it as a
    * plain string rewrite: the doc is encoded once as a MARKED string —
    * every symbol wrapped ` sym `, words joined by a space
    * (symbols are word characters, so neither marker nor space can occur
    * inside one) — and each merge (ls, rs) is ONE native `replace` of
    * `wrap(ls)+wrap(rs)` with `wrap(ls||rs)`. Left-to-right
    * non-overlapping `replace` (search resumes after the replacement) IS
    * the canonical greedy BPE merge rule — earliest match wins, a
    * just-merged symbol can't re-match this round, `aaaaa` + (a,a) →
    * `aa aa a` — and marker alignment is sound because a symbol between
    * markers can only equal ls/rs exactly. Token count never re-splits:
    * every symbol carries exactly two markers, so n_tokens =
    * count('')/2 via one length diff.
    *
    * Why this shape: the previous form chained [[BpeTrainRounds]]
    * crossJoin+transform rounds, each re-splitting and re-joining every
    * word's sentinel string through interpreted per-symbol lambdas —
    * measured 8.9 s at sf0.1. Here the per-round work is one
    * `UTF8String.replace` pass per DOCUMENT (no per-symbol lambda at
    * all); only the initial char-wrapping touches individual characters,
    * once. An array-accumulator fold variant was measured 3× SLOWER than
    * even the per-round form — interpreted HOF append-copies dominate —
    * hence strings + native replace. */
  /** The whole-doc MARKED encoding after every merge: each symbol wrapped
    * in \u0001 markers, words joined by single spaces — the fused fold
    * whose correctness argument lives on [[tokensPerDocOf]]. Requires the
    * single-row `ms` merge array in scope (from [[mergesRow]]). */
  private val markedDocExpr: String = {
    val mk = "char(1)" // the symbol marker
    val wrapWord = // one word -> \1c1\1\1c2\1... (chars joined by \1\1, ends closed)
      s"concat($mk, array_join(split(w, ''), concat($mk, $mk)), $mk)"
    "aggregate(ms, " +
      "array_join(transform(filter(split(text, ' '), " +
      "w -> length(w) > 0 AND NOT contains(w, char(1))), " +
      s"w -> $wrapWord), ' '), " +
      s"(e, m) -> replace(e, concat($mk, m.ls, $mk, $mk, m.rs, $mk), " +
      s"concat($mk, m.ls, m.rs, $mk)))"
  }

  private[graft] def tokensPerDocOf(docs: DataFrame, merges: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    import docs.sparkSession.implicits._
    docs.crossJoin(broadcast(mergesRow(merges)))
      .select(($"doc_id" +: carry.map(col)) ++ Seq(
        expr("size(filter(split(text, ' '), " +
          "w -> length(w) > 0 AND NOT contains(w, char(1))))")
          .cast(LongType).as("n_words"),
        expr(markedDocExpr).as("e")): _*)
      .select(($"doc_id" +: carry.map(col)) ++ Seq($"n_words",
        ((length($"e") - length(expr("replace(e, char(1), '')"))) / 2)
          .cast(LongType).as("n_tokens")): _*)
      .filter($"n_words" > 0)
  }

  /** The full trained merge table as ONE broadcastable row: `ms` =
    * array of (ls, rs) structs in merge-rank order (sort_array on
    * (round, ls, rs) structs — round is unique, so the order is exactly
    * the training order regardless of upstream partitioning). */
  private def mergesRow(merges: DataFrame): DataFrame = {
    import merges.sparkSession.implicits._
    merges.agg(sort_array(collect_list(struct($"round", $"ls", $"rs"))).as("mr"))
      .select(expr("transform(mr, m -> struct(m.ls AS ls, m.rs AS rs))").as("ms"))
  }

  /** CTE chain ending in `tokc(doc_id, n_words, n_tokens)` — the exact
    * per-doc counts under the trained vocab (training chain + per-doc
    * merge folds), shared by [[tokensPerDocSql]] and the exact-token
    * packer's oracle ([[PipelineQueries.packExactTokensSql]]). */
  private[graft] def tokensPerDocCteSql: String = {
    val sb = new StringBuilder(bpeRoundsCtesSql(finalApply = false))
    sb.append(s""",
      |docw0 AS (
      |  SELECT doc_id, string_split(w, '') AS s FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) > 0 AND NOT contains(w, chr(1)))""".stripMargin)
    for (r <- 1 to BpeTrainRounds)
      sb.append(s""",
        |docw$r AS (
        |  SELECT doc_id, string_split(list_reduce(s, (acc, x) -> CASE
        |      WHEN x = rs AND acc = ls THEN ls || rs
        |      WHEN x = rs AND ends_with(acc, chr(1) || ls)
        |        THEN substr(acc, 1, length(acc) - length(ls)) || ls || rs
        |      ELSE acc || chr(1) || x END), chr(1)) AS s
        |  FROM docw${r - 1}, top$r)""".stripMargin)
    sb.append(s""",
      |tokc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |    CAST(SUM(len(s)) AS BIGINT) AS n_tokens
      |  FROM docw$BpeTrainRounds GROUP BY doc_id)""".stripMargin)
    sb.toString
  }

  /** DuckDB mirror: the training chain provides top1..topN; the per-doc
    * word stream runs the same fold against each in order. */
  val tokensPerDocSql: String =
    tokensPerDocCteSql +
      "\nSELECT doc_id, n_words, n_tokens FROM tokc ORDER BY doc_id"

  // --- X4u: tokenizer fertility per language -----------------------------

  /** Tokenizer FERTILITY per language — the standard tokenizer-health
    * metric (tokens emitted per whitespace word) plus compression
    * (chars per token), both in integer ppm, under the TRAINED merge
    * table's exact counts: a language whose fertility runs hot pays
    * proportionally more sequence length per sentence — the signal that
    * drives vocab-size and training-mix decisions (and the denominator
    * temperature-weighted mixing needs to be honest about). Rides the
    * same fused single-broadcast fold as `q_tokens_per_doc` with the
    * language carried through, so the whole audit is one narrow pass +
    * one hash aggregate. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = tokensPerDocOf(Tables.documents(s, dir),
      bpeMergeTable(s, dir), carry = Seq("lang", "n_chars"))
    t.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("words"),
        sum($"n_tokens").as("tokens"),
        sum($"n_chars").as("chars"))
      .select($"lang", $"n_docs", $"words", $"tokens",
        expr("tokens * 1000000 div words").as("fertility_ppm"),
        expr("chars * 1000000 div tokens").as("chars_per_tok_ppm"))
      .orderBy($"lang")
  }

  val bpeFertilitySql: String =
    tokensPerDocCteSql + """,
      |fert AS (
      |  SELECT d.lang, t.n_words, t.n_tokens, d.n_chars
      |  FROM tokc t JOIN documents d ON t.doc_id = d.doc_id)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(SUM(n_words) AS BIGINT) AS words,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens,
      |  CAST(SUM(n_tokens) * 1000000 // SUM(n_words) AS BIGINT)
      |    AS fertility_ppm,
      |  CAST(SUM(n_chars) * 1000000 // SUM(n_tokens) AS BIGINT)
      |    AS chars_per_tok_ppm
      |FROM fert GROUP BY lang ORDER BY lang""".stripMargin

  // --- X4r: real token IDs — the vocab table + the tokenized corpus ------

  /** X4r-a — the vocab table the trained tokenizer implies, laid out the
    * way every shipped BPE vocab file is: base symbols (each character
    * the word dictionary contains) take ids 0..B−1 in byte order; merge
    * r's product token takes id B+r−1 (merge-rank keyed). Scale: the
    * alphabet is bounded, so the one-partition rank window is a
    * constant-size step, not a corpus sort; merges ride the memoized
    * trained table. */
  def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chars = Tables.documents(s, dir)
      .select(explode(Ops.words($"text")).as("w"))
      .filter(length($"w") > 0 && !$"w".contains(BpeSent))
      .select(explode(split($"w", "")).as("token"))
      .distinct()
    val base = chars
      .withColumn("token_id",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy($"token")) - 1).cast(LongType))
      .withColumn("round", lit(0L))
    val nb = chars.agg(count(lit(1)).as("nb"))
    val merged = bpeMergeTable(s, dir).crossJoin(broadcast(nb))
      .select(concat($"ls", $"rs").as("token"),
        ($"nb" + $"round" - 1).as("token_id"), $"round")
    base.select($"token", $"token_id", $"round")
      .unionByName(merged).orderBy($"token_id")
  }

  val bpeVocabSql: String = {
    val mtok = (1 to BpeTrainRounds).map(r =>
      s"SELECT ls || rs AS token, CAST(nb.nb + $r - 1 AS BIGINT) AS token_id, " +
        s"CAST($r AS BIGINT) AS round FROM top$r, nb")
      .mkString("\nUNION ALL\n")
    bpeRoundsCtesSql(finalApply = false) + s""",
      |chars AS (SELECT DISTINCT unnest(string_split(w, '')) AS token FROM words),
      |nb AS (SELECT COUNT(*) AS nb FROM chars),
      |base AS (
      |  SELECT token,
      |    CAST(ROW_NUMBER() OVER (ORDER BY token ASC) - 1 AS BIGINT) AS token_id,
      |    CAST(0 AS BIGINT) AS round
      |  FROM chars)
      |SELECT token, token_id, round FROM base
      |UNION ALL
      |$mtok
      |ORDER BY token_id""".stripMargin
  }

  /** X4r-b — the tokenized corpus itself: every document's ordered token
    * stream under the trained merge table as (doc_id, pos, token_id,
    * token), ids from [[bpeVocab]]. This IS the artifact a training
    * pipeline materializes (what a data loader batches);
    * [[tokensPerDoc]]'s n_tokens is exactly COUNT(*) per doc here, and
    * concatenating a doc's tokens restores its filtered words
    * (both spec-pinned). Token extraction re-reads the SAME marked
    * string the count query folds ([[markedDocExpr]]): split on the
    * marker and drop the empty/space separators — symbols survive in
    * document order.
    *
    * Scale: the same narrow marked-fold map as tokensPerDoc, one
    * posexplode (the output is corpus-sized BY DEFINITION — it is the
    * tokenized corpus), and a broadcast vocab equi-join; no shuffle
    * before the presentation sort. */
  def tokenIds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tokenIdsOf(Tables.documents(s, dir),
      bpeMergeTable(s, dir), bpeVocab(s, dir))
      .orderBy($"doc_id", $"pos")
  }

  /** X4r-c — the PRODUCTION write path of the tokenized corpus: lands
    * [[tokenIds]]'s relation as a versioned artifact with NO global
    * sort. The oracle query ends in `orderBy(doc_id, pos)` for hash
    * determinism — a RANGE exchange that re-shuffles the entire
    * corpus-sized output just to present it sorted; the artifact a data
    * loader actually reads doesn't need global order, it needs (a) each
    * document's tokens CO-LOCATED in one file and (b) in-order within
    * the document. Both fall out of the pipeline's own shape: the fold +
    * posexplode is narrow over the documents scan, so each output
    * partition holds complete documents (a doc never splits across
    * partitions), and a partition-local `sortWithinPartitions` orders
    * (doc_id, pos) with no exchange at all. ArtifactSpec pins the plan
    * (zero shuffle exchanges, zero RangePartitioning) and round-trips
    * the loaded artifact equal to the oracle query modulo order. */
  def tokenIdsArtifactFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tokenIdsOf(Tables.documents(s, dir), bpeMergeTable(s, dir),
      bpeVocab(s, dir))
      .sortWithinPartitions($"doc_id", $"pos")
  }

  /** Write [[tokenIdsArtifactFrame]] as the next version of `name` in
    * the store; returns the version written. */
  def tokenIdsArtifact(s: SparkSession, dir: String, root: String,
      name: String = "token_ids"): Int =
    graft.sources.ArtifactStore.save(tokenIdsArtifactFrame(s, dir), root, name)

  /** Shared core of [[tokenIds]] and the streaming twin
    * ([[graft.streaming.StreamJobs.tokenIdsStream]]): works on any
    * (doc_id, text) relation, batch or streaming — the merge table and
    * vocab ride as broadcast statics, everything else is the stateless
    * narrow map + posexplode, so stream == batch row-for-row. */
  private[graft] def tokenIdsOf(docs: DataFrame, merges: DataFrame,
      vocab: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.crossJoin(broadcast(mergesRow(merges)))
      .select($"doc_id", expr(markedDocExpr).as("e"))
      .select($"doc_id", posexplode(expr(
        "filter(split(e, char(1)), p -> p <> '' AND p <> ' ')"))
        .as(Seq("pos0", "token")))
      // two different merges can concatenate to the SAME token string
      // (e.g. (a,bc) and (ab,c) both yield "abc"); the id space keeps both
      // rows but the encoder must map each string to ONE id — keep the
      // earliest (min) id, mirrored by the oracle's GROUP BY token
      .join(broadcast(vocab.groupBy($"token")
        .agg(min($"token_id").as("token_id"))), Seq("token"))
      .select($"doc_id", ($"pos0" + 1).cast(LongType).as("pos"),
        $"token_id", $"token")
  }

  /** DuckDB mirror: the per-word fold chain again, but carrying the word
    * position and unnesting each word's final symbol list with its
    * in-word ordinal — (wpos, tpos) reconstructs document order. */
  val tokenIdsSql: String = {
    val sb = new StringBuilder(bpeRoundsCtesSql(finalApply = false))
    sb.append(s""",
      |dw0 AS (
      |  SELECT doc_id, wpos, string_split(w, '') AS s FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |      generate_subscripts(string_split(text, ' '), 1) AS wpos
      |    FROM documents)
      |  WHERE length(w) > 0 AND NOT contains(w, chr(1)))""".stripMargin)
    for (r <- 1 to BpeTrainRounds)
      sb.append(s""",
        |dw$r AS (
        |  SELECT doc_id, wpos, string_split(list_reduce(s, (acc, x) -> CASE
        |      WHEN x = rs AND acc = ls THEN ls || rs
        |      WHEN x = rs AND ends_with(acc, chr(1) || ls)
        |        THEN substr(acc, 1, length(acc) - length(ls)) || ls || rs
        |      ELSE acc || chr(1) || x END), chr(1)) AS s
        |  FROM dw${r - 1}, top$r)""".stripMargin)
    val mtok = (1 to BpeTrainRounds).map(r =>
      s"SELECT ls || rs AS token, CAST(nb.nb + $r - 1 AS BIGINT) AS token_id " +
        s"FROM top$r, nb").mkString("\n  UNION ALL\n  ")
    sb.append(s""",
      |tokstream AS (
      |  SELECT doc_id, wpos, unnest(s) AS token, generate_subscripts(s, 1) AS tpos
      |  FROM dw$BpeTrainRounds),
      |chars AS (SELECT DISTINCT unnest(string_split(w, '')) AS token FROM words),
      |nb AS (SELECT COUNT(*) AS nb FROM chars),
      |vocab AS (
      |  SELECT token,
      |    CAST(ROW_NUMBER() OVER (ORDER BY token ASC) - 1 AS BIGINT) AS token_id
      |  FROM chars
      |  UNION ALL
      |  $mtok),
      |vocab_u AS (SELECT token, MIN(token_id) AS token_id FROM vocab GROUP BY token)
      |SELECT t.doc_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY t.doc_id
      |    ORDER BY t.wpos, t.tpos) AS BIGINT) AS pos,
      |  v.token_id, t.token
      |FROM tokstream t JOIN vocab_u v USING (token)
      |ORDER BY doc_id, pos""".stripMargin)
    sb.toString
  }

  /** DuckDB mirror of [[bpeTrain]]: the same [[BpeTrainRounds]] rounds
    * unrolled as CTEs (the `q_sim_knn_ivf2` Lloyd-round precedent), with
    * `list_reduce` running the identical merge fold. */
  /** The unrolled training CTE chain (words → syms1 → top1 → … → topN),
    * shared by [[bpeTrainSql]] and [[bpeEncodeSql]]; with `finalApply` the
    * chain continues through syms(N+1) — the dictionary with ALL N merges
    * applied, which is what encoding consumes. */
  private def bpeRoundsCtesSql(finalApply: Boolean): String =
    "WITH " + bpeRoundsChainSql(finalApply)

  /** The chain WITHOUT the leading `WITH`, parameterized so a query can
    * unroll SEVERAL independent trainings in one statement: `sfx` renames
    * every CTE (`words` → `words$sfx`, …); `whereDocs` restricts the
    * training corpus (the drift audit trains per cohort). */
  private def bpeRoundsChainSql(finalApply: Boolean, sfx: String = "",
      whereDocs: String = "TRUE"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""words$sfx AS (
        |  SELECT w, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |    WHERE $whereDocs)
        |  WHERE length(w) > 0 AND NOT contains(w, chr(1)) GROUP BY w),
        |syms${sfx}1 AS (SELECT string_split(w, '') AS s, freq FROM words$sfx)""".stripMargin)
    for (r <- 1 to BpeTrainRounds) {
      sb.append(s""",
        |top$sfx$r AS (
        |  SELECT ls, rs, CAST(SUM(freq) AS BIGINT) AS n
        |  FROM (SELECT s[CAST(i AS INT)] AS ls, s[CAST(i + 1 AS INT)] AS rs, freq
        |        FROM (SELECT s, freq, unnest(generate_series(1, len(s) - 1)) AS i
        |              FROM syms$sfx$r WHERE len(s) >= 2))
        |  GROUP BY ls, rs ORDER BY n DESC, ls ASC, rs ASC LIMIT 1)""".stripMargin)
      if (r < BpeTrainRounds || finalApply)
        sb.append(s""",
          |syms$sfx${r + 1} AS (
          |  SELECT string_split(list_reduce(s, (acc, x) -> CASE
          |      WHEN x = rs AND acc = ls THEN ls || rs
          |      WHEN x = rs AND ends_with(acc, chr(1) || ls)
          |        THEN substr(acc, 1, length(acc) - length(ls)) || ls || rs
          |      ELSE acc || chr(1) || x END), chr(1)) AS s, freq
          |  FROM syms$sfx$r, top$sfx$r)""".stripMargin)
    }
    sb.toString
  }

  val bpeTrainSql: String = {
    val sb = new StringBuilder(bpeRoundsCtesSql(finalApply = false))
    sb.append("\nSELECT * FROM (")
    sb.append((1 to BpeTrainRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, ls, rs, n FROM top$r")
      .mkString("\nUNION ALL "))
    sb.append(") ORDER BY round")
    sb.toString
  }

  /** DuckDB mirror of [[bpeEncode]]: the training chain unrolled through
    * the final application, then the token census off the fully-merged
    * dictionary. */
  val bpeEncodeSql: String =
    bpeRoundsCtesSql(finalApply = true) + s""",
      |toks AS (
      |  SELECT array_to_string(s, chr(1)) AS d, freq, unnest(s) AS token
      |  FROM syms${BpeTrainRounds + 1})
      |SELECT token, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_types,
      |  CAST(SUM(freq) AS BIGINT) AS n_occ
      |FROM toks GROUP BY token ORDER BY token""".stripMargin

  // --- X4k: character-entropy quality gate --------------------------------

  /** Shannon character entropy per document, rolled up per language — the
    * gibberish/boilerplate detector of the quality tier (natural text sits
    * in a narrow bits-per-char band; near-zero entropy is repeated filler,
    * the ceiling is random noise). Computed as
    * H = log2(n) − (Σ c·log2 c)/n over per-char counts, which needs ONE
    * libm call per distinct character (≤ |alphabet| per doc) instead of a
    * division inside the log.
    *
    * Scale: two hash aggregates — (doc, char) counts, then the per-doc
    * fold — both map-side-combinable; the per-language rollup is
    * constant-size. Per-doc entropy is rounded at 4 and the low-entropy
    * flag tests the ROUNDED value, pinning the cross-engine cut (same
    * discipline as ST4's z flag). */
  /** Per-doc rounded Shannon entropy — shared by the X4k gate and the
    * XP11 ensemble census. Per-doc scorer tables are consumed by their
    * own band/gate query AND the XP11 ensemble — memoized per (session,
    * documents-content) like [[DedupQueries.minhashPairs]] so the corpus
    * passes run once per session, not once per consumer. */
  private[ext] def entropyPerDoc(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "perdoc_ent", dir, "documents") {
      graft.GraftSession.ckpt(entropyPerDocPlan(s, dir))
    }

  private[graft] def entropyPerDocPlan(s: SparkSession, dir: String): DataFrame =
    entropyPerDocPlanOf(Tables.documents(s, dir))

  /** The per-doc entropy plan over an arbitrary (doc_id, lang, text)
    * relation — factored for the ContractAndPropertySpec reference pin. */
  private[graft] def entropyPerDocPlanOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", $"lang", explode(split($"text", "")).as("ch"))
      .groupBy($"doc_id", $"lang", $"ch")
      .agg(count(lit(1)).as("c"))
      .groupBy($"doc_id", $"lang")
      .agg(sum($"c").as("n"),
        sum($"c".cast("double") * log2($"c".cast("double"))).as("clog"))
      .select($"doc_id", $"lang",
        round(log2($"n".cast("double")) - $"clog" / $"n", 4).as("ent"))
  }

  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDoc = entropyPerDoc(s, dir)
    perDoc.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"ent" < 3.2, 1L).otherwise(0L)).as("n_low_entropy"),
        round(min($"ent"), 4).as("min_ent"),
        round(max($"ent"), 4).as("max_ent"))
      .orderBy($"lang")
  }

  /** Oracle CTE chain ending in `per_doc`(doc_id, lang, ent) — the ONE
    * SQL definition of per-doc entropy, shared with the XP11 census. */
  private[ext] val entropyPerDocCtesSql: String =
    """chars AS (
      |  SELECT doc_id, lang, unnest(string_split(text, '')) AS ch
      |  FROM documents),
      |counts AS (
      |  SELECT doc_id, lang, ch, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM chars GROUP BY 1, 2, 3),
      |per_doc AS (
      |  SELECT doc_id, lang,
      |    round(log2(CAST(SUM(c) AS DOUBLE))
      |      - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
      |        / CAST(SUM(c) AS BIGINT), 4) AS ent
      |  FROM counts GROUP BY 1, 2)""".stripMargin

  val textEntropySql: String =
    s"""WITH $entropyPerDocCtesSql
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN ent < 3.2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_low_entropy,
      |  round(MIN(ent), 4) AS min_ent,
      |  round(MAX(ent), 4) AS max_ent
      |FROM per_doc GROUP BY lang
      |ORDER BY lang""".stripMargin

  // --- X4l: character-bigram language-model scoring -----------------------

  /** Score every document against a char-bigram language model FIT ON THE
    * CORPUS ITSELF — the self-supervised fluency gate of the quality tier
    * (a doc whose bigrams are rare under the corpus distribution is
    * boilerplate, gibberish, or out-of-domain; the perplexity idea with
    * the log replaced by integer millionth-probabilities so every score
    * is bit-exact across engines — no libm, no float sums).
    *
    * score(doc) = ⌊ Σ_bigram p_u(bigram) / n_bigrams ⌋ where
    * p_u(b) = ⌊ corpus_count(b)·10⁶ / corpus_total ⌋.
    *
    * Scale: the model is one map-combinable hash aggregate whose size is
    * bounded by |alphabet|² (not the corpus), so its totals window runs
    * over constant rows and the score join BROADCASTS the model — the
    * per-doc pass stays narrow. Two corpus passes (fit + transform), the
    * unavoidable shape of self-supervised scoring. */
  /** Per-doc integer LM score — shared by the X4l bands and the XP11
    * ensemble census. Docs shorter than 2 chars have no bigrams and are
    * absent (callers left-join and default). */
  private[ext] def lmScorePerDoc(s: SparkSession, dir: String): DataFrame =
    graft.GraftSession.memoOn(s, "perdoc_lm", dir, "documents") {
      graft.GraftSession.ckpt(lmScorePerDocPlan(s, dir))
    }

  private[graft] def lmScorePerDocPlan(s: SparkSession, dir: String): DataFrame =
    lmScorePerDocPlanOf(Tables.documents(s, dir))

  /** The per-doc LM-score plan over an arbitrary (doc_id, lang, text)
    * relation — factored for the ContractAndPropertySpec reference pin. */
  private[graft] def lmScorePerDocPlanOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val big = docs
      .where(length($"text") >= 2)
      .select($"doc_id", $"lang", explode(expr(
        "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
        .as("bg"))
    val model = big.groupBy($"bg").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum($"cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      // cnt·10⁶ overflows int64 only when ONE bigram exceeds ~9.2e12
      // occurrences — at a 2% share that is a ~500 TB text corpus; past
      // that, pre-scale the divisor (cnt div (total div 10⁶)) in BOTH
      // engines (coarser at small corpora, which is why it isn't the
      // default here)
      .select($"bg", expr("cnt * 1000000 div total").as("prob_u"))
    big.join(broadcast(model), Seq("bg"))
      .groupBy($"doc_id", $"lang")
      .agg(expr("sum(prob_u) div count(1)").as("score_u"))
  }

  def textLmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lmScorePerDoc(s, dir)
      .groupBy($"lang", expr("score_u div 1000").as("band"))
      .agg(count(lit(1)).as("n_docs"), sum($"score_u").as("sum_score_u"))
      .orderBy($"lang", $"band")
  }

  /** Oracle CTE chain ending in `lm_scored`(doc_id, lang, score_u) — the
    * ONE SQL definition of the per-doc LM score, shared with XP11. */
  private[ext] val lmScoreCtesSql: String =
    """big AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(range(1, length(text)),
      |                          i -> substring(text, i, 2))) AS bg
      |  FROM documents WHERE length(text) >= 2),
      |model AS (SELECT bg, COUNT(*) AS cnt FROM big GROUP BY bg),
      |model2 AS (
      |  SELECT bg, CAST(cnt * 1000000
      |    // (SELECT CAST(SUM(cnt) AS BIGINT) FROM model) AS BIGINT) AS prob_u
      |  FROM model),
      |lm_scored AS (
      |  SELECT doc_id, lang,
      |    CAST(SUM(prob_u) // COUNT(*) AS BIGINT) AS score_u
      |  FROM big JOIN model2 USING (bg) GROUP BY 1, 2)""".stripMargin

  val textLmScoreSql: String =
    s"""WITH $lmScoreCtesSql
      |SELECT lang, CAST(score_u // 1000 AS BIGINT) AS band,
      |  COUNT(*) AS n_docs, CAST(SUM(score_u) AS BIGINT) AS sum_score_u
      |FROM lm_scored GROUP BY 1, 2 ORDER BY lang, band""".stripMargin
}
