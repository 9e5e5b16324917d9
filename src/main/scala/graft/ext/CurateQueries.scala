package graft.ext

import graft.{Ops, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The composed curation pipeline — the query a 100-TB training-data run
  * actually materializes: every document attributed to its FIRST failing
  * stage of quality filter → exact dedup → near-dup dedup, rolled up per
  * (lang, source).
  *
  * Stage semantics (deterministic):
  *  1. low_quality — fails [[TextQueries.qualityCol]] (Gopher/C4 rule
  *     family).
  *  2. exact_dup — among quality-passing docs sharing a sha256(text),
  *     every doc but the smallest doc_id.
  *  3. near_dup — a non-canonical member of an LSH cluster
  *     ([[DedupQueries]] cluster table, canonical = longest text / min
  *     doc_id, defined on the FULL corpus: the cluster table is computed
  *     once upstream of the filter stages, as a real pipeline does).
  *  4. kept — survives all three.
  *
  * Scale shape: ONE pass of the corpus computes the quality flag and
  * content hash, ONE hash-partitioned window ranks exact duplicates
  * (sorting quality-passing docs first, so a q-doc's rank counts only
  * q-docs — no self-join back onto the scan), one join against the
  * memoized cluster table, one final aggregate.
  */
object CurateQueries {

  /** Hashed-n-gram feature buckets shared by DSIR selection (XC10) and
    * the content-drift gate (XC12). Declared FIRST in the object: the
    * `*Sql` oracle vals below interpolate it at initialization time, and
    * Scala initializes object vals in declaration order — a later
    * declaration would interpolate 0 into every oracle that references
    * it (the Spark sides, being defs, would silently disagree). */
  private[graft] val DsirBuckets = 128L

  def curate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"source",
        Ops.wordCount($"text").as("token_cnt"),
        TextQueries.qualityCol.as("q"),
        sha2($"text", 256).as("h"))
    // exact-dup canonical: quality-passing docs sort first within a
    // content hash, so a q-doc is an exact_dup iff it is NOT its hash
    // group's (q DESC, doc_id ASC) minimum. Computed as a map-side-
    // combining groupBy(min(struct)) + equi-join back on the hash, NOT
    // a row_number window partitioned on the doc-content hash: a viral
    // doc's copies would all buffer in one WindowExec task, while min()
    // combines partially per map partition and the join-back skew is
    // AQE-splittable (the r15 content-key-window rewrite, same as the
    // substring-dedup and XP14 staged sites). Semantics preserved: the
    // old xrn > 1 is consulted only when q is true, and for a q-doc
    // "xrn > 1" ⟺ "not the group minimum" (the minimum has qi = 0
    // whenever any q-doc exists in the group).
    val canon = base
      .select($"h", when($"q", 0).otherwise(1).as("qi"), $"doc_id")
      .groupBy($"h")
      .agg(min(struct($"qi", $"doc_id")).as("cx"))
    val member = DedupQueries.rankedMembers(s, dir)
      .select($"doc_id", $"rn".as("crn"))
    val verdict = when(!$"q", "low_quality")
      .when(!$"is_xcanon", "exact_dup")
      .when($"crn".isNotNull && $"crn" =!= 1, "near_dup")
      .otherwise("kept")
    base
      .join(canon, Seq("h"))
      .withColumn("is_xcanon",
        (when($"q", 0).otherwise(1) === $"cx.qi") &&
          ($"doc_id" === $"cx.doc_id"))
      .join(member, Seq("doc_id"), "left")
      .withColumn("verdict", verdict)
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"verdict" === "low_quality", 1L).otherwise(0L)).as("n_lowq"),
        sum(when($"verdict" === "exact_dup", 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when($"verdict" === "near_dup", 1L).otherwise(0L)).as("n_near_dup"),
        sum(when($"verdict" === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"verdict" === "kept", $"token_cnt").otherwise(0L))
          .as("kept_tokens"))
      .orderBy($"lang", $"source")
  }

  val curateSql: String =
    s"""WITH RECURSIVE ${DedupQueries.ccCtesSql},
       |base AS (
       |  SELECT doc_id, lang, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt,
       |    ${TextQueries.qualityPredSql} AS q,
       |    sha256(text) AS h
       |  FROM documents),
       |xranked AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY h ORDER BY q DESC, doc_id ASC) AS xrn
       |  FROM base),
       |verdicts AS (
       |  SELECT b.lang, b.source, b.token_cnt,
       |    CASE WHEN NOT b.q THEN 'low_quality'
       |      WHEN b.xrn > 1 THEN 'exact_dup'
       |      WHEN r.rn IS NOT NULL AND r.rn <> 1 THEN 'near_dup'
       |      ELSE 'kept' END AS verdict
       |  FROM xranked b
       |  LEFT JOIN ranked r ON b.doc_id = r.doc_id)
       |SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN verdict = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_lowq,
       |  CAST(SUM(CASE WHEN verdict = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       |  CAST(SUM(CASE WHEN verdict = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
       |  CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN verdict = 'kept' THEN token_cnt ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM verdicts GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // --- XC2: weak-label-distilled quality classifier ----------------------

  /** Distill the rule-based quality gate into a LEARNED classifier and
    * audit the distillation — the production quality-filter pattern (a
    * fastText-style model trained on heuristic weak labels, then applied
    * at corpus scale where the rules are too slow or too brittle).
    *
    * Model: multinomial naive Bayes over the document's tokens PLUS
    * three injected feature pseudo-tokens (`__len_k`, `__punct_k`,
    * `__stop_k` — the bucketed quantities the gate actually thresholds;
    * without them a bag-of-words model cannot see length and the
    * distillation caps at the base rate). Weights are INTEGER micro-logs
    * — `w(t) = ⌊10⁶·ln((n₁+1)/(N₁+V))⌋ − ⌊10⁶·ln((n₀+1)/(N₀+V))⌋` —
    * so the single libm call is quantized ONCE per vocab entry in the
    * weight table, and the per-doc score Σ w(t) + bias is pure BIGINT:
    * summation-order-free and engine-exact (the floor(·1e6) quantizer is
    * the ANN tier's q6 discipline applied to log space).
    *
    * Output: the per-language distillation audit — rule/model pass
    * counts, agreement, both-pass, agreement basis points. On this
    * corpus the distilled model reconstructs the gate exactly
    * (agree_bp = 10000), which the audit row states rather than assumes;
    * the spec pins the confusion identity and a full local replay.
    *
    * Scale: training is one token-explode hash agg (vocab-sized output);
    * totals and the prior are single-row broadcasts; scoring joins the
    * token stream to the weight table on the token key (hash equi-join —
    * a 100-TB corpus streams once) and reduces per doc. */
  /** Featurized token stream for the XC2 classifier: the document's own
    * tokens plus the three bucketed feature pseudo-tokens, with the weak
    * label `y` carried per row. Shared by training, batch scoring, and
    * the streaming scoring twin. */
  private[graft] def nbFeatures(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toksArr = Ops.words($"text")
    val tokenCnt = size(toksArr).cast(LongType)
    val punctCnt = (length($"text") -
      length(regexp_replace($"text", "[.,!?;:]", ""))).cast(LongType)
    val stopCnt = size(filter(toksArr, t =>
      TextQueries.stopwords.map(w => t === w).reduce(_ || _))).cast(LongType)
    val featArr = array(
      concat(lit("__len_"), least(expr("tc div 10"), lit(20L)).cast("string")),
      concat(lit("__punct_"), least(expr("(100 * pc) div tc"), lit(30L)).cast("string")),
      concat(lit("__stop_"), least(expr("(100 * sc) div tc"), lit(20L)).cast("string")))
    docs
      .select($"doc_id", $"lang", $"text",
        TextQueries.qualityCol.cast(LongType).as("y"),
        tokenCnt.as("tc"), punctCnt.as("pc"), stopCnt.as("sc"))
      .select($"doc_id", $"lang", $"y",
        explode(concat(Ops.words($"text"), featArr)).as("tok"))
  }

  /** Bias row key inside the trained model table — the model ships as ONE
    * relation (token → weight, plus this row), which is what makes it a
    * single [[graft.sources.ArtifactStore]] artifact. Underscore-prefixed
    * names cannot collide with corpus tokens split on spaces... but
    * `__len_k` et al ARE such names, so the bias key gets its own prefix. */
  private[graft] val BiasKey = "__model_bias__"

  /** Train the XC2 model: integer micro-log NB weights per token plus the
    * prior bias row under [[BiasKey]]. Vocab-sized output — an
    * index-sized artifact, not corpus-sized. */
  private[graft] def nbTrain(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = nbFeatures(docs)
    val cnt = toks.groupBy($"tok")
      .agg(sum($"y").as("n1"), count(lit(1)).as("n"))
    val tot = cnt.agg(sum($"n1").as("t1"), sum($"n" - $"n1").as("t0"),
      count(lit(1)).as("v"))
    val wts = cnt.crossJoin(broadcast(tot))
      .select($"tok",
        (floor(log(($"n1" + 1).cast(DoubleType) / ($"t1" + $"v")) * 1000000L)
          - floor(log(($"n" - $"n1" + 1).cast(DoubleType) / ($"t0" + $"v")) * 1000000L))
          .cast(LongType).as("w"))
    val prior = docs
      .select(TextQueries.qualityCol.cast(LongType).as("y"))
      .agg(sum($"y").as("d1"), count(lit(1)).as("d"))
      .select(lit(BiasKey).as("tok"),
        floor(log(($"d1" + 1).cast(DoubleType) / ($"d" - $"d1" + 1))
          * 1000000L).cast(LongType).as("w"))
    wts.unionByName(prior)
  }

  /** Score documents against a TRAINED model relation (in deployment:
    * `ArtifactStore.load`-ed — the streaming twin re-resolves it per
    * micro-batch). Emits (doc_id, lang, y, s, m); stateless beyond the
    * per-doc reduce, so stream == batch row-for-row. */
  private[graft] def nbScore(docs: DataFrame, model: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bias = model.filter($"tok" === BiasKey)
      .select($"w".as("bias"))
    val wts = model.filter($"tok" =!= BiasKey)
    nbFeatures(docs).join(wts, "tok")
      .groupBy($"doc_id", $"lang", $"y")
      .agg(sum($"w").as("s"))
      .crossJoin(broadcast(bias))
      .withColumn("m", ($"s" + $"bias" > 0).cast(LongType))
      .select($"doc_id", $"lang", $"y", $"s", $"m")
  }

  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    nbScore(docs, nbTrain(docs)).groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"y").as("n_rule_pass"),
        sum($"m").as("n_model_pass"),
        sum(($"y" === $"m").cast(LongType)).as("n_agree"),
        sum(($"y" === 1L && $"m" === 1L).cast(LongType)).as("n_both_pass"))
      .withColumn("agree_bp", expr("(10000 * n_agree) div n_docs"))
      .orderBy($"lang")
  }

  /** The XC2 training + scoring chain (base → toks → cnt → tot → wts →
    * prior → scored), shared by the distillation audit and the
    * calibration (reliability) audit. */
  private val nbCtesSql: String = nbCtesSqlFor("", "TRUE")

  /** Suffix-parameterized XC2 chain: the cohort-drift audit trains two
    * models (sfx = "ca"/"cb", `trainWhere` restricting the TRAINING
    * corpus) while scoring the FULL corpus with each; the unsuffixed
    * chain trains and scores on everything. */
  private def nbCtesSqlFor(sfx: String, trainWhere: String): String = {
    val stop = TextQueries.stopwords
    val sw = stop.map(w => s"'$w'").mkString("[", ", ", "]")
    val tc = "len(string_split(text, ' '))"
    val pc = "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))"
    val sc = s"len(list_filter(string_split(text, ' '), t -> list_contains($sw, t)))"
    s"""base$sfx AS (
       |  SELECT doc_id, lang, text,
       |    CASE WHEN ${TextQueries.qualityPredSql} THEN 1 ELSE 0 END AS y,
       |    CAST($tc AS BIGINT) AS tc,
       |    CAST($pc AS BIGINT) AS pc,
       |    CAST($sc AS BIGINT) AS sc
       |  FROM documents),
       |toks$sfx AS (
       |  SELECT doc_id, lang, y, unnest(list_concat(string_split(text, ' '),
       |    ['__len_' || CAST(LEAST(tc // 10, 20) AS VARCHAR),
       |     '__punct_' || CAST(LEAST((100 * pc) // tc, 30) AS VARCHAR),
       |     '__stop_' || CAST(LEAST((100 * sc) // tc, 20) AS VARCHAR)]))
       |    AS tok
       |  FROM base$sfx),
       |cnt$sfx AS (
       |  SELECT tok, CAST(SUM(y) AS BIGINT) AS n1,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM toks$sfx WHERE doc_id IN (SELECT doc_id FROM base$sfx WHERE $trainWhere)
       |  GROUP BY 1),
       |tot$sfx AS (
       |  SELECT CAST(SUM(n1) AS BIGINT) AS t1,
       |    CAST(SUM(n - n1) AS BIGINT) AS t0,
       |    CAST(COUNT(*) AS BIGINT) AS v
       |  FROM cnt$sfx),
       |wts$sfx AS (
       |  SELECT tok,
       |    CAST(floor(ln(CAST(n1 + 1 AS DOUBLE) / (t1 + v)) * 1000000) AS BIGINT)
       |      - CAST(floor(ln(CAST(n - n1 + 1 AS DOUBLE) / (t0 + v)) * 1000000) AS BIGINT)
       |      AS w
       |  FROM cnt$sfx CROSS JOIN tot$sfx),
       |prior$sfx AS (
       |  SELECT CAST(floor(ln(CAST(SUM(y) + 1 AS DOUBLE)
       |    / (COUNT(*) - SUM(y) + 1)) * 1000000) AS BIGINT) AS bias
       |  FROM base$sfx WHERE $trainWhere),
       |scored$sfx AS (
       |  SELECT t.doc_id, t.lang, t.y, CAST(SUM(w.w) AS BIGINT) AS s
       |  FROM toks$sfx t JOIN wts$sfx w USING (tok)
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  val qualityClassifierSql: String =
    s"""WITH $nbCtesSql,
       |cls AS (
       |  SELECT lang, y,
       |    CASE WHEN s + (SELECT bias FROM prior) > 0 THEN 1 ELSE 0 END AS m
       |  FROM scored)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(y) AS BIGINT) AS n_rule_pass,
       |  CAST(SUM(m) AS BIGINT) AS n_model_pass,
       |  CAST(SUM(CASE WHEN y = m THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       |  CAST(SUM(CASE WHEN y = 1 AND m = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_both_pass,
       |  (10000 * CAST(SUM(CASE WHEN y = m THEN 1 ELSE 0 END) AS BIGINT))
       |    // COUNT(*) AS agree_bp
       |FROM cls GROUP BY lang ORDER BY lang""".stripMargin

  // --- XC3: k-anonymity release audit ------------------------------------

  /** Class-size threshold below which a quasi-identifier equivalence
    * class counts as re-identifying. */
  private val ANON_K = 5L

  /** k-anonymity audit over the corpus's quasi-identifiers — the release
    * check run before publishing a dataset: docs sharing a QI tuple
    * (lang, source, 50-char length bucket) form an equivalence class; any
    * class smaller than k = [[ANON_K]] makes its members re-identifiable
    * by those attributes alone (the standard k-anonymity criterion, the
    * complement of the content-level PII redaction pass). Emits the
    * per-language risk census: classes, under-k classes, documents at
    * risk, and the risk fraction in basis points — what a suppression or
    * generalization step would have to fix.
    *
    * Scale: two map-side-combinable hash aggregates (QI tuple → class
    * size → per-language rollup); class count is bounded by the QI
    * domain, not the corpus. */
  def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val classes = Tables.documents(s, dir)
      .select($"lang", $"source",
        expr("n_chars div 50").as("len_bkt"))
      .groupBy($"lang", $"source", $"len_bkt")
      .agg(count(lit(1)).as("n"))
    classes.groupBy($"lang")
      .agg(count(lit(1)).as("n_classes"),
        sum(when($"n" < ANON_K, 1L).otherwise(0L)).as("small_classes"),
        sum(when($"n" < ANON_K, $"n").otherwise(0L)).as("docs_at_risk"),
        min($"n").as("min_class"),
        sum($"n").as("n_docs"))
      .select($"lang", $"n_classes", $"small_classes", $"docs_at_risk",
        $"min_class",
        expr("docs_at_risk * 10000 div n_docs").as("risk_bp"))
      .orderBy($"lang")
  }

  val kAnonymitySql: String =
    s"""WITH classes AS (
       |  SELECT lang, source, n_chars // 50 AS len_bkt, count(*) AS n
       |  FROM documents GROUP BY lang, source, len_bkt)
       |SELECT lang, count(*) AS n_classes,
       |  CAST(SUM(CASE WHEN n < $ANON_K THEN 1 ELSE 0 END) AS BIGINT)
       |    AS small_classes,
       |  CAST(SUM(CASE WHEN n < $ANON_K THEN n ELSE 0 END) AS BIGINT)
       |    AS docs_at_risk,
       |  MIN(n) AS min_class,
       |  CAST(SUM(CASE WHEN n < $ANON_K THEN n ELSE 0 END) * 10000
       |    // SUM(n) AS BIGINT) AS risk_bp
       |FROM classes GROUP BY lang ORDER BY lang""".stripMargin

  // --- XC4: corpus report card -------------------------------------------

  /** The DATASET CARD rollup — one row per source with the numbers every
    * corpus release publishes and every consumer checks first: volume
    * (docs, exact sub-word tokens), language spread (distinct langs +
    * dominant language), exact-duplicate rate and quality-gate pass rate
    * in basis points, and the exact lower-median document length. One
    * report query instead of five ad-hoc ones — the audit a 100-TB
    * corpus build lands next to its manifest.
    *
    * Scale: one corpus scan feeds three aggregate families that each
    * hash-partition on source (the median is rank-picked per source —
    * the ST5 no-whole-group-buffer argument — and the dominant language
    * a two-level count + rank, never a collect). The k-th-smallest value
    * is well-defined under ties, so the median is deterministic without
    * a tiebreaker. */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir).select($"source", $"lang", $"n_chars",
      regexp_count($"text", lit("\\S{1,4}")).cast(LongType).as("n_tok"),
      md5($"text").as("h"),
      when(TextQueries.qualityCol, 1L).otherwise(0L).as("q"))
    val agg = base.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        count_distinct($"lang").as("n_langs"),
        count_distinct($"h").as("uniq"),
        sum($"q").as("n_quality"))
      .select($"source", $"n_docs", $"n_tokens", $"n_langs",
        expr("(n_docs - uniq) * 10000 div n_docs").as("dup_bp"),
        expr("n_quality * 10000 div n_docs").as("quality_bp"))
    val wS = Window.partitionBy($"source")
    val med = base
      .withColumn("rn", row_number().over(wS.orderBy($"n_chars")))
      .withColumn("n", count(lit(1)).over(wS))
      .filter($"rn" === expr("(n + 1) div 2"))
      .select($"source", $"n_chars".as("p50_chars"))
    val top = base.groupBy($"source", $"lang").agg(count(lit(1)).as("c"))
      .withColumn("r",
        row_number().over(wS.orderBy($"c".desc, $"lang".asc)))
      .filter($"r" === 1)
      .select($"source", $"lang".as("top_lang"))
    agg.join(med, Seq("source")).join(top, Seq("source"))
      .orderBy($"source")
  }

  val corpusReportSql: String =
    s"""WITH base AS (
       |  SELECT source, lang, n_chars,
       |    CAST(len(regexp_extract_all(text, '\\S{1,4}')) AS BIGINT)
       |      AS n_tok,
       |    md5(text) AS h,
       |    CASE WHEN ${TextQueries.qualityPredSql}
       |      THEN 1 ELSE 0 END AS q
       |  FROM documents),
       |agg AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST((count(*) - count(DISTINCT h)) * 10000 // count(*)
       |      AS BIGINT) AS dup_bp,
       |    CAST(SUM(q) * 10000 // count(*) AS BIGINT) AS quality_bp
       |  FROM base GROUP BY source),
       |med AS (
       |  SELECT source, n_chars AS p50_chars FROM (
       |    SELECT source, n_chars,
       |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
       |      COUNT(*) OVER (PARTITION BY source) AS n
       |    FROM base) WHERE rn = (n + 1) // 2),
       |top AS (
       |  SELECT source, lang AS top_lang FROM (
       |    SELECT source, lang, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY COUNT(*) DESC, lang ASC) AS r
       |    FROM base GROUP BY source, lang) WHERE r = 1)
       |SELECT source, n_docs, n_tokens, n_langs, dup_bp, quality_bp,
       |  p50_chars, top_lang
       |FROM agg JOIN med USING (source) JOIN top USING (source)
       |ORDER BY source""".stripMargin

  // --- XC5: contrastive training-pair assembly ---------------------------

  /** Training-PAIR assembly for contrastive/embedding training — the
    * step between "curated corpus" and an embedding model's dataloader:
    * per anchor document, ONE positive (its strongest near-dup partner
    * from the LSH pair table — the weak-supervision positive every
    * large-scale embedding recipe starts from) and K = 3 deterministic
    * random negatives drawn from OTHER sources, md5-ranked so the draw
    * is a pure function of the data. Negatives are FILTERED against the
    * anchor's entire near-dup partner set first — the false-negative
    * guard: a true near-duplicate must never be taught as a negative.
    * Anchors without any near-dup partner emit no positive row (no
    * weak label, no fabricated pair) but still get negatives.
    *
    * Scale: positives ride the memoized pair table (one rank window on
    * the anchor key); negative candidate generation here is an
    * anchor-batch × corpus cross with a bounded broadcast build side
    * (same class as the ANN query batch) — at 100 TB the draw becomes a
    * per-partition reservoir per anchor shard, same md5 keys. */
  def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"source")
    val anchors = docs.filter($"doc_id" < 20)
      .select($"doc_id".as("anchor_id"), $"source".as("a_src"))
    val p = DedupQueries.minhashPairs(s, dir)
    val sym = p.select($"doc_a".as("anchor_id"), $"doc_b".as("cand_id"), $"est_jaccard")
      .unionAll(p.select($"doc_b".as("anchor_id"), $"doc_a".as("cand_id"), $"est_jaccard"))
    val wPos = Window.partitionBy($"anchor_id")
      .orderBy($"est_jaccard".desc, $"cand_id".asc)
    val pos = sym.filter($"anchor_id" < 20)
      .withColumn("r", row_number().over(wPos)).filter($"r" === 1)
      .select($"anchor_id", lit("pos").as("role"), lit(1L).as("rnk"),
        $"cand_id",
        ($"est_jaccard" * 1000000).cast(LongType).as("score_ppm"))
    val negCand = anchors
      .join(docs.select($"doc_id".as("cand_id"), $"source".as("c_src")),
        $"a_src" =!= $"c_src")
      .select($"anchor_id", $"cand_id")
      .join(sym.select($"anchor_id", $"cand_id"),
        Seq("anchor_id", "cand_id"), "left_anti")
    val wNeg = Window.partitionBy($"anchor_id").orderBy(
      md5(concat(lit("neg_"), $"anchor_id".cast("string"), lit("_"),
        $"cand_id".cast("string"))), $"cand_id")
    val neg = negCand.withColumn("r", row_number().over(wNeg))
      .filter($"r" <= 3)
      .select($"anchor_id", lit("neg").as("role"), $"r".cast(LongType).as("rnk"),
        $"cand_id", lit(0L).as("score_ppm"))
    pos.unionByName(neg).orderBy($"anchor_id", $"role", $"rnk")
  }

  val contrastivePairsSql: String =
    s"""WITH ${DedupQueries.lshCandCtesSql},
       |spairs AS (
       |  SELECT doc_a, doc_b,
       |    ${DedupQueries.estJaccardSql("sa", "sb")} AS est
       |  FROM cpairs
       |  JOIN sigs sa ON doc_a = sa.doc_id
       |  JOIN sigs sb ON doc_b = sb.doc_id
       |  WHERE ${DedupQueries.estJaccardSql("sa", "sb")}
       |    >= ${2.0 / DedupQueries.K}),
       |sym AS (
       |  SELECT doc_a AS anchor_id, doc_b AS cand_id, est FROM spairs
       |  UNION ALL SELECT doc_b, doc_a, est FROM spairs),
       |pos AS (
       |  SELECT anchor_id, 'pos' AS role, CAST(1 AS BIGINT) AS rnk,
       |    cand_id, CAST(est * 1000000 AS BIGINT) AS score_ppm
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |      ORDER BY est DESC, cand_id ASC) AS r
       |    FROM sym WHERE anchor_id < 20) WHERE r = 1),
       |negf AS (
       |  SELECT a.doc_id AS anchor_id, c.doc_id AS cand_id
       |  FROM documents a JOIN documents c ON a.source <> c.source
       |  WHERE a.doc_id < 20
       |    AND NOT EXISTS (SELECT 1 FROM sym s
       |      WHERE s.anchor_id = a.doc_id AND s.cand_id = c.doc_id)),
       |neg AS (
       |  SELECT anchor_id, 'neg' AS role, CAST(r AS BIGINT) AS rnk,
       |    cand_id, CAST(0 AS BIGINT) AS score_ppm
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |      ORDER BY md5('neg_' || CAST(anchor_id AS VARCHAR) || '_'
       |        || CAST(cand_id AS VARCHAR)), cand_id) AS r
       |    FROM negf) WHERE r <= 3)
       |SELECT * FROM pos UNION ALL SELECT * FROM neg
       |ORDER BY anchor_id, role, rnk""".stripMargin

  // --- XC6: Pareto/skyline curation frontier -----------------------------

  /** SKYLINE (Pareto-front) operator over the curation trade-off every
    * data-selection pass negotiates: documents that are NOT DOMINATED on
    * (maximize lexical quality, minimize length) — doc x is dominated
    * when some y has `len ≤` and `quality ≥` with at least one strict.
    * The relational skyline operator itself debuts as ST6
    * ([[graft.analytics.StatsQueries.skylinePareto]], bucket-pruned
    * running-max windows over customers); THIS variant contributes the
    * other two legs of the story: the DICTIONARY reduction (the window
    * never touches corpus rows at all) and the INCREMENTAL streaming
    * maintenance ([[graft.streaming.StreamJobs.skylineDictUpdate]]) that
    * the bucket-pruned form cannot do without replaying its buckets.
    * The frontier is the "no free lunch" set: every kept-out doc has a
    * strictly-better-or-equal alternative at no extra length budget, so
    * a curator choosing under a token budget only ever picks from it.
    * Quality here is the integer distinct-word ratio in ppm (the
    * repetition-free signal of the Gopher rule family, exact in both
    * engines).
    *
    * Scale plan — the window never sees the corpus: (1) one hash
    * aggregate folds the corpus to its LENGTH DICTIONARY (per distinct
    * len: max quality + how many docs and which min doc_id sit at that
    * (len, maxq) point); (2) the skyline rule runs as a window over the
    * dictionary ONLY (|distinct lengths| rows — bounded, not
    * corpus-sized): a (len, q) point survives iff q strictly exceeds the
    * running max quality over all SMALLER lens (RANGE frame to -1).
    * Corpus rows are never range-partitioned or sorted; at 100 TB the
    * single-partition window costs |len dictionary| ≈ 10⁵ rows. The
    * 2-D skyline's sorted-scan identity (point on front ⇔ q > best q at
    * any smaller len) is what makes the dictionary reduction exact. */
  /** Per-doc (doc_id, len, q) scoring shared by batch and stream. */
  private[graft] def skylineScore(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", $"n_chars".as("len"),
      expr("size(array_distinct(split(text, ' '))) * 1000000L" +
        " div size(split(text, ' '))").as("q"))
  }

  /** Fold scored rows to the LENGTH DICTIONARY: per len, the best q and
    * the census (count + min doc) of docs AT that best. Associative and
    * idempotent under re-folding — what makes the streaming frontier's
    * standing state a dictionary merge, not a corpus replay. */
  private[graft] def skylineDict(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    val perLen = scored.groupBy($"len").agg(max($"q").as("maxq"))
    scored.join(perLen, Seq("len"))
      .filter($"q" === $"maxq")
      .groupBy($"len", $"maxq")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"))
  }

  /** Re-fold two dictionary states (standing ∪ delta): same best-q rule,
    * censuses at the same (len, maxq) point add. */
  private[graft] def skylineDictMerge(a: DataFrame, b: DataFrame): DataFrame = {
    import a.sparkSession.implicits._
    val all = a.unionByName(b)
    val perLen = all.groupBy($"len").agg(max($"maxq").as("m"))
    all.join(perLen, Seq("len"))
      .filter($"maxq" === $"m")
      .groupBy($"len", $"maxq")
      .agg(sum($"n_docs").as("n_docs"), min($"min_doc").as("min_doc"))
  }

  /** The skyline rule over a dictionary: keep (len, maxq) iff maxq
    * strictly exceeds the running best over all smaller lens. */
  private[graft] def skylineOfDict(dict: DataFrame): DataFrame = {
    import dict.sparkSession.implicits._
    val w = Window.orderBy($"len")
      .rangeBetween(Window.unboundedPreceding, -1)
    dict
      .withColumn("best_shorter", max($"maxq").over(w))
      .filter($"best_shorter".isNull || $"maxq" > $"best_shorter")
      .select($"len", $"maxq".as("quality_ppm"), $"n_docs", $"min_doc")
      .orderBy($"len")
  }

  def skylineDocs(s: SparkSession, dir: String): DataFrame =
    skylineOfDict(skylineDict(skylineScore(Tables.documents(s, dir))))

  /** Oracle states the DEFINITION (no dominating point exists), not the
    * sorted-scan identity — the two agreeing is exactly what the hash
    * gate should prove. */
  val skylineDocsSql: String =
    """WITH scored AS (
      |  SELECT doc_id, n_chars AS len,
      |    len(list_distinct(string_split(text, ' '))) * 1000000
      |      // len(string_split(text, ' ')) AS q
      |  FROM documents),
      |pts AS (
      |  SELECT len, MAX(q) AS maxq FROM scored GROUP BY len),
      |sky AS (
      |  SELECT p.len, p.maxq FROM pts p
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM pts d
      |    WHERE d.len <= p.len AND d.maxq >= p.maxq
      |      AND (d.len < p.len OR d.maxq > p.maxq)))
      |SELECT s.len, CAST(s.maxq AS BIGINT) AS quality_ppm,
      |  COUNT(*) AS n_docs, MIN(c.doc_id) AS min_doc
      |FROM sky s JOIN scored c ON c.len = s.len AND c.q = s.maxq
      |GROUP BY s.len, s.maxq ORDER BY s.len""".stripMargin

  // --- XC7: preference-pair assembly (RLHF/DPO data prep) ---------------

  /** Preference-pair assembly — the (chosen, rejected) example builder a
    * DPO/RLHF data pipeline runs after scoring: within each (lang,
    * source) stream, rank documents by an integer quality score and pair
    * the k-th BEST with the k-th WORST, keeping only pairs whose score
    * margin is strictly positive. Grouping by stream is the batch proxy
    * for "responses to the same prompt"; the pairing rule (best↔worst,
    * outside-in) maximizes each pair's margin, which is exactly what a
    * margin-based preference loss wants.
    *
    * Score: `stop_bp − punct_bp` — stopword density minus punctuation
    * density, both in integer basis points of the whitespace token count
    * (the [[TextQueries.qualityCol]] signal family, made ordinal). All
    * arithmetic is 64-bit integer on non-negative operands before the
    * final subtraction, so Spark `div` and DuckDB `//` agree bit-exactly.
    *
    * Scale shape: ONE corpus scan computes the score, and the WHOLE
    * query runs on ONE corpus exchange (verified in the formatted plan):
    * the rank and group-count windows stack over the same
    * hash-partition-by-(lang, source) sort, the descending rank is
    * derived as `cnt − rn + 1` rather than a second opposite-order
    * sort, and the pair is ASSEMBLED BY AGGREGATION on (lang, source,
    * k) — conditional max over the two pair members, never a self-join
    * back onto the corpus — where Catalyst reuses the window's
    * partitioning (the stream key is a prefix of the grouping key, so
    * EnsureRequirements inserts no second exchange). At 100 TB nothing
    * here is all-pairs; every intermediate row is one document. */
  def prefPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Ops.words($"text")
    val scored = Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"source",
        size(toks).cast(LongType).as("token_cnt"),
        (length($"text") -
          length(regexp_replace($"text", "[.,!?;:]", ""))).cast(LongType)
          .as("punct_cnt"),
        size(filter(toks, t =>
          TextQueries.stopwords.map(w => t === w).reduce(_ || _)))
          .cast(LongType).as("stop_cnt"))
      .select($"doc_id", $"lang", $"source",
        (expr("(stop_cnt * 10000) div token_cnt") -
          expr("(punct_cnt * 10000) div token_cnt")).as("score"))
    val byStream = Window.partitionBy($"lang", $"source")
    val asc = byStream.orderBy($"score".asc, $"doc_id".asc)
    val ranked = scored
      .withColumn("rn", row_number().over(asc))
      .withColumn("cnt", count(lit(1)).over(byStream))
      .withColumn("rd", $"cnt" - $"rn" + 1)
      .filter($"rn" =!= $"rd") // odd-group median pairs with nobody
      .withColumn("k", least($"rn", $"rd"))
    ranked
      .groupBy($"lang", $"source", $"k".as("pair_k"))
      .agg(
        max(when($"rd" === $"k", $"doc_id")).as("chosen_id"),
        max(when($"rd" === $"k", $"score")).as("chosen_bp"),
        max(when($"rn" === $"k", $"doc_id")).as("rejected_id"),
        max(when($"rn" === $"k", $"score")).as("rejected_bp"))
      .withColumn("margin_bp", $"chosen_bp" - $"rejected_bp")
      .filter($"margin_bp" > 0)
      .orderBy($"lang", $"source", $"pair_k")
  }

  val prefPairsSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, source,
       |    (len(list_filter(string_split(text, ' '),
       |       t -> ${TextQueries.inList("t", TextQueries.stopwords)})) * 10000)
       |      // len(string_split(text, ' '))
       |    - ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 10000)
       |      // len(string_split(text, ' ')) AS score
       |  FROM documents),
       |ranked AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY lang, source
       |      ORDER BY score ASC, doc_id ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang, source) AS cnt
       |  FROM scored),
       |paired AS (
       |  SELECT lang, source, LEAST(rn, cnt - rn + 1) AS pair_k,
       |    rn, cnt - rn + 1 AS rd, doc_id, score
       |  FROM ranked WHERE rn <> cnt - rn + 1)
       |SELECT lang, source, CAST(pair_k AS BIGINT) AS pair_k,
       |  MAX(CASE WHEN rd = pair_k THEN doc_id END) AS chosen_id,
       |  CAST(MAX(CASE WHEN rd = pair_k THEN score END) AS BIGINT) AS chosen_bp,
       |  MAX(CASE WHEN rn = pair_k THEN doc_id END) AS rejected_id,
       |  CAST(MAX(CASE WHEN rn = pair_k THEN score END) AS BIGINT) AS rejected_bp,
       |  CAST(MAX(CASE WHEN rd = pair_k THEN score END)
       |    - MAX(CASE WHEN rn = pair_k THEN score END) AS BIGINT) AS margin_bp
       |FROM paired
       |GROUP BY lang, source, pair_k
       |HAVING MAX(CASE WHEN rd = pair_k THEN score END)
       |     - MAX(CASE WHEN rn = pair_k THEN score END) > 0
       |ORDER BY lang, source, pair_k""".stripMargin

  // --- XC9: classifier calibration (reliability diagram) -----------------

  /** XC9 — CALIBRATION audit of the distilled quality classifier, the
    * reliability diagram an ML-ops pass reads before trusting the
    * model's scores as probabilities (a classifier can agree with its
    * teacher on the DECISION while its margins are wildly over- or
    * under-confident — and every downstream soft-threshold, mixture
    * weight, or active-learning pick consumes the margin, not the
    * decision). Documents are bucketed by logit (score + bias) in whole
    * log-units, clamped to ±10; per bucket: the EMPIRICAL weak-label
    * pass rate vs the logistic PREDICTED probability at the bucket's
    * floor, both in ppm, and the absolute gap.
    *
    * Determinism: bucketing is floor division via the shift identity
    * (`(logit + 10¹²) div 10⁶ − 10⁶` — both engines truncate, the shift
    * makes truncation == floor, so bucket edges are uniform [k, k+1));
    * `pred_ppm = floor(10⁶·σ(k))` quantizes the one libm call per
    * BUCKET (≤ 21 of them), the weight-table discipline applied again.
    *
    * Scale: one pass over the scored relation (the XC2 chain: corpus
    * streams once against the broadcast weight table), a ≤21-group
    * aggregate, single-row bias broadcasts — audit cost is the scoring
    * pass it would piggyback on anyway. */
  def qualityCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val model = nbTrain(docs)
    val bias = model.filter($"tok" === BiasKey).select($"w".as("bias"))
    nbScore(docs, model)
      .crossJoin(broadcast(bias))
      .select($"y", least(greatest(
        expr("(s + bias + 1000000000000) div 1000000 - 1000000"),
        lit(-10L)), lit(10L)).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"y").as("n_pass"))
      .select($"bucket", $"n_docs", $"n_pass",
        expr("(n_pass * 1000000) div n_docs").as("emp_ppm"),
        floor(lit(1000000.0) / (lit(1.0) + exp(-$"bucket".cast(DoubleType))))
          .cast(LongType).as("pred_ppm"))
      .withColumn("gap_ppm", abs($"pred_ppm" - $"emp_ppm"))
      .orderBy($"bucket")
  }

  val qualityCalibrationSql: String =
    s"""WITH $nbCtesSql,
       |bucketed AS (
       |  SELECT y, LEAST(GREATEST(
       |    (s + (SELECT bias FROM prior) + 1000000000000) // 1000000
       |      - 1000000, -10), 10) AS bucket
       |  FROM scored),
       |agg AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(y) AS BIGINT) AS n_pass
       |  FROM bucketed GROUP BY bucket)
       |SELECT bucket, n_docs, n_pass,
       |  (n_pass * 1000000) // n_docs AS emp_ppm,
       |  CAST(floor(1000000 / (1 + exp(-CAST(bucket AS DOUBLE)))) AS BIGINT)
       |    AS pred_ppm,
       |  abs(CAST(floor(1000000 / (1 + exp(-CAST(bucket AS DOUBLE)))) AS BIGINT)
       |    - (n_pass * 1000000) // n_docs) AS gap_ppm
       |FROM agg ORDER BY bucket""".stripMargin

  // --- XC13: quality-prune frontier ---------------------------------------

  /** XC13 — the PRUNE FRONTIER: what a quality threshold actually costs.
    * For every classifier-logit threshold (the XC9 whole-log-unit
    * buckets, clamped ±10), the cumulative retention if every document
    * scoring BELOW it is dropped: docs and char mass kept (absolute and
    * basis points of corpus) and the weak-label pass rate among the
    * kept — the quality-lift-vs-data-loss curve a curator reads to place
    * the cut. Complements XC9 (is the margin calibrated?) with the
    * decision view (what does each cut keep?).
    *
    * Scale: the scoring pass is the XC2 chain (corpus streams once
    * against the broadcast weight table); everything after is a ≤21-row
    * logit-bucket dictionary — the suffix-cumulative window runs on those
    * 21 rows, never on corpus data. */
  def pruneFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val model = nbTrain(docs)
    val bias = model.filter($"tok" === BiasKey).select($"w".as("bias"))
    val perBucket = nbScore(docs, model)
      .crossJoin(broadcast(bias))
      .withColumn("bucket", least(greatest(
        expr("(s + bias + 1000000000000) div 1000000 - 1000000"),
        lit(-10L)), lit(10L)))
      .join(docs.select($"doc_id", $"n_chars"), "doc_id")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("bchars"),
        sum($"y").as("n_pass"))
    val w = Window.orderBy($"bucket".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perBucket.agg(sum($"n_docs").as("tot_docs"),
      sum($"bchars").as("tot_chars"))
    perBucket
      .withColumn("docs_kept", sum($"n_docs").over(w))
      .withColumn("chars_kept", sum($"bchars").over(w))
      .withColumn("pass_kept", sum($"n_pass").over(w))
      .crossJoin(broadcast(tot))
      .select($"bucket".as("threshold_bucket"), $"docs_kept", $"chars_kept",
        expr("docs_kept * 10000 div tot_docs").as("docs_kept_bp"),
        expr("chars_kept * 10000 div tot_chars").as("chars_kept_bp"),
        expr("pass_kept * 1000000 div docs_kept").as("pass_ppm_kept"))
      .orderBy($"threshold_bucket")
  }

  val pruneFrontierSql: String =
    s"""WITH $nbCtesSql,
       |pbuck AS (
       |  SELECT sc.doc_id,
       |    LEAST(GREATEST((sc.s + (SELECT bias FROM prior) + 1000000000000)
       |      // 1000000 - 1000000, -10), 10) AS bucket,
       |    sc.y, d.n_chars
       |  FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id),
       |pagg AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS bchars,
       |    CAST(SUM(y) AS BIGINT) AS n_pass
       |  FROM pbuck GROUP BY bucket),
       |pcum AS (
       |  SELECT bucket,
       |    CAST(SUM(n_docs) OVER (ORDER BY bucket DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS docs_kept,
       |    CAST(SUM(bchars) OVER (ORDER BY bucket DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS chars_kept,
       |    CAST(SUM(n_pass) OVER (ORDER BY bucket DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS pass_kept
       |  FROM pagg),
       |ptot AS (
       |  SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
       |    CAST(SUM(bchars) AS BIGINT) AS tot_chars
       |  FROM pagg)
       |SELECT bucket AS threshold_bucket, docs_kept, chars_kept,
       |  CAST(docs_kept * 10000 // tot_docs AS BIGINT) AS docs_kept_bp,
       |  CAST(chars_kept * 10000 // tot_chars AS BIGINT) AS chars_kept_bp,
       |  CAST(pass_kept * 1000000 // docs_kept AS BIGINT) AS pass_ppm_kept
       |FROM pcum, ptot ORDER BY threshold_bucket""".stripMargin

  // --- XC12: content-distribution drift (KL / TV between crawl cohorts) --

  /** Content-level distribution drift between two crawl cohorts — the
    * "did the corpus itself change" gate that fires even when the
    * source/language MIX is stable (the complement of `q_mix_drift`,
    * which watches categorical shares): per language, the KL divergence
    * (both directions) and total-variation distance between the two
    * cohorts' hashed-unigram distributions, over the same
    * [[DsirBuckets]] feature space DSIR selects with. A retrained model
    * inherits whatever drift this reports; run it crawl-over-crawl
    * before committing a refresh.
    *
    * Integer discipline: bucket probabilities are exact integer ppm
    * (Laplace-smoothed, so every log is defined); each KL term quantizes
    * its ONE libm log to micro-nats and accumulates as BIGINT — KL is
    * reported in micro-nats, TV in ppm, both exact integer sums.
    *
    * Scale: one scan computes gram occurrences; the per-(lang, bucket)
    * aggregate holds BOTH cohort counts in one row (conditional sums —
    * no outer join over the grid); everything after runs on the
    * |langs|·[[DsirBuckets]]-row table. */
  def corpusDrift(s: SparkSession, dir: String): DataFrame =
    corpusDriftOf(Tables.documents(s, dir))

  /** [[corpusDrift]] over an arbitrary (doc_id, lang, text) relation —
    * factored for the ContractAndPropertySpec reference pin. */
  private[graft] def corpusDriftOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val cnts = docs
      .select($"lang", ($"doc_id" % 2).as("coh"),
        explode(Ops.words($"text")).as("gram"))
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(gram), 1, 12), 16, 10) AS BIGINT)")
          % DsirBuckets)
      .groupBy($"lang", $"bucket")
      .agg(sum(when($"coh" === 0, 1L).otherwise(0L)).as("cnt_a"),
        sum(when($"coh" === 1, 1L).otherwise(0L)).as("cnt_b"))
    val tots = cnts.groupBy($"lang")
      .agg(sum($"cnt_a").as("ta"), sum($"cnt_b").as("tb"))
    val nd = docs.groupBy($"lang")
      .agg(sum(when($"doc_id" % 2 === 0, 1L).otherwise(0L)).as("n_docs_a"),
        sum(when($"doc_id" % 2 === 1, 1L).otherwise(0L)).as("n_docs_b"))
    cnts.join(broadcast(tots), "lang")
      .select($"lang",
        expr(s"(cnt_a + 1) * 1000000 div (ta + $DsirBuckets)").as("pa_u"),
        expr(s"(cnt_b + 1) * 1000000 div (tb + $DsirBuckets)").as("pb_u"))
      .select($"lang", $"pa_u", $"pb_u",
        expr("CAST(floor(ln(CAST(pa_u AS DOUBLE) / pb_u) * 1000000) AS BIGINT)")
          .as("lr_ab_u"),
        expr("CAST(floor(ln(CAST(pb_u AS DOUBLE) / pa_u) * 1000000) AS BIGINT)")
          .as("lr_ba_u"))
      .groupBy($"lang")
      .agg(
        // the quantized KL sum can dip NEGATIVE near zero drift (floor'd
        // log terms undershoot) — fine for int division: Spark `div` and
        // DuckDB `//` BOTH truncate toward zero on integers
        expr("sum(pa_u * lr_ab_u) div 1000000").as("kl_ab_u"),
        expr("sum(pb_u * lr_ba_u) div 1000000").as("kl_ba_u"),
        expr("sum(abs(pa_u - pb_u)) div 2").as("tv_ppm"))
      .join(broadcast(nd), "lang")
      .select($"lang", $"n_docs_a", $"n_docs_b",
        $"kl_ab_u", $"kl_ba_u", $"tv_ppm")
      .orderBy($"lang")
  }

  val corpusDriftSql: String =
    s"""WITH cnts AS (
       |  SELECT lang,
       |    CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) % $DsirBuckets
       |      AS bucket,
       |    CAST(SUM(CASE WHEN coh = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
       |    CAST(SUM(CASE WHEN coh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
       |  FROM (SELECT lang, doc_id % 2 AS coh,
       |          unnest(string_split(text, ' ')) AS g FROM documents)
       |  GROUP BY 1, 2),
       |tots AS (
       |  SELECT lang, CAST(SUM(cnt_a) AS BIGINT) AS ta,
       |    CAST(SUM(cnt_b) AS BIGINT) AS tb
       |  FROM cnts GROUP BY 1),
       |nd AS (
       |  SELECT lang,
       |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_docs_a,
       |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_docs_b
       |  FROM documents GROUP BY 1),
       |probs AS (
       |  SELECT c.lang,
       |    (cnt_a + 1) * 1000000 // (ta + $DsirBuckets) AS pa_u,
       |    (cnt_b + 1) * 1000000 // (tb + $DsirBuckets) AS pb_u
       |  FROM cnts c JOIN tots t ON c.lang = t.lang),
       |terms AS (
       |  SELECT lang, pa_u, pb_u,
       |    CAST(floor(ln(CAST(pa_u AS DOUBLE) / pb_u) * 1000000) AS BIGINT)
       |      AS lr_ab_u,
       |    CAST(floor(ln(CAST(pb_u AS DOUBLE) / pa_u) * 1000000) AS BIGINT)
       |      AS lr_ba_u
       |  FROM probs),
       |kl AS (
       |  SELECT lang,
       |    CAST(SUM(pa_u * lr_ab_u) // 1000000 AS BIGINT) AS kl_ab_u,
       |    CAST(SUM(pb_u * lr_ba_u) // 1000000 AS BIGINT) AS kl_ba_u,
       |    CAST(SUM(abs(pa_u - pb_u)) // 2 AS BIGINT) AS tv_ppm
       |  FROM terms GROUP BY 1)
       |SELECT k.lang, n.n_docs_a, n.n_docs_b, k.kl_ab_u, k.kl_ba_u, k.tv_ppm
       |FROM kl k JOIN nd n ON k.lang = n.lang
       |ORDER BY k.lang""".stripMargin

  // --- XC11: quality-model cohort drift audit ----------------------------

  /** Cohort drift audit of the distilled quality classifier — the
    * tokenizer-drift pattern ([[TextQueries.tokenizerDrift]]) applied to
    * the XC2 model: train one model per disjoint cohort (doc_id parity),
    * score the FULL corpus with both, and report where the two models
    * disagree. This is the pre-deployment check for a retrained quality
    * filter: a high `disagree_bp` in one language means the new model
    * would reshape that slice of the corpus, flagging it for review
    * before the filter swap.
    *
    * Scale: two training passes (each a token hash-agg + broadcast-sized
    * weight table), two scoring passes that stream the corpus against
    * broadcast weights, one doc-keyed equi-join of the two verdict
    * relations, tiny per-lang rollup. Cost = 2× the XC2 scoring pass. */
  def qualityDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val sa = nbScore(docs, nbTrain(docs.filter($"doc_id" % 2 === 0)))
      .select($"doc_id", $"lang", $"y", $"m".as("m_a"))
    val sb = nbScore(docs, nbTrain(docs.filter($"doc_id" % 2 === 1)))
      .select($"doc_id", $"m".as("m_b"))
    sa.join(sb, Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"y").as("n_rule_pass"),
        sum($"m_a").as("n_pass_a"),
        sum($"m_b").as("n_pass_b"),
        sum(($"m_a" === $"m_b").cast(LongType)).as("n_agree"))
      .withColumn("disagree_bp",
        expr("(10000 * (n_docs - n_agree)) div n_docs"))
      .orderBy($"lang")
  }

  val qualityDriftSql: String =
    s"""WITH ${nbCtesSqlFor("ca", "doc_id % 2 = 0")},
       |${nbCtesSqlFor("cb", "doc_id % 2 = 1")},
       |clsa AS (
       |  SELECT doc_id, lang, y,
       |    CASE WHEN s + (SELECT bias FROM priorca) > 0 THEN 1 ELSE 0 END
       |      AS m_a
       |  FROM scoredca),
       |clsb AS (
       |  SELECT doc_id,
       |    CASE WHEN s + (SELECT bias FROM priorcb) > 0 THEN 1 ELSE 0 END
       |      AS m_b
       |  FROM scoredcb)
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(y) AS BIGINT) AS n_rule_pass,
       |  CAST(SUM(m_a) AS BIGINT) AS n_pass_a,
       |  CAST(SUM(m_b) AS BIGINT) AS n_pass_b,
       |  CAST(SUM(CASE WHEN m_a = m_b THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  (10000 * (COUNT(*)
       |    - CAST(SUM(CASE WHEN m_a = m_b THEN 1 ELSE 0 END) AS BIGINT)))
       |    // COUNT(*) AS disagree_bp
       |FROM clsa JOIN clsb USING (doc_id) GROUP BY lang ORDER BY lang""".stripMargin

  // --- XC10: DSIR importance-weighted data selection ---------------------

  /** DSIR-style data selection: score every candidate document by the
    * log importance ratio of a TARGET feature distribution (here: the
    * `en` sub-corpus, standing in for the curated high-quality target
    * set) over the RAW candidate distribution, with features = word
    * unigrams hashed into [[DsirBuckets]] buckets, Laplace-smoothed.
    * A candidate is selected when its summed log-ratio is positive —
    * "looks more like the target than like the raw pool" — the
    * deterministic threshold form of DSIR's importance resampling
    * (the sampled form adds Gumbel noise to the same weights; a
    * threshold keeps both engines exact).
    *
    * Weight-table discipline (the XC2 idiom): per-bucket log
    * probabilities are quantized ONCE into integer micro-units
    * (`floor(ln(·)·10⁶)`) in the ≤128-row bucket table, so every
    * per-document quantity is an exact BIGINT sum — cross-engine
    * drift is confined to the bucket table's one libm call per row.
    *
    * Scale: one scan of the corpus computes gram occurrences; the two
    * distributions are ≤128-row aggregates (broadcast back); per-doc
    * scoring is ONE hash aggregate on doc_id. No global sort/window —
    * the selection rule is a per-row threshold, embarrassingly
    * parallel at any corpus size. */
  /** Trained DSIR artifact: the ≤[[DsirBuckets]]-row (bucket, w_u)
    * integer log-ratio table (in deployment: persisted via
    * `ArtifactStore` and re-resolved per micro-batch by the admission
    * stream). */
  private[graft] def dsirScores(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val grams = docs.select($"lang",
        explode(Ops.words($"text")).as("gram"))
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(gram), 1, 12), 16, 10) AS BIGINT)")
          % DsirBuckets)
    val tgt = grams.filter($"lang" === "en")
      .groupBy($"bucket").agg(count(lit(1)).as("n_t"))
    val raw = grams.filter($"lang" =!= "en")
      .groupBy($"bucket").agg(count(lit(1)).as("n_s"))
    // every candidate bucket exists in `raw`; absent target buckets
    // smooth to n_t = 0 via the left join
    raw.join(tgt, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_t"))
      .crossJoin(broadcast(raw.agg(sum($"n_s").as("tot_s"))))
      .crossJoin(broadcast(tgt.agg(sum($"n_t").as("tot_t"))))
      .select($"bucket",
        (floor(log(($"n_t" + 1).cast(DoubleType)
          / ($"tot_t" + lit(DsirBuckets))) * 1000000L)
          - floor(log(($"n_s" + 1).cast(DoubleType)
            / ($"tot_s" + lit(DsirBuckets))) * 1000000L))
          .cast(LongType).as("w_u"))
  }

  /** Score candidate docs against a TRAINED bucket table — one NARROW
    * per-row pass: the weight table rides as a broadcast single-row map
    * and each doc folds its own token array through it (no explode, no
    * per-gram shuffle), so the same code is the stateless streaming
    * admission filter ([[graft.streaming.StreamJobs.dsirAdmitStream]]).
    * A gram whose bucket the table never saw contributes 0, exactly the
    * inner-join semantics of the per-gram formulation. */
  private[graft] def dsirScoreOf(docs: DataFrame, scores: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val wmap = scores
      .agg(map_from_entries(collect_list(struct($"bucket", $"w_u"))).as("wmap"))
    docs.filter($"lang" =!= "en")
      .crossJoin(broadcast(wmap))
      .withColumn("logw_u", expr(
        s"""aggregate(split(text, ' '), 0L, (acc, g) -> acc + coalesce(
           |  element_at(wmap,
           |    CAST(conv(substring(md5(g), 1, 12), 16, 10) AS BIGINT)
           |      % $DsirBuckets), 0L))""".stripMargin))
      .select($"doc_id", $"lang", $"source", $"logw_u",
        ($"logw_u" > 0).cast(LongType).as("admit"))
  }

  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    dsirScoreOf(docs, dsirScores(docs))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_cand"),
        sum($"admit").as("n_sel"),
        sum(when($"logw_u" > 0, $"logw_u").otherwise(0L)).as("sum_sel_logw"))
      .withColumn("sel_bp", expr("(10000 * n_sel) div n_cand"))
      .orderBy($"lang", $"source")
  }

  val dsirSelectSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, lang, source,
       |    CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) % $DsirBuckets
       |      AS bucket
       |  FROM (SELECT doc_id, lang, source,
       |          unnest(string_split(text, ' ')) AS g FROM documents)),
       |tgt AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_t FROM grams
       |  WHERE lang = 'en' GROUP BY 1),
       |raw AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_s FROM grams
       |  WHERE lang <> 'en' GROUP BY 1),
       |tot AS (
       |  SELECT (SELECT CAST(SUM(n_t) AS BIGINT) FROM tgt) AS tot_t,
       |         (SELECT CAST(SUM(n_s) AS BIGINT) FROM raw) AS tot_s),
       |scores AS (
       |  SELECT raw.bucket,
       |    CAST(floor(ln(CAST(COALESCE(tgt.n_t, 0) + 1 AS DOUBLE)
       |        / (tot_t + $DsirBuckets)) * 1000000) AS BIGINT)
       |      - CAST(floor(ln(CAST(raw.n_s + 1 AS DOUBLE)
       |        / (tot_s + $DsirBuckets)) * 1000000) AS BIGINT) AS w_u
       |  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket CROSS JOIN tot),
       |perdoc AS (
       |  SELECT g.doc_id, g.lang, g.source,
       |    CAST(SUM(s.w_u) AS BIGINT) AS logw_u
       |  FROM grams g JOIN scores s ON g.bucket = s.bucket
       |  WHERE g.lang <> 'en'
       |  GROUP BY 1, 2, 3)
       |SELECT lang, source, COUNT(*) AS n_cand,
       |  CAST(SUM(CASE WHEN logw_u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
       |  CAST(SUM(CASE WHEN logw_u > 0 THEN logw_u ELSE 0 END) AS BIGINT)
       |    AS sum_sel_logw,
       |  (10000 * CAST(SUM(CASE WHEN logw_u > 0 THEN 1 ELSE 0 END) AS BIGINT))
       |    // COUNT(*) AS sel_bp
       |FROM perdoc GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q_corpus_drift", corpusDrift, Some(corpusDriftSql),
      "XC12 content-distribution drift between crawl cohorts: per-lang KL (micro-nats) + TV (ppm) over hashed unigram buckets"),
    QueryDef("q_quality_drift", qualityDrift, Some(qualityDriftSql),
      "XC11 cohort drift audit of the distilled quality model: parity-trained twins scored on the full corpus"),
    QueryDef("q_dsir_select", dsirSelect, Some(dsirSelectSql),
      "XC10 DSIR importance-weighted selection: hashed-unigram target/raw log-ratio, integer weight table, threshold select"),
    QueryDef("q_quality_calibration", qualityCalibration,
      Some(qualityCalibrationSql),
      "XC9 reliability diagram of the distilled classifier: logit buckets, empirical vs logistic ppm, gap"),
    QueryDef("q_prune_frontier", pruneFrontier, Some(pruneFrontierSql),
      "XC13 quality-prune frontier: cumulative docs/chars retained and weak-label pass rate per logit threshold"),
    QueryDef("q_pref_pairs", prefPairs, Some(prefPairsSql),
      "XC7 preference-pair assembly: outside-in best/worst pairing per stream with positive margin"),
    QueryDef("q_skyline_docs", skylineDocs, Some(skylineDocsSql),
      "XC6 Pareto/skyline curation frontier: non-dominated (quality, length) docs via length-dictionary window"),
    QueryDef("q_contrastive_pairs", contrastivePairs, Some(contrastivePairsSql),
      "XC5 contrastive pair assembly: near-dup positives + md5-deterministic filtered random negatives"),
    QueryDef("q_corpus_report", corpusReport, Some(corpusReportSql),
      "XC4 dataset-card rollup per source: volume, languages, dup/quality rates, exact median length"),
    QueryDef("q_k_anonymity", kAnonymity, Some(kAnonymitySql),
      "XC3 k-anonymity release audit: under-k quasi-identifier classes and docs at risk per language"),
    QueryDef("q_pipeline_curate", curate, Some(curateSql),
      "composed curation pipeline: quality -> exact dedup -> near-dup, stage-attributed"),
    QueryDef("q_quality_classifier", qualityClassifier, Some(qualityClassifierSql),
      "XC2 weak-label-distilled integer token-weight quality classifier with agreement audit"))
}
