package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract meta-checks over the whole query registry + the driver entry. */
class RegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("query names are unique and oracle keys are a subset of queries") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size === names.size)
    val q = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(q))
    assert(q.size === names.size)
  }

  test("no oracle SQL leaks stripMargin artifacts or unresolved interpolation") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("stripMargin"), name)
      // a '||' continuation line that lost one pipe to stripMargin starts
      // with a single '|' — legitimate lines may start with '||' (concat)
      // or contain '|' inside regex/string literals, never start with '| '
      sql.linesIterator.foreach { line =>
        val t = line.trim
        assert(!(t.startsWith("|") && !t.startsWith("||")),
          s"$name may have a lost margin pipe: $line")
      }
    }
  }

  test("no oracle SQL interpolates a zero modulus/divisor (val init order)") {
    // Scala initializes object vals in declaration order: an oracle `val`
    // that interpolates a constant declared BELOW it bakes 0 into the SQL
    // while the Spark side (a def, evaluated at call time) sees the real
    // value — the engines silently disagree (caught live in q_corpus_drift:
    // `% 0` nulled every bucket). Degenerate `% 0` / `// 0` / `div 0`
    // never appears in a legitimate oracle.
    val zeroDiv = "(%|//|\\bdiv)\\s*0(?![0-9xX.])".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val hits = zeroDiv.findAllMatchIn(sql).map(m =>
        sql.substring(math.max(0, m.start - 30), m.end)).toList
      assert(hits.isEmpty, s"$name interpolated a zero divisor: $hits")
    }
  }

  test("every registered query name is documented in SURVEY.md") {
    // SURVEY §8 is the human-facing coverage ledger; this keeps it honest
    // by machine — a query landing without its SURVEY line fails here.
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val missing = Registry.all.map(_.name).filterNot(survey.contains)
    assert(missing.isEmpty,
      s"queries missing from SURVEY.md: ${missing.mkString(", ")}")
    // and the check itself must be able to fail: a name not in the
    // registry (nor SURVEY) is correctly reported missing
    val synthetic = "q_registry_spec_synthetic_omission"
    assert(!survey.contains(synthetic))
    assert((Registry.all.map(_.name) :+ synthetic)
      .filterNot(survey.contains) === Seq(synthetic))
  }

  test("no undeclared cartesian/nested-loop join in any declared query") {
    // Intentional bounded-build-side broadcast NLJs (documented in-source):
    //  - knnBrute: tiny query batch × corpus is the brute-force baseline
    //  - knnIvf: constant-K centroid set × corpus is the assignment pass
    //  - asOfDailyState: key × day grid; days is calendar-bounded, not
    //    corpus-proportional
    //  - textTfidf: single-row n_docs aggregate crossed onto scored terms
    //  - knnSq8: tiny query batch × corpus int8-code scan (same shape as
    //    knnBrute; the exact re-rank after it touches only ≤ C·|Q| rows)
    //  - textHeavyHitters: single-row CMS sketch crossed onto 10 rows
    //  - tsInterpolate: same key × calendar-bounded day grid as
    //    asOfDailyState
    //  - mixWeighted: single-row t_max aggregate crossed onto the |langs|
    //    factor table (same shape as textTfidf)
    val allowBnlj = Set("q_sim_knn_brute", "q_sim_knn_ivf", "q_sim_knn_ivf2",
      "q_join_asof_state", "q_ts_interpolate", "q_text_tfidf",
      "q_sim_knn_sq8", "q_text_heavyhitters", "q_mix_weighted",
      // bounded single-row broadcast build side (max-key aggregate)
      "q_merge_upsert",
      // same single-row max-key broadcast as q_merge_upsert (the CDC
      // insert branch derives net-new keys past the actual max)
      "q_cdc_apply",
      // K=16 broadcast centroid table crossed for k-means assignment,
      // same class as q_sim_knn_ivf2 (whose index it shares)
      "q_dedup_semantic",
      // single-row corpus-stats aggregate (N, avgdl) crossed onto the
      // scored term rows — same class as q_text_tfidf
      "q_text_bm25",
      // single-row Σ-weight normalizer crossed onto the 5-row
      // allocation table — same class as q_mix_weighted
      "q_sample_neyman",
      // single-row (Σn, Σw) normalizer crossed onto the |langs| weight
      // table — same class as q_sample_neyman
      "q_mix_temperature",
      // bounded 20-row anchor batch crossed onto the corpus for negative
      // candidate generation — same class as knnBrute's query batch
      "q_contrastive_pairs",
      // 128-row broadcast PQ codebook crossed for encode/LUT, same class
      // as the IVF centroid assignment
      "q_sim_knn_pq",
      // single-row corpus-max-day aggregate crossed onto the daily
      // rollup — same class as q_merge_upsert's max key
      "q_decay_score",
      // single-row occupancy-stats aggregate crossed onto the cell
      // table for the scale-free density bar
      "q_geo_density",
      // single-row min-class-count aggregate crossed onto the ranked
      // docs — same class as q_decay_score
      "q_sample_balanced",
      // single-row basket-count aggregate crossed onto the 20
      // surviving pair rows — same class as q_text_tfidf
      "q_basket_lift",
      // single-row (total, n_hours) aggregate crossed onto the
      // hours-of-history-sized busy-hour dictionary — same class as
      // q_text_tfidf's n_docs broadcast
      "q_join_interval_overlap",
      // |priorities|-row broadcast grid crossed onto the calendar-
      // bounded month-pair table — same class as q_mix_weighted
      "q_mix_drift",
      // composes the ANN tiers above (brute/ivf/sq8/pq plans appear as
      // subplans) plus one single-row truth-count broadcast denominator
      "q_ann_eval",
      // K-row centroid assignment broadcast + brute-truth subplan, same
      // classes as q_sim_knn_ivf2 / q_ann_eval
      "q_ann_frontier",
      // PQ codebook/LUT broadcast + single-row truth-count denominator,
      // same classes as q_sim_knn_pq / q_ann_eval
      "q_ann_rerank_frontier",
      // single-row truth-count broadcast denominator, same class as
      // q_ann_eval
      "q_dedup_band_sweep",
      // census/assign-count single-row broadcasts + the brute-truth
      // subplan and K-row survivor dictionaries - the q_ann_eval classes
      "q_ann_pruned_recall",
      // per-budget 20-query broadcast batch x corpus brute arms + the
      // truth subplan - the q_sim_knn_brute / q_ann_eval classes
      "q_ann_matryoshka",
      // single-row winning-merge broadcast crossed onto the dictionary —
      // same class as q_merge_upsert's max key
      "q_bpe_merge",
      // the same single-row winning-merge broadcast, once per training
      // round (the composed multi-round form of q_bpe_merge)
      "q_bpe_train",
      // single-row totals broadcast crossed onto the key dictionary —
      // same class as q_geo_density's occupancy stats
      "q_skew_census",
      // three PQ arms: 32-row codebook broadcast onto the corpus (the
      // q_sim_knn_pq class) + 1-row permutation-array broadcast + the
      // single-row truth-count denominator of the eval class
      "q_ann_opq",
      // 32-row codebook broadcast for the query-side LUT + the brute
      // subplans' classes — candidates themselves come from an equi-join
      // on the probed lists, never a loop join
      "q_sim_knn_ivfpq",
      // ONE single-row broadcast of the whole ordered merge table crossed
      // onto the doc scan (the q_bpe_merge class); everything else in the
      // plan is a narrow per-row fused fold
      "q_tokens_per_doc",
      // the same single-row merge-table broadcast, aggregated per
      // language — the q_tokens_per_doc class
      "q_bpe_fertility",
      // the same single-row merge-table broadcast feeding the packer's
      // window — the q_tokens_per_doc class
      "q_pack_exact_tokens",
      // single-row alphabet-count broadcast crossed onto the (tiny)
      // merge table — the q_bpe_merge class
      "q_bpe_vocab",
      // merge-table broadcast (q_tokens_per_doc class) + the vocab's
      // alphabet-count broadcast; the vocab lookup itself is a broadcast
      // HASH equi-join on token
      "q_token_ids",
      // the composed assembly pipeline carries the same single-row
      // merge-table broadcast through its token-counting stage
      "q_pipeline_corpus",
      // the manifest reads the same single-row merge-table broadcast
      "q_pack_manifest",
      // (q_span_scrub left this list in round 18: its ~MB hot-span set is
      // now a collected literal — a megabyte-payload single-row cross
      // join materializes the array per row, 20× at the 10× tier)
      // single-row adaptive-nprobe broadcast crossed onto the probe
      // ranking (the selectivity measurement) — the q_ann_eval
      // denominator class; candidates still come from the list equi-join
      "q_sim_knn_filtered",
      // the same single-row nprobe/selectivity broadcast per predicate
      // tier + the single-row truth-count denominator of the eval class
      "q_sim_knn_filtered_audit",
      // single-row truth-count broadcast denominator over the survivor
      // truth — the q_ann_eval class
      "q_ann_delete_eval",
      // single-row global-budget + |domains|-weight-sum broadcasts
      // crossed onto the ranked scan — the accepted single-row class;
      // the rank/cumsum window is a hash partition on the domain key
      "q_mix_sample",
      // the BM25 arm's single-row corpus-stats broadcast (the
      // q_text_bm25 class); both arms and the fusion are equi-joins
      "q_retrieval_hybrid",
      // single-row delta-threshold broadcast crossed onto the scan;
      // the state join is a broadcast HASH equi-join on the stream key
      "q_pack_incremental",
      // single-row vocab-totals + prior broadcasts (the training
      // normalizers); the weight lookup is a hash equi-join on token
      "q_quality_classifier",
      // the brute-truth arm streams the corpus against the 20-row
      // broadcast query batch (the q_sim_knn_brute class); the IVF arm
      // is equi-joins on the probed lists
      "q_ann_range",
      // both cohort trainings carry the per-round single-row top-merge
      // broadcast — the q_bpe_train class, twice
      "q_tokenizer_drift",
      // the same single-row bias broadcast as q_quality_classifier
      // (scoring + the logit re-attach), vocab-totals class
      "q_quality_calibration",
      // single-row (total, quality-total) normalizer crossed onto the
      // |langs| weight table — the q_mix_temperature class
      "q_mix_anneal",
      // the K x K (16x16) centroid alignment table: both sides are
      // constant-K broadcast artifacts — the q_sim_knn_ivf2 class
      "q_centroid_drift",
      // the frontier seek reads the same single-row merge-table
      // broadcast as the manifest it seeks into (q_tokens_per_doc class)
      "q_resume_position",
      // single-row hashed-unigram weight-table broadcast crossed onto
      // the doc scan — the per-row DSIR scoring fold (q_bpe_merge class)
      "q_dsir_select",
      // both parity cohorts' single-row NB model broadcasts crossed onto
      // the full-corpus scoring scan — the q_quality_classifier class
      "q_quality_drift",
      // the ranker's single-row corpus-stats broadcast (q_text_bm25
      // class) + the 20-row query-batch broadcast; the metric join on
      // (query, doc) is a hash equi-join
      "q_retrieval_eval",
      // two single-row totals broadcasts (corpus tokens/weight-mass,
      // then the re-offer round's spent/open-weight) crossed onto the
      // stream DICTIONARY — the q_mix_temperature class, twice
      "q_epoch_budget",
      // the XC2 scoring chain's single-row bias/vocab-totals broadcasts
      // plus the corpus-totals row crossed onto the ≤21-bucket frontier —
      // the q_quality_calibration class
      "q_prune_frontier",
      // the composed readiness report carries the merge-table broadcast
      // (q_tokens_per_doc class) plus the XP24 waterfill's two single-row
      // totals crossed onto the stream dictionary
      "q_train_readiness")
    val violations = Registry.all.flatMap { q =>
      val plan = q.fn(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      val cart =
        if (plan.contains("CartesianProduct")) Seq(s"${q.name}: CartesianProduct")
        else Seq.empty
      val bnlj =
        if (plan.contains("BroadcastNestedLoopJoin") && !allowBnlj(q.name))
          Seq(s"${q.name}: BroadcastNestedLoopJoin")
        else Seq.empty
      cart ++ bnlj
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("no corpus-sized single-partition Sort/Window in any declared query") {
    // THE canonical distributed scale-killer: an `Exchange SinglePartition`
    // feeding a Sort or Window funnels the relation through one task. A
    // single-partition exchange feeding a global HashAggregate (one output
    // row) is fine and common; the guard looks only at Sort/Window
    // consumers. Queries whose single-partition window provably runs over
    // a DICTIONARY (bounded, not corpus-sized) are allowlisted with the
    // bound stated.
    val allowDictWindow: Map[String, String] = Map(
      // skyline rule over the LENGTH dictionary (|distinct lens| rows)
      "q_skyline_docs" -> "length dictionary",
      // level-2 prefix sum over the SUPERBLOCK total dictionary only
      // (|corpus| / 2^20 rows — the block-level offsets are summed by a
      // hash-partitioned window of ≤1024 rows per superblock, r13)
      "q_global_row_ids" -> "superblock dictionary",
      // window totals over the |event_type| x |value-bucket| CELL grid
      "q_stats_contingency" -> "contingency cell grid",
      // ST6's frontier selection sorts the $1000-bucket winner dictionary
      // (value-range bounded; corpus rows were bucket-pruned before it)
      "q_skyline_pareto" -> "balance-bucket dictionary",
      // ranks the calendar-bounded month-pair x priority drift grid
      "q_mix_drift" -> "month-pair grid",
      // orders the 4-row permutation-arm recall summary
      "q_ann_opq" -> "variant-arm summary",
      // the pruning decision ranks the IVF_K(=16)-row cluster census
      "q_ann_pruned_recall" -> "cluster-census dictionary",
      // ranks the trained vocabulary (vocab-bounded, ~|merges|+alphabet)
      "q_bpe_vocab" -> "vocabulary",
      // the encoder's vocab: q_bpe_vocab's id ranking over the character
      // alphabet, extended by the merge table's rounds (vocab-bounded);
      // visible again since the pre-sort checkpoint leaf is gone
      "q_token_ids" -> "merge table",
      // the drift audit's running-overlap window runs over the
      // BpeTrainRounds-row merge comparison (merge-table bounded)
      "q_tokenizer_drift" -> "merge table",
      // the suffix-cumulative retention window over the ±10-clamped
      // logit-bucket dictionary (≤ 21 rows)
      "q_prune_frontier" -> "logit-bucket dictionary",
      // the three blocked-ntile offset prefix sums over the value-range
      // block dictionaries (day-range/16, |distinct f|, spend-range/2^20
      // rows); the corpus-side ranking windows are block-partitioned
      "q_rfm_segments" -> "value-range block dictionaries")
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan =
      p.getClass.getSimpleName match {
        case "WholeStageCodegenExec" | "InputAdapter" | "ProjectExec" |
             "FilterExec" | "ColumnarToRowExec" => unwrap(p.children.head)
        case _ => p
      }
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      val n = p.getClass.getSimpleName
      val hit =
        if (n == "SortExec" || n == "WindowExec" || n == "WindowGroupLimitExec")
          p.children.map(unwrap).collect {
            case e if e.getClass.getSimpleName == "ShuffleExchangeExec" &&
              e.outputPartitioning.toString == "SinglePartition" => n
          }
        else Seq.empty
      hit ++ p.children.flatMap(walk)
    }
    // AQE wraps the tree in AdaptiveSparkPlanExec (children = Nil), which
    // a tree walk cannot enter; this guard checks the STATIC shape, so
    // build the plans with AQE off (AQE can only merge partitions or swap
    // join strategies — it never introduces a single-partition window)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val violations = Registry.all.flatMap { q =>
        if (allowDictWindow.contains(q.name)) Seq.empty
        else walk(q.fn(spark, TestSpark.sf0001).queryExecution.executedPlan)
          .map(op => s"${q.name}: $op over Exchange SinglePartition")
      }
      assert(violations.isEmpty, violations.mkString("\n"))
      // the allowlisted dictionary windows genuinely plan that shape (the
      // allowlist is load-bearing, not dead)
      allowDictWindow.keys.foreach { name =>
        assert(walk(SparkEntry.queries(name)(spark, TestSpark.sf0001)
          .queryExecution.executedPlan).nonEmpty,
          s"$name no longer plans a single-partition window; drop it from the allowlist")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  // Shared by the two window-keyset guards below (declared plans +
  // memoized builds): every window partition keyset in any plan must
  // carry a stated bound here. A window partitioned on a content value
  // (a 40-char window string, its 8-byte fingerprint, a doc-content md5)
  // buffers EVERY row of one hot value in a single task — on a
  // boilerplate-heavy crawl that is a corpus-scale group on one reducer,
  // and unlike an aggregate it has no partial/combine escape and unlike
  // a join no AQE skew split. The r14 substring-dedup duplicate-window
  // count (`count(*) OVER (PARTITION BY win_h)`) was exactly this shape;
  // r15 rewrote it (and the md5/cluster canonical-pick windows) to
  // combine-capable groupBy + join-back. Keysets are the SORTED DISTINCT
  // attribute names referenced by the partition spec; a name's entry is
  // a review of ALL its uses.
  //
  // KNOWN LIMITATION (by name, not by origin): the keyset is matched by
  // attribute NAME, so a content value ALIASED to an allowed name — e.g.
  // md5(text).as("doc_id") — would pass the dictionary silently. The
  // declared-plans test below closes most of that hole with an
  // origin-expression resolver: any partition key whose defining
  // expression (followed through Alias chains in the plan subtree) is a
  // hash/fingerprint function must additionally appear in
  // hashOriginReviewed, whatever its alias says.
  private val boundedWindowKeys: Map[String, String] = Map(
      // --- entity keys: group = one entity's own rows ---
      "user_id" -> "per-user event history (sessionize/as-of/rolling grain)",
      "day,user_id" -> "per-user per-day slices",
      "event_type,user_id" -> "per-user per-type slices",
      "doc_id" -> "per-doc positions/terms, bounded by doc length",
      "vec_id" -> "per-vector candidate lists, bounded by K",
      "anchor_id" -> "per-anchor pair lists, bounded by pair caps",
      "o_custkey" -> "per-customer orders",
      "p_id" -> "per-purchase touch window (attribution lookback bound)",
      "k" -> "per-key CDC op log between compactions (4 synthetic ops)",
      // --- per-query ANN/retrieval relations: bounded by K x nprobe ---
      "q_id" -> "per-query candidate/recall lists (K-capped)",
      "nprobe,q_id" -> "per-query per-arm frontier sweep (K-capped)",
      "depth,q_id" -> "per-query per-depth rerank frontier (K-capped)",
      "query_id" -> "per-query retrieval run lists (K-capped)",
      // --- dictionary / grid / block keys: input pre-bounded ---
      "event_type" -> ("exact-stats tier over the 5-type dictionary " +
        "(documented approx/sketch twins are the 100-TB path) or " +
        "calendar-day per-type series"),
      "bucket,event_type" -> ("value-bucket x type grid (blocked exact " +
        "quantiles: group = one bucket's events)"),
      "prev_type" -> "transition-type grid (|type|^2 rows)",
      "o_orderpriority" -> ("5-value priority dictionary (W3 frame demo; " +
        "top-k twin plans map-side WindowGroupLimit)"),
      "lang" -> "language dictionary over per-lang series/grids",
      "source" -> "source dictionary over per-source census rows",
      "lang,source" -> ("stream dictionary; packing is per-stream " +
        "sequential by definition (blocked prefix-sum a la " +
        "q_global_row_ids is the 100-TB path)"),
      "bin,lang,source" -> ("pack bins: rows per bin capped by the token " +
        "budget"),
      "epoch" -> ("epoch dictionary: q_mix_anneal over the lang x epoch " +
        "grid; q_pack_shuffle over the bin manifest (corpus_tokens / " +
        "PACK_BUDGET rows per epoch — the global-permutation semantics; " +
        "blocked two-level rewrite is the 100-TB path)"),
      "strategy" -> "strategy x shard census grid",
      "bal_c" -> "balance-bucket dictionary (skyline frontier)",
      "blk" -> "q_global_row_ids level-1 block offsets (<=1024/superblock)",
      "sblk" -> "q_global_row_ids superblock dictionary",
      "__f_q_blk" -> "rfm value-range block dictionary",
      "__m_q_blk" -> "rfm value-range block dictionary",
      "__r_q_blk" -> "rfm value-range block dictionary",
      "label" -> ("near-dup label census, rank<=3 plans map-side " +
        "WindowGroupLimit (partial top-k per partition)"),
      "bucket" -> "IVF bucket rank<=5 with map-side WindowGroupLimit",
      "chunk" -> "input pre-aggregated to (chunk, lang): group <= |lang|")

  // Partition keys whose ORIGIN expression is a hash/fingerprint of
  // content but whose group multiplicity is still bounded, each with the
  // review stating why. A keyset listed in boundedWindowKeys under an
  // innocent alias does NOT exempt a hash-derived key from this second
  // review — that alias blindness is exactly the hole the origin
  // resolver closes.
  private val hashOriginReviewed: Map[String, String] = Map.empty

  // Window keysets observed only inside MEMOIZED BUILD plans (never in a
  // declared post-checkpoint plan), reviewed separately so the declared
  // dictionary's stale check stays strict. Same contract: the entry
  // states the group multiplicity bound.
  private val memoBuildWindowKeys: Map[String, String] = Map(
    // pqEncode's per-(vector, subspace) codeword argmin: the window input
    // is the broadcast codebook join, so a group is exactly the PQ_K(=16)
    // candidate codewords of one vector's one subspace
    "m,vec_id" -> "PQ codeword candidates per (vector, subspace), = PQ_K")

  // Catalyst/graft expression classes whose output is a content hash or
  // fingerprint: a window partitioned on one of these has
  // unbounded-multiplicity content groups unless separately reviewed.
  private val hashExprClasses = Set(
    "Md5", "Sha1", "Sha2", "Crc32", "Murmur3Hash", "XxHash64", "HiveHash",
    "RollingHash64", "MinhashSig", "CdcChunks", "Sq8Code")

  // Origin resolution shared by the declared-plans (physical) and
  // memoized-builds (logical) guards: collect every Alias definition in
  // a plan's nodes, then decide whether an attribute traces to a
  // hash/fingerprint expression through a few Alias hops (each hop
  // crosses one Project/Aggregate; chains across an earlier checkpoint
  // LEAF are invisible here, but that earlier plan was itself audited
  // when IT was built — coverage composes).
  private def sourceFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val fs = walk(new java.io.File(root))
    assert(fs.nonEmpty, s"source scan found no files under $root (cwd?)")
    fs
  }

  private def readSrc(f: java.io.File): String = new String(
    java.nio.file.Files.readAllBytes(f.toPath),
    java.nio.charset.StandardCharsets.UTF_8)

  /** Code only: line comments and scaladoc lines stripped, so prose
    * mentions of a call don't count. */
  private def codeOf(f: java.io.File): String = readSrc(f).linesIterator
    .map(_.replaceAll("//.*$", ""))
    .filterNot(_.trim.startsWith("*"))
    .mkString("\n")

  private def aliasDefs(
      nodes: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]])
      : Map[Long, org.apache.spark.sql.catalyst.expressions.Expression] =
    nodes.flatMap(_.expressions).flatMap(_.collect {
      case a: org.apache.spark.sql.catalyst.expressions.Alias =>
        a.exprId.id -> a.child
    }).toMap

  private def tracesToHash(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      defs: Map[Long, org.apache.spark.sql.catalyst.expressions.Expression],
      depth: Int = 0): Boolean = {
    def isHashy(
        x: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      hashExprClasses.contains(x.getClass.getSimpleName) ||
        x.children.exists(isHashy)
    isHashy(e) || (depth < 6 && e.references.exists(r =>
      defs.get(r.exprId.id).exists(d => tracesToHash(d, defs, depth + 1))))
  }

  test("every window partition keyset is in the bounded-keys dictionary") {
    // Companion to the SinglePartition walk above, covering the class it
    // misses BY DESIGN: a WindowExec with a real hash distribution whose
    // PARTITION KEY is unbounded-multiplicity CONTENT (see the
    // boundedWindowKeys review comment). This guard makes the r15
    // discipline durable: the next content-key window fails the suite
    // the round it lands — by NAME through the dictionary, and by ORIGIN
    // through the hash-expression resolver (so aliasing a hash to an
    // allowed name doesn't slip through).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
    def partKeys(p: SparkPlan): Seq[Attribute] = p match {
      case w: WindowExec => w.partitionSpec.flatMap(_.references)
      case w: WindowGroupLimitExec => w.partitionSpec.flatMap(_.references)
      case _ => Seq.empty
    }
    def keysetOf(attrs: Seq[Attribute]): String =
      attrs.map(_.name).distinct.sorted.mkString(",")
    def keysets(p: SparkPlan): Seq[String] = {
      val here =
        if (partKeys(p).nonEmpty) Seq(keysetOf(partKeys(p))) else Seq.empty
      here ++ p.children.flatMap(keysets)
    }
    // Origin resolution (aliasDefs/tracesToHash, shared with the memo
    // audit): flag any partition-key attribute whose defining expression
    // lands on a hash/fingerprint class through Alias chains.
    def hashOriginKeysets(root: SparkPlan): Seq[(String, String)] = {
      def subtree(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(subtree)
      val nodes = subtree(root)
      val defs = aliasDefs(nodes)
      nodes.flatMap { n =>
        val ks = partKeys(n)
        ks.filter(a => defs.get(a.exprId.id).exists(d => tracesToHash(d, defs)))
          .map(a => keysetOf(ks) -> a.name)
      }
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // negative self-test: the r14 substring-dedup shape (count over a
      // window partitioned on the 40-char content string) must be
      // FLAGGED — proves the walker sees the banned class, so the
      // dictionary is doing the gating, not a blind walk. (Inside the
      // AQE-off scope: AdaptiveSparkPlanExec has no walkable children.)
      locally {
        import spark.implicits._
        import org.apache.spark.sql.functions._
        val badShape = Seq((1L, "abcdefgh"), (2L, "abcdefgh"))
          .toDF("doc_id", "text")
          .select($"doc_id", $"text".substr(lit(1), lit(4)).as("win"))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"win")))
        val badKeys = keysets(badShape.queryExecution.executedPlan)
        assert(badKeys.contains("win"),
          s"walker failed to extract the content-key window: $badKeys")
        assert(!boundedWindowKeys.contains("win"),
          "the banned content keyset must never gain a dictionary entry")
      }
      // negative self-test #2 (the alias blind spot): a content hash
      // ALIASED to an allowed entity-key name must be caught by the
      // origin resolver even though the NAME passes the dictionary
      locally {
        import spark.implicits._
        import org.apache.spark.sql.functions._
        // input must be non-foldable (spark.range, not a local Seq): a
        // LocalRelation literal would let ConstantFolding evaluate the
        // md5 at optimization time and erase the origin this test traces
        val aliased = spark.range(4)
          .select(md5($"id".cast("string")).as("doc_id"), $"id")
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
        val hits = hashOriginKeysets(aliased.queryExecution.executedPlan)
        assert(hits.exists(_._2 == "doc_id"),
          s"origin resolver failed to trace md5 through the doc_id alias: $hits")
        assert(boundedWindowKeys.contains("doc_id") &&
          !hashOriginReviewed.contains("doc_id"),
          "self-test premise: doc_id is dictionary-allowed by name only")
      }
      val plans = Registry.all.map(q =>
        q.name -> q.fn(spark, TestSpark.sf0001).queryExecution.executedPlan)
      val observed = plans.flatMap { case (name, plan) =>
        keysets(plan).distinct.map(ks => name -> ks)
      }
      val violations = observed.collect {
        case (name, ks) if !boundedWindowKeys.contains(ks) =>
          s"$name: window partitioned on unreviewed keyset [$ks] — state " +
            "its bound in boundedWindowKeys or rewrite to groupBy+join"
      }
      assert(violations.isEmpty, violations.mkString("\n"))
      val hashViolations = plans.flatMap { case (name, plan) =>
        hashOriginKeysets(plan).distinct.collect {
          case (ks, key) if !hashOriginReviewed.contains(ks) =>
            s"$name: window key '$key' (keyset [$ks]) is hash/fingerprint-" +
              "derived at its origin — review it in hashOriginReviewed or " +
              "rewrite to groupBy+join"
        }
      }
      assert(hashViolations.isEmpty, hashViolations.mkString("\n"))
      // the dictionary is load-bearing: a stale entry (no plan uses it)
      // fails, so removed windows can't leave dead allowlist rows behind
      val observedSets = observed.map(_._2).toSet
      val stale = boundedWindowKeys.keySet -- observedSets
      assert(stale.isEmpty,
        s"stale dictionary entries (no declared plan windows on them): $stale")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("memoized build plans keep window partitions inside the dictionary") {
    // The declared-plan walks above cannot see windows that hide behind
    // a memoized checkpoint: by the time a query's plan is walked, the
    // memoized artifact is a checkpoint LEAF and its build plan is gone
    // (the blind spot the r15 guard comment documented). GraftSession.ckpt
    // is the repo-wide materialization choke point — the source scan
    // below bans bare .localCheckpoint() everywhere else — so an auditor
    // installed there sees every build plan, including each ROUND of the
    // iterative builders (CC label propagation, BPE train, pointer-jump,
    // PageRank), at the moment it materializes. Residual, documented:
    // builds that materialize via a WRITE or a driver-side collect
    // (fmt_roundtrip's format landings) never hand a DataFrame to ckpt,
    // and cbo_stats is SQL DDL with no plan at all — both are narrow
    // projections/DDL reviewed by eye, listed in the forcers below so
    // the count check keeps this roster complete.
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    def logicalKeysets(p: LogicalPlan): Seq[String] =
      p.collect { case w: LWindow if w.partitionSpec.nonEmpty =>
        w.partitionSpec.flatMap(_.references.map(_.name))
          .distinct.sorted.mkString(",")
      }
    // the same alias-blind-spot closure as the declared-plans guard, on
    // the LOGICAL plan: a hash aliased to an allowed name inside a memo
    // build must be flagged by origin, not excused by its alias
    def logicalHashOrigins(p: LogicalPlan): Seq[(String, String)] = {
      val defs = aliasDefs(p.collect { case n => n })
      p.collect {
        case w: LWindow if w.partitionSpec.nonEmpty =>
          val ks = w.partitionSpec.flatMap(_.references)
          val keyset = ks.map(_.name).distinct.sorted.mkString(",")
          ks.filter(a =>
              defs.get(a.exprId.id).exists(d => tracesToHash(d, defs)))
            .map(a => keyset -> a.name)
      }.flatten
    }
    // --- source-level invariants that make the choke point complete ---
    val mainFiles = sourceFiles("src/main/scala")
    // (1) every materialization goes through ckpt: a localCheckpoint call
    // anywhere else, in any spelling, would reopen the blind spot this
    // test closes. GraftSession.scala keeps exactly one: ckpt's own.
    val ckptRe = """\.localCheckpoint\(""".r
    assert(Seq("df.localCheckpoint()", "df.localCheckpoint(false)",
        "df.localCheckpoint(eager = false,\n  storageLevel = DISK_ONLY)")
      .forall(ckptRe.findFirstIn(_).nonEmpty),
      "self-check: the pattern must catch every localCheckpoint spelling")
    val bareCkpt = mainFiles.filter { f =>
      ckptRe.findAllIn(codeOf(f)).size >
        (if (f.getName == "GraftSession.scala") 1 else 0)
    }.map(_.getPath)
    assert(bareCkpt.isEmpty,
      s"localCheckpoint call outside GraftSession.ckpt: $bareCkpt — " +
        "route it through GraftSession.ckpt so the plan auditor sees it")
    // (1b) one session factory: every main gets its session from
    // GraftSession.build, so confs and extensions cannot drift per main
    val builders = mainFiles
      .filterNot(_.getName == "GraftSession.scala")
      .filter(f => readSrc(f).contains("SparkSession.builder()"))
      .map(_.getPath)
    assert(builders.isEmpty,
      s"SparkSession.builder() outside GraftSession: $builders — use GraftSession.build")
    // (1c) query-side code behaves the same on any session: no env knobs
    val queryPkgs = Seq("analytics", "ext", "ingest", "streaming", "functions", "plans")
      .map(p => s"src/main/scala/graft/$p/")
    val envReads = mainFiles
      .filter(f => queryPkgs.exists(f.getPath.startsWith))
      .filter(f => readSrc(f).contains("sys.env"))
      .map(_.getPath)
    assert(envReads.isEmpty,
      s"sys.env read in query-side code: $envReads — take it as an argument or a session conf")
    // (1d) every test-lake table read goes through Tables.load, which
    // infers each table's schema once per session: a direct
    // read.parquet of a lake table would pay the inference job per build
    val lakeReadRe = """read\.parquet\(s"\$(dir|\{dir\})/""".r
    assert(lakeReadRe.findFirstIn("""spark.read.parquet(s"$dir/orders.parquet")""").nonEmpty &&
      lakeReadRe.findFirstIn("""s.read.parquet(s"${dir}/documents.parquet")""").nonEmpty)
    val lakeReads = mainFiles
      .filterNot(_.getName == "Tables.scala")
      .filter(f => lakeReadRe.findFirstIn(readSrc(f)).nonEmpty)
      .map(_.getPath)
    assert(lakeReads.isEmpty,
      s"direct read.parquet of a test-lake table: $lakeReads — use Tables.load")
    // ... and no query-side parquet read infers its schema at all: a
    // landed copy or fixture lake is read with its known schema
    val inferReadRe = """\.read\s*\.parquet\(""".r
    assert(Seq("s.read.parquet(dppFactsPath(s, dir))", "s.read.parquet(lakeDir)",
        "spark.read\n  .parquet(p)").forall(inferReadRe.findFirstIn(_).nonEmpty) &&
      inferReadRe.findFirstIn("s.read.schema(schema).parquet(p)").isEmpty,
      "self-check: the pattern must catch schema-less reads and only those")
    val inferReads = mainFiles
      .filter(f => Seq("analytics", "ext", "ingest")
        .exists(p => f.getPath.startsWith(s"src/main/scala/graft/$p/")))
      .filter(f => inferReadRe.findFirstIn(codeOf(f)).nonEmpty)
      .map(_.getPath)
    assert(inferReads.isEmpty,
      s"schema-less read.parquet in query-side code: $inferReads — " +
        "read with the known (or memoized) schema")
    // (2) every GraftSession.memo call site has a forcer below: a new
    // memo family must be added to the roster or this count fails
    // method name alone (r17): the old pattern keyed on the qualified
    // form plus the literal arg name `spark`, so a future site written
    // `memo(s, ...)` after an import — or split across lines — would be
    // silently exempt from the forcer roster and the window audit. Any
    // `memo(` call in main counts; only the definition line itself
    // (`def memo`) is excluded, so there is no spelling of a call site
    // that escapes the census. `memoOn` (memo under a table-content
    // key) call sites count the same; its own delegation to `memo` is
    // not a family, so its definition is cut before counting.
    val memoCallRe = """\bmemo(?:On)?\(""".r
    val memoOnDefRe = """(?s)\bdef\s+memoOn\b.*?\bmemo\(""".r
    assert(memoCallRe.findAllIn(memoOnDefRe.replaceAllIn(
        "def memoOn[A](s: S,\n  t: String*)(b: => A): A =\n  memo(s, k)(b)\n" +
          "memoOn(s, \"f\", dir, \"t\") {\nmemo(s, \"g|\" + k) {", "")).size == 2,
      "self-check: memoOn sites count, memoOn's own delegation does not")
    val memoSites = mainFiles.map(f =>
      memoCallRe.findAllIn(memoOnDefRe.replaceAllIn(codeOf(f), "").linesIterator
        .filterNot(_.matches(""".*\bdef\s+memo\b.*"""))
        .mkString("\n")).size).sum
    // one forcer per memo SOURCE SITE (some queries force several sites)
    val sf = TestSpark.sf0001
    def force(q: String): () => Unit =
      () => { SparkEntry.queries(q)(spark, sf); () }
    val memoForcers: Seq[(String, () => Unit)] = Seq(
      "GraftSession.ensureStats [cbo_stats] (SQL DDL, no plan)" -> force("q_cbo_star_join"),
      "DedupQueries.minhashPairs [minhash_pairs]" -> force("q_dedup_minhash_lsh"),
      "DedupQueries.memberLabels [cc_members]" -> force("q_dedup_clusters"),
      "DedupQueries.rankedMembers [cc_ranked]" -> force("q_dedup_clusters"),
      "SimJoinQueries.exactPairs [simjoin_exact_pairs]" -> force("q_simjoin_prefix"),
      "SimJoinQueries.docIndex [simjoin_doc_index]" -> force("q_contain_join"),
      "SimilarityQueries.trainedCents [ivf_cents]" -> force("q_sim_knn_ivf"),
      "SimilarityQueries.rankedAssign [ivf_ranked]" -> force("q_sim_knn_ivf"),
      "SimilarityQueries.bruteTruth [ann_truth]" -> force("q_ann_eval"),
      "SimilarityQueries.pqCbMemo [pq_cb*]" -> force("q_sim_knn_pq"),
      "SimilarityQueries.pqCodesTagMemo [pq_codes*] + OPQ arms" -> force("q_ann_opq"),
      "SimilarityQueries.cohortCents [ivf_cents_p*]" -> force("q_centroid_drift"),
      "TextQueries.bpeMergeTable [bpe_merges]" -> force("q_bpe_train"),
      "TextQueries.cohortMergeTable [bpe_merges_p*]" -> force("q_tokenizer_drift"),
      "TextQueries.entropyPerDoc [perdoc_ent]" -> force("q_text_entropy"),
      "TextQueries.lmScorePerDoc [perdoc_lm]" -> force("q_text_lmscore"),
      // one site for every once-per-session landing (fmt_roundtrip,
      // dpp_facts, pipeline_daily): a temp dir path, not a plan
      "GraftSession.landOnce [landing|*] (write-only, no plan)" -> force("q_format_roundtrip"),
      "StatsQueries.topPairs [basket_top_pairs]" -> force("q_basket_lift"),
      "HierarchyQueries.jumpState [hierarchy_jump]" -> force("q_hierarchy_closure"),
      // r21: the K-growth-law corpus count (a SCALAR, not a plan — the
      // memo holds a boxed Long; no build windows to review)
      "SimilarityQueries.embCount [emb_count] (scalar, no plan)" -> force("q_sim_knn_ivf"),
      // the collected hot-span list (an Array[String], not a plan)
      "PipelineQueries.spanScrub [scrub_hot] (collected array, no plan)" -> force("q_span_scrub"),
      // the per-table parquet schema (a StructType, not a plan)
      "Tables.load [parquet_schema] (schema, no plan)" -> force("q_join_semi"))
    assert(memoSites === memoForcers.size,
      s"$memoSites GraftSession.memo call sites in src/main but " +
        s"${memoForcers.size} forcers here — a new memo family needs a " +
        "forcer (and its build windows a dictionary review)")
    // --- the audited rebuild ---
    val seen = collection.mutable.ArrayBuffer[String]()
    val hashHits = collection.mutable.ArrayBuffer[(String, String)]()
    GraftSession.planAuditor = Some(p => seen.synchronized {
      seen ++= logicalKeysets(p)
      hashHits ++= logicalHashOrigins(p)
      ()
    })
    try {
      // auditor negative self-test: a content-key window passed through
      // ckpt MUST be recorded (proves the hook + walker see the class)
      locally {
        import spark.implicits._
        import org.apache.spark.sql.functions._
        val bad = Seq((1L, "abcdefgh"), (2L, "abcdefgh")).toDF("doc_id", "text")
          .select($"doc_id", $"text".substr(lit(1), lit(4)).as("win"))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"win")))
        GraftSession.ckpt(bad)
        assert(seen.contains("win"),
          s"ckpt auditor failed to record the content-key window: $seen")
      }
      // negative self-test #2: a hash aliased to an allowed entity-key
      // name inside a ckpt'd build must be flagged BY ORIGIN (the alias
      // blind spot, closed on the logical path too; range-based input so
      // ConstantFolding can't erase the md5)
      locally {
        import spark.implicits._
        import org.apache.spark.sql.functions._
        val bad = spark.range(4)
          .select(md5($"id".cast("string")).as("doc_id"), $"id")
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")))
        GraftSession.ckpt(bad)
        assert(hashHits.exists(_._2 == "doc_id"),
          s"ckpt auditor missed the md5-aliased partition key: $hashHits")
      }
      seen.clear()
      hashHits.clear()
      GraftSession.clearMemos(spark)
      memoForcers.foreach { case (site, f) =>
        withClue(s"forcing $site: ")(f())
      }
    } finally GraftSession.planAuditor = None
    val offending = seen.distinct
      .filterNot(ks => boundedWindowKeys.contains(ks) ||
        memoBuildWindowKeys.contains(ks))
    assert(offending.isEmpty,
      s"memoized build windows partition on unreviewed keysets: $offending " +
        "— state the bound in memoBuildWindowKeys or rewrite to groupBy+join")
    // build-only entries are load-bearing too: one no build uses is stale
    val staleBuild = memoBuildWindowKeys.keySet -- seen.toSet
    assert(staleBuild.isEmpty,
      s"stale memoBuildWindowKeys entries (no build windows on them): $staleBuild")
    // hash-derived partition keys inside builds need the same separate
    // review as in declared plans, whatever their alias says
    val hashOffending = hashHits.distinct
      .filterNot { case (ks, _) => hashOriginReviewed.contains(ks) }
    assert(hashOffending.isEmpty,
      s"memoized build windows key on hash/fingerprint-derived columns: " +
        s"$hashOffending — review in hashOriginReviewed or rewrite")
  }

  test("whitespace tokenization is spelled once, in Ops.words") {
    val mainFiles = sourceFiles("src/main/scala")
    val splitRe = """\bsplit\([^()]*(?:\([^()]*\))?[^()]*,\s*" "\)""".r
    assert(Seq("""split($"text", " ")""", """split(col("text"), " ")""",
        """split(col(c), " ")""", """explode(split($"p_name", " "))""")
        .forall(splitRe.findFirstIn(_).nonEmpty) &&
      Seq("""split($"w", "")""", "string_split(text, ' ')", """split($"d", BpeSent)""")
        .forall(splitRe.findFirstIn(_).isEmpty),
      "self-check: the pattern must catch whitespace splits and only those")
    val copies = mainFiles.map(f => f.getPath -> splitRe.findAllIn(codeOf(f)).size)
      .filter { case (p, n) => n > (if (p.endsWith("graft/Tables.scala")) 1 else 0) }
    assert(copies.isEmpty,
      s"whitespace split outside Ops.words: $copies — use Ops.words / Ops.wordCount")
  }

  /** Code lines of a source, as (line number, trimmed text): blank,
    * comment, scaladoc, `package` and `import` lines dropped. */
  private def codeLines(src: String): Seq[(Int, String)] = {
    var inBlock = false
    src.linesIterator.zipWithIndex.flatMap { case (l, i) =>
      val t = l.trim
      if (inBlock) { inBlock = !t.contains("*/"); None }
      else if (t.startsWith("/*")) { inBlock = !t.contains("*/"); None }
      else if (t.isEmpty || t.startsWith("//") || t.startsWith("*") ||
        t.startsWith("package ") || t.startsWith("import ")) None
      else Some((i + 1, t))
    }.toSeq
  }

  private val DupRun = 5
  private val DupChars = 150

  /** Every run of [[DupRun]] consecutive code lines of at least
    * [[DupChars]] characters that occurs more than once across `srcs`
    * (path -> source), with each place it occurs as (path, first line). */
  private def copiedRuns(srcs: Seq[(String, String)])
      : Map[Seq[String], Seq[(String, Int)]] =
    srcs.flatMap { case (path, src) =>
      codeLines(src).sliding(DupRun).filter(_.size == DupRun)
        .map(w => w.map(_._2) -> (path, w.head._1))
    }.filter(_._1.map(_.length).sum >= DupChars)
      .groupBy(_._1).map { case (w, locs) => w -> locs.map(_._2) }
      .filter(_._2.size > 1)

  test("no run of 5 code lines is copied in src/main outside the reviewed list") {
    // a copied window passes when one of its lines contains a reviewed key
    val reviewed: Map[String, String] = Map(
      "override protected def withNewChildrenInternal(" ->
        ("Catalyst's per-expression copy boilerplate after a codegen body; " +
          "each expression class must declare its own override"),
      "/ (sqrt(CAST(vn.nrm AS DOUBLE)) * sqrt(CAST(cn.nrm AS DOUBLE))) AS c_cos" ->
        ("knnIvfSql's centroid scores vs annDeleteEvalSql's per-leg copy, " +
          "which adds a WHERE line: one fragment would branch on its caller"),
      "|| json_extract_string(t, '$$.rn') || '#'" ->
        ("the ingest oracles' train-id key continues lines with `||`, which " +
          "a second stripMargin would eat, so it cannot be shared into them"))
    val line = "x" * 40
    val block = (1 to 5).map(i => s"val v$i = $line").mkString("\n")
    val found = copiedRuns(Seq(
      "a" -> s"package p\nimport q\n$block\n",
      "b" -> s"object B {\n  // note\n${block.replace("val v3", "\n  val v3")}\n}",
      "c" -> (1 to 5).map(i => s"val w$i = 1").mkString("\n"),
      "d" -> (1 to 5).map(i => s"val w$i = 1").mkString("\n"),
      "e" -> block.split("\n").take(4).mkString("\n")))
    assert(found.keySet.map(_.head) == Set(s"val v1 = $line") &&
        found.values.flatten.map(_._1).toSet == Set("a", "b") &&
        found.values.flatten.toSet == Set(("a", 3), ("b", 3)),
      s"self-check: a copied 5-line run (comments and blanks skipped) is " +
        s"found, a short or 4-line one is not: $found")
    val runs = copiedRuns(sourceFiles("src/main/scala").map(f => f.getPath -> readSrc(f)))
    val unreviewed = runs.filterNot { case (w, _) =>
      reviewed.keys.exists(k => w.exists(_.contains(k)))
    }
    assert(unreviewed.isEmpty,
      s"${unreviewed.size} copied runs of $DupRun code lines in src/main: " +
        unreviewed.map { case (w, locs) =>
          locs.map { case (p, l) => s"$p:$l" }.mkString(" = ") + s"  ${w.head}"
        }.toSeq.sorted.mkString("\n  ", "\n  ", "\n") +
        "give the fragment one definition, or review it in `reviewed` with a reason")
    val stale = reviewed.keySet.filterNot(k => runs.keys.exists(_.exists(_.contains(k))))
    assert(stale.isEmpty, s"stale reviewed copies (no copied run contains them): $stale")
  }

  test("test temp dirs and files are made by TestSpark, which deletes them") {
    val rawRe = """\bcreateTemp(?:Directory|File)\(""".r
    assert(Seq("java.nio.file.Files.createTempDirectory(\"x\")",
        "Files\n  .createTempFile(\"a\", \".json\")").forall(rawRe.findFirstIn(_).nonEmpty) &&
      rawRe.findFirstIn("TestSpark.tempDir(\"x\")").isEmpty,
      "self-check: the pattern must catch raw temp dir and file creation")
    // TestSpark holds the two sanctioned calls; this spec, the self-check
    val raw = sourceFiles("src/test/scala")
      .filterNot(f => Set("TestSpark.scala", "RegistrySpec.scala")(f.getName))
      .filter(f => rawRe.findFirstIn(codeOf(f)).nonEmpty)
      .map(_.getPath)
    assert(raw.isEmpty,
      s"raw createTempDirectory/createTempFile in tests: $raw — use " +
        "TestSpark.tempDir / tempFile, which delete at JVM exit")
  }

  test("container byte readers are declared once, in ByteCodec") {
    val src = readSrc(new java.io.File("src/main/scala/graft/ext/MultimodalQueries.scala"))
    val defRe = """\bdef\s+(u8|be16|be32|le16|le32)\(""".r
    assert(Seq("def u8(i: Int) = bytes(i) & 0xff", "    def be32(i: Int): Long =",
        "  private def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)")
        .forall(defRe.findFirstIn(_).nonEmpty) &&
      defRe.findFirstIn("def be32u(i: Int): Long").isEmpty,
      "self-check: the pattern must catch local reader/writer declarations")
    val start = src.indexOf("object ByteCodec {")
    val end = if (start < 0) start else src.indexOf("\n}\n", start)
    val local = defRe.findAllIn(
      if (start < 0) src else src.substring(0, start) + src.substring(end)).toSeq
    assert(local.isEmpty, s"byte readers declared outside ByteCodec: $local")
    assert(defRe.findAllIn(src.substring(start, end)).size >= 5,
      "self-check: ByteCodec holds the shared readers and writers")
  }

  test("a second build launches no Spark job outside the build-job census") {
    // queries whose build still runs a job on every call, each with why;
    // the open list for later memoization. A query missing here whose
    // second build launches a job is a hidden per-build cost.
    val buildJobs: Map[String, String] = Map(
      "q_ann_delete_eval" -> "each IVF leg's centSrc.count() sizes its K",
      "q_bpe_encode" -> "applyMerges checkpoints every BPE fold round",
      "q_dedup_chain_drift" -> "chainStarScored checkpoints the members' shingle arrays",
      "q_dedup_modal_agreement" -> "chainStarScored's and the quantized embeddings' checkpoints",
      "q_entity_resolution" -> "clusterLabels checkpoints every connected-components round",
      "q_epoch_budget" -> "checkpoints the per-stream token weights",
      "q_geo_density" -> "clusterLabels over the dense-cell pairs",
      "q_graph_kcore" -> "checkpoints each peel round's survivors and edges",
      "q_hierarchy_rollup" -> "checkpointed levels and the max-depth head()",
      "q_rfm_segments" -> "checkpoints the customer-grain aggregate",
      "q_train_readiness" -> "checkpoints the waterfill base")
    assert(!buildJobs.contains("q_span_scrub"))
    val sf = TestSpark.sf0001
    val launched = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, q) =>
      q(spark, sf)
      val (_, jobs) = TestSpark.jobsOf(q(spark, sf))
      if (jobs > 0) Some(n -> jobs) else None
    }.toMap
    val hidden = launched -- buildJobs.keySet
    assert(hidden.isEmpty,
      s"second builds launching Spark jobs outside the census: $hidden")
    val stale = buildJobs.keySet -- launched.keySet
    assert(stale.isEmpty, s"census entries whose second build launches no job: $stale")
  }

  test("packed argmax stride: id bound holds and the pack stays inside a long") {
    // key = cq * ID_STRIDE - id encodes (cq desc, id asc) iff
    // 0 <= id < ID_STRIDE; scores are cosine ppm so |cq| <= 1e6 and the
    // worst-case |key| must not overflow. Both engine mirrors share the
    // packing, so a violated bound corrupts BOTH sides identically and
    // the hash gate cannot see it — this spec is the only guard.
    val stride = ext.SimilarityQueries.ID_STRIDE
    assert(BigInt(1000000L) * BigInt(stride) + BigInt(stride) <
      BigInt(Long.MaxValue))
    import org.apache.spark.sql.functions.max
    val ids = Tables.embeddings(spark, TestSpark.sf0001)
      .agg(max("vec_id")).head().getLong(0)
    assert(ids >= 0 && ids < stride,
      s"vec_id range [0, $ids] escapes the argmax stride $stride")
  }

  test("bench tier attribution is total: no query can fall into 'other'") {
    // Bench maps each query to its tier via Registry.tierOf with an
    // "other" fallback; the per-tier subtotals are the drift-attribution
    // tool, so an unmapped query would silently pollute them. Every
    // declared query must resolve to a real tier.
    val tierOf = Registry.tierOf
    val unmapped = SparkEntry.queries.keySet.filterNot(tierOf.contains)
    assert(unmapped.isEmpty, s"queries without a tier: ${unmapped.mkString(", ")}")
    // and the check itself can fail: a name outside the registry is unmapped
    assert(!tierOf.contains("q_registry_spec_synthetic_unmapped"))
    assert((SparkEntry.queries.keySet + "q_registry_spec_synthetic_unmapped")
      .filterNot(tierOf.contains) === Set("q_registry_spec_synthetic_unmapped"))
  }

  test("driver entry runs and returns rows (smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SQL surface: registered views + custom function answer spark.sql") {
    GraftSession.registerAll(spark, TestSpark.sf0001)
    val n = spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin).count()
    assert(n === 3)
    val d = spark.sql(
      "SELECT haversine_km(41.99, -87.65, 41.8781, -87.6298) AS d")
      .collect().head.getDouble(0)
    assert(d > 0 && d < 30)
    // events view got the nanos→µs conversion
    val ts = spark.sql("SELECT MAX(ts) FROM events").collect().head
    assert(!ts.isNullAt(0))
  }
}
