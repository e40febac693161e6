package graft

/** Plan-shape regression gate: no registered query may plan an
  * unbounded product (CartesianProduct / BroadcastNestedLoopJoin)
  * unless it is on the explicit by-design whitelist with a documented
  * bound. This pins the "no accidental O(n²) plan" discipline — a
  * rewrite that silently degrades a bucketed join to a nested loop
  * fails CI, not the 100 TB run.
  */
class PlanAuditSpec extends SparkSuite {

  /** Whitelist: queries whose product is intentional AND bounded.
    * - q30: adaptive — all-pairs popcount below the corpus cutoff
    *   (pairs of 8-byte fingerprints), banded equi-join above it.
    * - q31/q32/q33: the query/probe side is a broadcast of ≤ k rows
    *   (bounded by construction), so the nested loop is k·n, not n².
    * - q49/q54: pair joins bounded by block/source counts (documented
    *   Σ block² story, oracle-checked).
    */
  private val productByDesign = Set(
    "q30_simhash_neardup", "q31_cosine_topk", "q32_embedding_neardup",
    "q33_ann_lsh_topk", "q49_ngram_jaccard_blocked", "q54_source_overlap",
    // q84: exact all-pairs cosine over 16-dim media features — the
    // exactness baseline (like q32); LSH over the feature column is
    // the documented scale path.
    "q84_media_neardup",
    // q90: the query side is a broadcast of ≤ 20 rows (k·n scan of
    // the int8 codes, like q31's bounded nested loop).
    "q90_ann_quantized_topk",
    // q103/q104: one side is a broadcast 1-ROW corpus-stats frame
    // (avgdl/df, vocab totals) — a scalar model artifact riding the
    // plan, the same pattern as embedded literals, never O(n²).
    "q103_bm25_topk", "q104_rare_token_score",
    // q111: each FK check pairs two 1-ROW aggregate frames
    // (violations × total) — scalar × scalar.
    "q111_quality_audit",
    // q116/q118/q121: corpus stats / the chosen water-fill level ride
    // as broadcast 1-ROW frames (the q103/q104 pattern); q116's pair
    // generation itself is q28's bucketed LSH join, never all-pairs.
    "q116_contrastive_triplets", "q118_canary_manifest",
    "q121_token_waterfill",
    // q126/q128: the query side is a bounded slice (id % 25)
    // broadcast against the corpus — the q31 k·n nested-loop shape;
    // q130: the vocabulary size V rides as a broadcast 1-ROW frame
    // (the q103/q104 scalar-stats pattern).
    "q126_crossmodal_topk", "q128_matryoshka_recall",
    "q130_bigram_lm_gate",
    // q131/q133: the order count / global centroid ride as broadcast
    // 1-ROW frames (the q103/q104 scalar-stats pattern)
    "q131_assoc_rules", "q133_embedding_drift",
    // q139/q142: the BM25 corpus stats ride as a broadcast 1-ROW
    // frame (the q103 pattern, via the shared bm25Scored); both
    // retrieval legs are bounded top-20 sets, fusion is a 40-row
    // full-outer equi-join.
    "q139_hybrid_rrf", "q142_hybrid_rrf_ivf",
    // q144/q150: the IVF evaluation kernel (Ivf.evalRanks) is q31's
    // bounded nested loop (20 eval queries broadcast, k·n scan) —
    // eval sets are small by construction, and the exact truth scores
    // every pair anyway; the probe ranks ride the same pass.
    "q144_ann_recall_report", "q150_mrr_eval",
    // q153: each audit pairs a 1-ROW rollup with a broadcast 1-ROW
    // hot-key frame (the q111 scalar × scalar pattern).
    "q153_skew_report",
    // q158: each audit pairs the 1-ROW exact join size with the
    // broadcast 1-ROW CMS estimate (the q111/q153 scalar × scalar
    // pattern); the sketches themselves join on (i, b) — equi-join.
    "q158_cms_join_size",
    // q162: the source-pair product runs over #sources SKETCH rows
    // (k longs each — the whole point of the sketch), the q54 bound;
    // the exact-intersection leg is an equi-join on the shingle hash.
    "q162_kmv_source_overlap",
    // q164: the leakage audit rides as a broadcast 1-ROW frame
    // (the q103/q111 scalar-stats pattern).
    "q164_leakage_safe_splits",
    // q183: the min-bucket-count rides as a broadcast 1-ROW frame
    // (the q103/q104 scalar-stats pattern); the bucket census itself
    // equi-joins on len_bucket.
    "q183_length_matched_resample",
    // q206: the decontam semi join deliberately probes the TINY
    // broadcast benchmark set per corpus row (the q73 shape in
    // embedding space — O(|bench|·d) per row, train side never
    // shuffles); there is no equi-key for a cosine threshold.
    "q206_semantic_decontam",
    // q213: the kNN leg is q31's bounded-broadcast-queries shape
    // (label-0 slice broadcast against the label-1 corpus scan).
    "q213_bitext_margin",
    // q214: the (min,max) doc-id range rides as a broadcast 1-ROW
    // frame (the q103/q111 scalar-stats pattern).
    "q214_vocab_growth",
    // q216: q144's kernel nested loop (20 eval queries broadcast,
    // k·n scan), ranked once for the exact truth and all four probe
    // widths; the curve is one aggregate over it.
    "q216_ann_tuning_curve",
    // q217: corpus stats ride as broadcast 1-ROW frames (the q103
    // pattern) and each leg pairs bounded top-5/top-1 frames
    // (scalar x scalar); overlap itself is a 5-row equi-join.
    "q217_chunk_retrieval_agreement",
    // q225: the IVF probe itself equi-joins on cell (hash join); the
    // BNLJ is the audit leg's EXACT companion — q206's cosine-only
    // broadcast semi join (already whitelisted above), riding in-row
    // to state the probe's recall shortfall. sketchAudit=false drops
    // it, leaving only the equi-keyed probe.
    "q225_semantic_decontam_ivf",
    // q228: the corpus size rides as a broadcast 1-ROW frame (the
    // q103/q111 scalar-stats pattern); tf→df itself equi-joins on
    // term.
    "q228_tfidf_terms",
    // q234: every crossJoin pairs 1-ROW sketch/count frames (the
    // q111/q153 scalar × scalar pattern); the only data-sized work
    // is the two bottom-k aggregates and one equi-join on user_id.
    "q234_kmv_jaccard",
    // q236: the 1-ROW moment rollup pairs the broadcast 1-ROW
    // top-decile sum (scalar × scalar); the rank itself is
    // GlobalIndex's range exchange, not a window or a product.
    "q236_revenue_gini",
    // q238: the 9-row digit census pairs its broadcast 1-ROW total
    // (the q103/q111 scalar-stats pattern).
    "q238_benford_audit",
    // q240: the max-date and quintile-threshold frames are broadcast
    // 1-ROW models (the q103/q111 scalar-stats pattern); scoring is
    // pure scan work against them.
    "q240_rfm_segments",
    // q245: the 1-ROW plain-mean rollup pairs the broadcast 1-ROW
    // median-of-means model (scalar × scalar).
    "q245_median_of_means",
    // q246: the audit leg's date-range join probes the ≤|days| spine
    // (30 rows at any SF window — calendar-bounded) against the daily
    // pairs; the sketch path itself is one hash aggregate + a
    // model-frame window.
    "q246_kmv_wau",
    // q250: the marginal/total frames ride as broadcast 1-ROW
    // models (the q103/q111 scalar-stats pattern); pair expansion
    // itself happens AT the order, never via a join.
    "q250_basket_lift",
    // q323: the observation-cut spine is a broadcast 2-ROW frame
    // derived from the 1-row span aggregate (the q263 study-end
    // move); the data-sized work is one windowed conditional
    // aggregate per (cut, user).
    "q323_temporal_labels",
    // q321: the threshold-candidate census (≤ distinct token counts —
    // an integer feature's bounded domain, the q68 block-summary
    // class) pairs its broadcast 1-ROW totals frame (the q103/q111
    // scalar-stats pattern); the data-sized work is one hash
    // aggregate.
    "q321_decision_stump",
    // q315: the action census (≤ 5 rows — one per event type) pairs
    // the broadcast 1-ROW total-N frame (the q103/q111 scalar-stats
    // pattern); all data-sized work is the single census aggregate.
    "q315_ips_offpolicy",
    // q138: the audit leg pairs the exact top-20 bigrams with a
    // broadcast 1-ROW total-count frame (the q103/q111 scalar-stats
    // pattern) to evaluate the MG invariant boolean; the data-sized
    // work is the exact-count aggregate + the constant-memory sketch.
    "q138_top_ngrams_stream",
    // q254/q258: the trained NB model is ONE row of Laplace counts
    // cross-joined broadcast into the scoring scan — scalar × data,
    // stateless per row.
    "q254_naive_bayes", "q258_nb_calibration",
    // q256: the design-weight divides by a broadcast 1-ROW total.
    "q256_seq_poisson_sample",
    // q260: the naive/MCV estimates pair 1-ROW census rollups and
    // the two ≤20-row MCV frames (scalar/model × scalar/model).
    "q260_join_card_estimate",
    // q261: per-term corpus stats (avgdl) ride as a broadcast 1-ROW
    // frame; the DCG×IDCG pairing crosses two 1-ROW aggregates.
    "q261_ndcg_at10",
    // q264: the PAV minimax joins the ≤20-row prefix frame against
    // itself and the ≤210-row block frame — model × model, bounded
    // by the bucket count at any data scale.
    "q264_isotonic_calibration",
    // q271: the replicate CI frame (32 rows) pairs the broadcast
    // 1-ROW point estimate (scalar × scalar).
    "q271_poisson_bootstrap",
    // q277: each probe's token/vector frame is a broadcast 1-ROW
    // model against the scan; the RRF fusion full-outer-joins two
    // 10-row top-k legs (model × model).
    "q277_rrf_fusion",
    // q281: the window-bounds (min/max day) frame is a broadcast
    // 1-ROW model against the scan (the q103/q111 pattern).
    "q281_dist_drift",
    // q286: the sample totals (n1, n2) pair the per-value cumulative
    // frame as a broadcast 1-ROW model.
    "q286_ks_test",
    // q288: the 5-row strata model pairs its broadcast 1-ROW weight
    // total (model × scalar).
    "q288_neyman_allocation",
    // q289: the stream-midpoint bound is a broadcast 1-ROW frame;
    // the DiD compose chains four 1-row cell frames.
    "q289_diff_in_diff",
    // q292/q293: the NB count model is a broadcast 1-ROW (q292) /
    // 5-ROW fold-census (q293) frame against the scoring scan.
    "q292_ablation_importance", "q293_kfold_cv",
    // q298: OTHERS = 1-row total × 1-row top-k sum (scalar × scalar).
    "q298_topk_others",
    // q299: the totals frame (n, W) rides broadcast 1-ROW into the
    // cumulative scan; the two median picks chain 1-row frames.
    "q299_weighted_median",
    // q300: every health metric is a 1-row aggregate; the one-pager
    // composes them and inherits q281/q283/q297's model frames.
    "q300_pipeline_health",
    // q306: the quintile-threshold frame is a broadcast 1-ROW model
    // (the q240 pattern) against the per-user scan.
    "q306_uplift_deciles")

  /** Streaming queries execute the stream inside fn() and return a
    * parquet reader — their interesting plan is the streaming one,
    * covered by their own specs; auditing the reader is meaningless
    * (and running every stream here would double test time). */
  private val streaming = Set(
    "q35_stream_tumbling", "q41_stream_sessionize", "q61_stream_dedup",
    "q66_stream_interval_join", "q71_stream_left_outer_join",
    "q106_stream_static_join", "q112_stream_upsert", "q134_stream_topk",
    "q146_stream_index_append", "q168_stream_type_census",
    "q170_stream_session_timers", "q172_graftlog_stream_census",
    "q199_graftlog_stream_table", "q210_statestore_read",
    "q212_state_open_sessions")

  test("no query plans an unlisted cartesian or broadcast-nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => streaming(n) || productByDesign(n) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(plan.contains)
        if (bad.nonEmpty) Some(s"$name: ${bad.mkString(",")}") else None
      }
    assert(offenders.isEmpty,
      s"unbounded product in: ${offenders.mkString("; ")}")
  }

  /** Whitelist for the global-window lint: queries whose
    * empty-partition window runs over a BOUNDED frame by construction
    * — the input is a model/summary artifact, not the data:
    * - q68 (×2): the MG merge windows over ≤ blocks·cap survivor rows
    *   (MgBoundSpec pins the bound).
    * - q121: the water-fill level search runs over per-SOURCE
    *   aggregates (#sources rows).
    * - q139/q142: rank fusion over two bounded top-20 retrieval legs.
    * - q143/q145: per-CELL index stats (≈ √n cells, the IVF model).
    * - q147: the prefix max over per-BLOCK summaries (n/1024 rows;
    *   the in-block pass partitions by block).
    * - q214: the Heaps-curve prefix sums over exactly 10 decile rows
    *   (the per-token/per-type passes are hash aggregates).
    */
  private val globalWindowByDesign = Set(
    "q68_top_ngrams_sketch", "q121_token_waterfill", "q139_hybrid_rrf",
    "q142_hybrid_rrf_ivf", "q143_ivf_append_drift",
    "q145_ivf_migration_plan", "q147_watermark_advisor",
    "q214_vocab_growth",
    // q246: the sliding merge windows over ≤|days| per-day SKETCH
    // rows (constant-size arrays — the mergeable-summary model
    // frame); the data-sized pass is the per-day hash aggregate.
    "q246_kmv_wau",
    // q261: the rank windows run over TakeOrdered 10-row top-k legs
    // (the optimizer folds the lit(1) partition key away); the
    // data-sized pass is the per-term scoring scan.
    "q261_ndcg_at10",
    // q277: same shape — rank windows over 10-row top-k legs per
    // probe; retrieval itself is TakeOrdered over the scan.
    "q277_rrf_fusion",
    // q321: cumulative + rank windows run over the threshold-
    // candidate CENSUS (distinct token counts — a bounded integer
    // domain, the q68 block-summary class), never the corpus.
    "q321_decision_stump")

  test("no query windows over the whole input in a single task") {
    // a Window with an empty PARTITION BY plans as ONE task sorting
    // the entire input — the classic silent scale-killer. Any new
    // query that reaches for row_number()/sum() OVER (ORDER BY …)
    // without a partition (or a bounded input documented above) fails
    // here, not on the 100 TB run. GlobalIndex.withGlobalSeq /
    // withGlobalCumSum are the scale-safe replacements.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => streaming(n) || globalWindowByDesign(n) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.optimizedPlan
        val global = plan.collectWithSubqueries {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        if (global.nonEmpty) Some(s"$name (${global.size})") else None
      }
    assert(offenders.isEmpty,
      s"unpartitioned window in: ${offenders.mkString("; ")}")
  }

  test("pagerank's final plan nests no prior iteration") {
    // each iteration pins its node-sized rank vector, so the returned
    // frame is a materialized RDD scan — NOT a 3-iteration mega-plan
    // whose concurrent builds exhausted memory at ×50. A regression
    // reintroducing the nesting shows up as Join nodes here.
    import org.apache.spark.sql.functions._
    val ev = Tables.table(spark, sf0001, "events")
      .select(col("user_id").as("src"),
        (col("event_id") % 97L + 2000000L).as("dst"))
    val ranks = graft.operators.PageRank.run(ev, "src", "dst", iters = 3)
    val joins = ranks.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty,
      s"expected a pinned rank vector, found ${joins.size} nested joins")
    assert(ranks.count() > 0)
  }

  test("shard manifest never funnels through a single partition") {
    // the numbering pass is pinned by GlobalIndexSpec's window
    // equivalence; here: nothing in the consuming plan collapses to
    // one partition (a global row_number window would)
    val plan = SparkEntry.queries("q93_shard_manifest")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("watermark advisor: the per-event window partitions by arrival block") {
    // the global running max must NOT plan as one global window over
    // the event log — the two-phase form keys the per-event window on
    // the arrival block; only the bounded block-summary prefix (n/1024
    // rows) may sit on a single partition
    val plan = SparkEntry.queries("q147_watermark_advisor")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(blk"), plan)
  }

  test("star join broadcasts all three dims (no dim ever shuffles the fact)") {
    val plan = SparkEntry.queries("q12_star_join_revenue")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val n = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(n === 3, s"expected 3 broadcast joins, got $n in:\n$plan")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("q03_total_cost_per_customer")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("year-range predicate reaches the parquet scan as a pushed filter") {
    val plan = SparkEntry.queries("q09_year_filter")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull"),
      s"expected non-empty PushedFilters in:\n$plan")
  }

  test("decontamination broadcasts the benchmark grams (train side never shuffles)") {
    val plan = SparkEntry.queries("q73_decontaminate")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast join for the benchmark side in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"train side must not shuffle for the benchmark join:\n$plan")
  }

  test("PII redaction is scan-parallel: only the final sort exchanges") {
    val plan = SparkEntry.queries("q74_pii_redact")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"redaction must not hash-shuffle:\n$plan")
  }

  test("generator ops stay scan-parallel: no hash exchange in q77/q78/q79/q82") {
    Seq("q77_classifier_gate", "q78_epoch_mixture", "q79_chunk_windows",
      "q82_zorder_key").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$q must not hash-shuffle (only the final sort may range-exchange):\n$plan")
    }
  }

  test("quality trim: rank and per-source count share ONE exchange") {
    val plan = SparkEntry.queries("q80_quality_trim")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n === 1, s"expected exactly 1 hash exchange, got $n in:\n$plan")
  }

  test("q122: no shuffle exchange carries the float feature vectors") {
    // the r4 watch-item: the (tbl, bucket) bucket join must move ids
    // only — vectors are joined back for the candidate rescore, where
    // each moves once instead of ×8 tables
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.queries("q122_media_neardup_lsh")(spark, sf0001)
    val offending = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec
          if e.output.exists(_.name.matches("feature|f_a|f_b")) => e
    }
    assert(offending.isEmpty,
      s"feature vectors ride a shuffle exchange:\n${offending.mkString("\n")}")
  }

  test("q137: cross-modal ANN candidates come from a cell equi-join") {
    // the scale claim: per query the corpus contribution is the
    // probed cells' rows, joined on the cell id — if this ever
    // degraded to a product (q126's k·n broadcast scan shape), the
    // ANN variant would silently stop being the scale path
    val df = SparkEntry.queries("q137_crossmodal_ann")(spark, sf0001)
    // string match, not collect: AdaptiveSparkPlanExec hides its
    // input plan from TreeNode.collect until execution
    val planStr = df.queryExecution.executedPlan.toString
    assert(!planStr.contains("CartesianProduct") &&
      !planStr.contains("BroadcastNestedLoopJoin"),
      s"cross-modal ANN planned a product:\n$planStr")
    val cellJoin =
      """(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[cell#""".r
    assert(cellJoin.findFirstIn(planStr).nonEmpty,
      s"no equi-join keyed on cell in:\n$planStr")
  }

  test("q107: the no-broadcast closing-join fallback stays correct") {
    // the 100× path (edges outgrow a broadcast): same 20 rows, and
    // the closing join really is a shuffled join, not a broadcast
    import graft.queries.OperatorQueries
    // at sf0.001 everything fits the auto-broadcast threshold, so
    // disabling it is what makes the fallback exercise the shuffled
    // path the comment promises at 100× (the explicit hint on the
    // default variant survives threshold = -1)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fallback = OperatorQueries.triangleCount(spark, sf0001,
        broadcastClose = false)
      val plan = fallback.queryExecution.executedPlan.toString
      assert("(ShuffledHashJoin|SortMergeJoin)".r.findFirstIn(plan).nonEmpty,
        s"expected a shuffled closing join in:\n$plan")
      val hinted = OperatorQueries.triangleCount(spark, sf0001)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val unhinted = fallback
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(hinted == unhinted,
        s"broadcast and shuffled closing joins disagree:\n$hinted\n$unhinted")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloom semi join: the probe filters the big side BEFORE the join") {
    val df = SparkEntry.queries("q81_bloom_semi_join")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    val probe = plan.indexOf("bloommightcontain")
    assert(probe >= 0, s"bloom probe missing from plan:\n${plan.take(3000)}")
    // the probe must sit below (= printed after) the closing semi
    // join's OPERATOR line — match the exec node name, not the bare
    // substring "join" (which could hit an alias or codegen comment
    // anywhere in the text and make the ordering check vacuous)
    val join = "(broadcasthashjoin|shuffledhashjoin|sortmergejoin)".r
      .findFirstMatchIn(plan).map(_.start).getOrElse(-1)
    assert(join >= 0 && join < probe,
      "probe must be under the semi join (filter at the scan), not above it")
  }
}
