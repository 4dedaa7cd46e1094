package graft

/** Plan-shape regression audit across the WHOLE batch contract surface:
  * every SparkEntry query's physical plan is checked for the two
  * quadratic join shapes that only ever appear by accident in a
  * declarative pipeline — CartesianProduct and BroadcastNestedLoopJoin
  * — except where the shape is the operator's documented design (the
  * similarity family broadcasts a small query block through a
  * nested-loop scoring pass by construction; target encoding and the DQ
  * suite cross-join a ONE-ROW global-stats frame). A new query that
  * accidentally plans a cartesian — a dropped join key, a non-equi
  * predicate that stopped being pushable — fails here at test time
  * instead of surfacing as a 100x blowup at scale.
  *
  * Streaming replays are excluded: their physical plans live inside the
  * streaming engine per microbatch (asserted in StreamingOps specs),
  * and invoking them here would re-run whole replay fixtures for no
  * plan visibility.
  */
class PlanAuditSpec extends SparkTestBase {

  // operators whose BroadcastNestedLoopJoin is the documented design,
  // always with a broadcast side bounded by construction (query block /
  // one-row stats frame) — never data x data
  private val intendedNestedLoop = Set(
    "sim_topk_bruteforce", "sim_topk_ivf", "sim_topk_ivf_exact",
    "sim_hard_negatives", // broadcast query block vs corpus scan
    "sim_mmr_rerank",     // candidate stage = bruteForce's broadcast query block
    "sim_mmr_rerank_exact", // same candidate stage at the small-k face
    "sim_topk_pq",        // code scan x broadcast query block (+ k-bounded refine)
    "sim_topk_pq_exact",  // same candidate stage, refine window = corpus
    "sim_topk_ivfpq",     // query block x broadcast cells-sized centroid frame
    "sim_topk_ivfpq_exact", // same stages, nProbe = nCells + full refine
    "text_rrf_hybrid",    // dense ranker = bruteForceTopK's broadcast query block
    "feat_target_encode", // one-row exact global-sums frame
    "text_bm25",          // one-row corpus-stats frame x postings
    "text_bleu",          // maxN-row per-order corpus sums x one-row ref-length frame
    "stream_bleu_gate",   // the same corpusBleuSums plan inside the gate's result read
    "text_lm_score",      // one-row vocabulary-size frame x scored pairs
    "curation_dsir",      // two one-row vocabulary frames (both LM scorings)
    "curation_doremi",    // two one-row vocabulary frames (proxy + reference LM)
    "text_ppl_filter",    // one-row vocabulary frame (reference LM scoring)
    "text_quality_classifier", // one-row totals + one-row prior frames (NB)
    "dq_mutual_info",     // one-row total frame x |X|x|Y| contingency cells
    "dq_mi_sql",          // same plan through the TVF face
    "text_bm25_sql",      // text_bm25's plan through the TVF face
    "dq_checks",          // one-row constraint-summary frame
    "dq_psi_drift",       // one-row totals frame x bins-sized spine
    "dq_psi_cat_drift",   // one-row totals frame x category-sized spine
    "dq_cohens_kappa",    // three one-row aggregate frames composed
    "dq_kappa_sql",       // same plan through the TVF face
    "dq_fleiss_kappa",    // two one-row aggregate frames crossed
    "dq_fleiss_sql",      // same plan through the TVF face
    "dq_psi_sql",         // dq_psi_drift's plan through the TVF face
    "dq_psi_incremental", // one-row totals frame x bins-sized spine (stored state)
    "dq_chi2_drift",      // one-row totals frame x category-sized spine
    "dq_chi2_sql",        // same plan through the TVF face
    "dq_benford",         // one-row total frame x 9-row digit spine
    "dq_entropy",         // one-row total frame x category-sized spine
    "dq_entropy_sql",     // same plan through the TVF face
    "dq_benford_sql",     // dq_benford's plan through the TVF face
    "sketch_segment_overlap", // |segments|-row sketch pair matrix (a < b)
    "sketch_overlap_sql",     // same plan through the TVF face
    "geo_hotspot",            // one-row (n_cells, n_total) frame x cells
    "geo_hotspot_sql",        // same plan through the TVF face
    "geo_hotspot_incremental", // same hotspot face over merged stored state
    "events_lift",            // one-row session-count frame x type pairs
    "text_collocations",      // one-row bigram-total frame x scored pairs
    "text_colloc_incremental", // same G² face over merged stored state
    "er_blocking_recall",     // one-row truth count x one-row found count
    "events_survival",        // one-row corpus-max + total frames x day curve
    "events_survival_incremental", // same curve face over merged stored state
    "events_survival_sql",    // same plan through the TVF face
    "q_assoc_rules",          // one-row basket-count frame x scored rules
    "q_rfm",                  // one-row max-date frame x entities
    "q_rfm_sql",              // same plan through the TVF face
    "dq_js_drift",            // one-row totals frame x bins-sized spine
    "dq_js_incremental",      // same JS face over merged stored state
    "dq_js_sql",              // dq_js_drift's plan through the TVF face
    "dq_cramers_v",           // one-row totals frame x level-grid cells
    "dq_cramers_sql",         // same plan through the TVF face
    "dq_t_closeness",         // group rows x broadcast category spine + one-row total
    "dq_tcl_sql",             // same plan through the TVF face
    "dq_tcl_incremental",     // same audit face over merged stored cell state
    "dq_srm",                 // one-row total frame x arm-sized spine
    "exp_cuped",              // one-row exact power-sums frame x rows
    "exp_kruskal",            // one-row group-sum frame x one-row tie frame
    "exp_kruskal_sql",        // same plan through the TVF face
    "exp_qte",                // histogram cells x |p|-row broadcast quantile spine
    "exp_winsorized_mean",    // histogram cells x 2-row p-spine + one-row cuts frame
    "exp_jackknife_ratio",    // bucket frame x one-row totals frame
    "ts_backtest_folds")      // daily series x |folds|-row broadcast spine

  test("no contract query plans an unintended cartesian/nested-loop join") {
    val dir = sf() // sf0.001 — plans, not timings
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => name.startsWith("stream_") }
      .foreach { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct"))
          offenders += s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") && !intendedNestedLoop(name))
          offenders += s"$name: BroadcastNestedLoopJoin"
      }
    assert(offenders.isEmpty,
      s"unintended quadratic join shapes:\n  ${offenders.mkString("\n  ")}")
  }

  // operators whose empty-partitionSpec WindowExec runs over a frame
  // that is AGGREGATE-SIZED by construction (per-period counts, bins,
  // category spines — never row-shaped data), so one reducer is the
  // right plan; every entry names the bounded frame
  private val intendedGlobalWindow: Set[String] = Set(
    "curation_doremi",     // largest-remainder apportionment over the DOMAIN frame (mixture domains: tens)
    "sample_mix",          // same apportionment window over the weights/groups frame
    "sample_temperature",  // same apportionment window over per-group counts
    "sample_token_budget", // same apportionment window over per-group token masses
    "dq_volume_anomaly",   // trailing-baseline window over per-PERIOD counts (days)
    "events_concurrency",  // midnight carry-in window over per-DAY sweep totals
    "events_survival",     // KM hazard product over the per-DAY subject curve
    "events_survival_incremental", // same day-curve face over merged stored state
    "events_survival_sql", // same plan through the TVF face
    "etl_compaction_plan") // sequential-fill packing over the FILE MANIFEST (#files rows)

  test("no contract query plans a single-reducer window over a data-shaped frame") {
    // the one-reducer cliff: WindowExec with an empty partitionSpec
    // funnels EVERY row through one task. Legit only on frames already
    // reduced to aggregate cardinality; anything else must use the
    // range-partitioned cumulative discipline (globalRowNumber /
    // ksFromCounts / conformalFromHistogram).
    val dir = sf() // sf0.001 — plans, not timings
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => name.startsWith("stream_") }
      .foreach { case (name, fn) =>
        val bad = fn(spark, dir).queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.isEmpty => w
        }
        if (bad.nonEmpty && !intendedGlobalWindow(name))
          offenders += s"$name: ${bad.map(_.nodeName).distinct.mkString(",")}"
      }
    assert(offenders.isEmpty,
      s"unintended single-reducer windows:\n  ${offenders.mkString("\n  ")}")
  }

  test("every oracle references a registered query; flagship entry is wired") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracleSql entries without a query: $dangling")
    assert(SparkEntry.queries.nonEmpty && SparkEntry.oracleSql.nonEmpty)
  }
}
