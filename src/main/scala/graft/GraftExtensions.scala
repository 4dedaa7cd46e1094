package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.functions._

/** SparkSessionExtensions wiring: exposes graft's native expressions to
  * SQL (`spark.sql("SELECT minhash_signature(...)")`), plus the as-of
  * join as a TABLE-VALUED FUNCTION (`SELECT * FROM graft_asof(...)`), to
  * any session configured with `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Only function registration is injected — the engine deliberately needs
  * no custom optimizer rules or planner strategies: every operator is
  * expressed through Catalyst-native plans (SURVEY.md §4), so pushdown,
  * pruning, join planning, and AQE all apply untouched. The TVF builder
  * runs at analysis time and simply returns the same union+window
  * logical plan the Scala API builds, so the SQL face and the
  * programmatic face are one plan shape.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, arity, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        (args: Seq[Expression]) => {
          require(args.length == arity, s"$name expects $arity arguments, got ${args.length}")
          builder(args)
        }))
    }
    GraftExtensions.tableRegistrations.foreach { case (name, arity, builder) =>
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.ops", name),
        (args: Seq[Expression]) => {
          require(args.length == arity, s"$name expects $arity arguments, got ${args.length}")
          builder(args)
        }))
    }
  }
}

object GraftExtensions {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** (name, arity, builder) for each SQL-exposed native function. */
  val registrations: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("minhash_signature", 2, args => MinHashSignature(args(0), intLit(args(1), "k"))),
    ("simhash64", 1, args => SimHash64(args(0))),
    ("srp_signature", 2, args => SrpSignature(args(0), intLit(args(1), "planes"))),
    ("cosine_similarity", 2, args => CosineSimilarity(args(0), args(1))),
    ("shingle_hashes", 2, args => ShingleHashes(args(0), intLit(args(1), "n"))),
    ("token_hashes", 1, args => TokenHashes(args(0))),
    ("bounded_levenshtein", 3, args =>
      BoundedLevenshtein(args(0), args(1), intLit(args(2), "k"))),
    ("deletion_hashes", 2, args => DeletionHashes(args(0), intLit(args(1), "k"))),
    ("jaro_winkler", 2, args => JaroWinkler(args(0), args(1))),
    ("jaro_similarity", 2, args => JaroSimilarity(args(0), args(1))),
    ("damerau_levenshtein", 2, args => DamerauLevenshtein(args(0), args(1))),
    ("porter_stem", 1, args => PorterStemExpr(args(0))),
    // phrases_csv splits on ',' unescaped: a comma-containing phrase is
    // inexpressible here (it would silently become two phrases) — the
    // Column face (Curation.dictionaryTags) takes Seq[String] for those
    ("dictionary_tags", 2, args => DictionaryTags(args(0),
      strLit(args(1), "phrases_csv").split(",").map(_.trim).filter(_.nonEmpty).toSeq)),
  )

  private def strLit(e: Expression, what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
      v.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  /** Table-valued functions: whole-operator SQL faces. Builders run at
    * analysis time, resolve their view-name arguments against the ACTIVE
    * session's catalog, and return the operator's logical plan — the
    * identical plan the Scala API produces (single shuffle, union+window
    * for as-of; see ops/AsOfJoin).
    *
    *   graft_asof(left_view, right_view, keys_csv, ts_col, pick_csv,
    *              direction 'backward'|'forward', tiebreak_col|'',
    *              suffix)
    *   graft_range_join(left_view, right_view, keys_csv, ts_col,
    *              start_col, end_col, bucket_width)
    */
  val tableRegistrations: Seq[(String, Int, Seq[Expression] => LogicalPlan)] = Seq(
    ("graft_asof", 8, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val left = spark.table(strLit(args(0), "left_view"))
      val right = spark.table(strLit(args(1), "right_view"))
      val keys = strLit(args(2), "keys_csv").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val tsCol = strLit(args(3), "ts_col")
      val pick = strLit(args(4), "pick_csv").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val direction = strLit(args(5), "direction")
      val tiebreak = Option(strLit(args(6), "tiebreak_col")).filter(_.nonEmpty)
      val suffix = strLit(args(7), "suffix")
      val joined = direction match {
        case "backward" => graft.ops.AsOfJoin.backward(left, right, keys, tsCol, pick, suffix, tiebreak)
        case "forward" => graft.ops.AsOfJoin.forward(left, right, keys, tsCol, pick, suffix, tiebreak)
        case other => throw new IllegalArgumentException(
          s"direction must be 'backward' or 'forward', got '$other'")
      }
      joined.queryExecution.logical
    }),
    ("graft_range_join", 7, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val left = spark.table(strLit(args(0), "left_view"))
      val right = spark.table(strLit(args(1), "right_view"))
      val keys = strLit(args(2), "keys_csv").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val joined = graft.ops.RangeJoin.pointInInterval(left, right, keys,
        tsCol = strLit(args(3), "ts_col"),
        startCol = strLit(args(4), "start_col"),
        endCol = strLit(args(5), "end_col"),
        bucketWidth = longLit(args(6), "bucket_width"))
      joined.queryExecution.logical
    }),
    //   graft_bloom_semi(probe_view, build_view, probe_key, build_key)
    // Bloom-pre-filtered exact semi join. The filter is BUILT at analysis
    // time (two cheap driver actions on the build view: HLL sizing +
    // word-array aggregation — the same actions the Scala API runs) and
    // travels as a broadcast variable inside the returned plan, never a
    // plan literal.
    ("graft_bloom_semi", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val probe = spark.table(strLit(args(0), "probe_view"))
      val build = spark.table(strLit(args(1), "build_view"))
      val joined = graft.ops.BloomJoin.semiJoin(probe, build,
        probeKey = strLit(args(2), "probe_key"),
        buildKey = strLit(args(3), "build_key"))
      joined.queryExecution.logical
    }),
    //   graft_theta_overlap(table_view, seg_col, id_col, lgK)
    // Pairwise segment overlap off mergeable theta sketches: same
    // one-pass sketch build + pair-matrix plan as the Scala API
    // (Sketches.segmentOverlap); exact set algebra while every
    // segment's distinct count stays within 2^lgK.
    ("graft_theta_overlap", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val df = spark.table(strLit(args(0), "table_view"))
      val out = graft.ops.Sketches.segmentOverlap(df,
        strLit(args(1), "seg_col"), strLit(args(2), "id_col"),
        lgK = longLit(args(3), "lgK").toInt)
      out.queryExecution.logical
    }),
    //   graft_sketch_dau_mau(events_view, window_days, lgK)
    // Sliding-window distinct stickiness off mergeable daily theta
    // sketches — the SQL face of Sketches.dauMau: same one-pass daily
    // sketch build + window-union plan; exact while daily and windowed
    // distinct counts stay within 2^lgK.
    ("graft_sketch_dau_mau", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val events = spark.table(strLit(args(0), "events_view"))
      val out = graft.ops.Sketches.dauMau(events,
        windowDays = longLit(args(1), "window_days").toInt,
        lgK = longLit(args(2), "lgK").toInt)
      out.queryExecution.logical
    }),
    //   graft_sketch_quantiles(table_view, group_col, value_col, probs_csv, k)
    // Mergeable per-group KLL quantiles — the SQL face of
    // Sketches.groupQuantiles (INCLUSIVE read: exact ⌈p·n⌉-th order
    // statistics below capacity k).
    ("graft_sketch_quantiles", 5, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val df = spark.table(strLit(args(0), "table_view"))
      val probs = strLit(args(3), "probs_csv").split(",").map(_.trim)
        .filter(_.nonEmpty).map(_.toDouble).toSeq
      val out = graft.ops.Sketches.groupQuantiles(df,
        strLit(args(1), "group_col"), strLit(args(2), "value_col"),
        probs, k = longLit(args(4), "k").toInt)
      out.queryExecution.logical
    }),
    //   graft_sketch_freq_items(table_view, group_col, item_col, max_map_size)
    // Mergeable per-group frequent-items state — the SQL face of
    // Sketches.freqSketches + frequentItems: same per-partition
    // Misra-Gries-family build, keyed blob merge, NO_FALSE_NEGATIVES
    // read (grp, item, est, lb, ub); exact while each group's distinct
    // item count stays within max_map_size.
    ("graft_sketch_freq_items", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val df = spark.table(strLit(args(0), "table_view"))
      val st = graft.ops.Sketches.freqSketches(df,
        strLit(args(1), "group_col"), strLit(args(2), "item_col"),
        maxMapSize = longLit(args(3), "max_map_size").toInt)
      val out = graft.ops.Sketches.frequentItems(st)
      out.queryExecution.logical
    }),
    //   graft_temporal(facts_view, dim_view, keys_csv, fact_time_col)
    // SCD2 point-in-time join: same plan as Merge.temporalJoin (equi-key
    // drive, validity interval as a join residual, left join).
    ("graft_temporal", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val facts = spark.table(strLit(args(0), "facts_view"))
      val dim = spark.table(strLit(args(1), "dim_view"))
      val keys = strLit(args(2), "keys_csv").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val joined = graft.etl.Merge.temporalJoin(facts, dim, keys,
        factTime = strLit(args(3), "fact_time_col"))
      joined.queryExecution.logical
    }),
    //   graft_skew_join(big_view, small_view, keys_csv, salts, join_type,
    //                   sample_fraction, hot_row_threshold)
    // Auto-detected hot-key-only salted join — the SQL face of
    // Skew.autoSaltedJoin, the one production join family a SQL-first
    // user cannot hand-roll (the hot set comes from a seeded sampled
    // detection pass run at analysis time, exactly as the Scala API
    // runs it). Same plan: detected-hot rows take the salted path,
    // cold rows the stock shuffled join, union of the disjoint paths;
    // detection moves keys between paths only, so the result equals
    // the plain equi join for any sample.
    ("graft_skew_join", 7, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val big = spark.table(strLit(args(0), "big_view"))
      val small = spark.table(strLit(args(1), "small_view"))
      val keys = strLit(args(2), "keys_csv").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val joined = graft.ops.Skew.autoSaltedJoin(big, small, keys,
        salts = longLit(args(3), "salts").toInt,
        joinType = strLit(args(4), "join_type"),
        sampleFraction = dblLit(args(5), "sample_fraction"),
        hotRowThreshold = longLit(args(6), "hot_row_threshold"))
      joined.queryExecution.logical
    }),
    //   graft_geo_radius(left_view, right_view, lat_col, lon_col, radius_micro)
    // Grid-bucketed within-radius join — the SQL face of
    // Geo.gridRadiusJoin: integer micro-degree coordinates, 3×3
    // neighbor-cell Expand on the left, ONE equi-join on the cell key,
    // exact int64 distance filter. Same plan as the Scala API.
    ("graft_geo_radius", 5, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.Geo.gridRadiusJoin(
        spark.table(strLit(args(0), "left_view")),
        spark.table(strLit(args(1), "right_view")),
        strLit(args(2), "lat_col"), strLit(args(3), "lon_col"),
        radiusMicro = longLit(args(4), "radius_micro"))
      out.queryExecution.logical
    }),
    //   graft_geo_hotspot(points_view, lat_col, lon_col, cell_micro,
    //                     factor_num, factor_den)
    // Spatial hotspot cells — same plan as Geo.hotspotCells (cells →
    // 3×3 neighborhood sums → exact integer threshold).
    ("graft_geo_hotspot", 6, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.Geo.hotspotCells(
        spark.table(strLit(args(0), "points_view")),
        strLit(args(1), "lat_col"), strLit(args(2), "lon_col"),
        cellMicro = longLit(args(3), "cell_micro"),
        factorNum = longLit(args(4), "factor_num"),
        factorDen = longLit(args(5), "factor_den"))
      out.queryExecution.logical
    }),
    //   graft_spearman(table_view, group_cols_csv, x_col, y_col)
    // Tie-correct per-group Spearman — same DECIMAL(38,0) plan as
    // Relational.spearmanPerGroup.
    ("graft_spearman", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val groups = strLit(args(1), "group_cols_csv").split(",")
        .map(_.trim).filter(_.nonEmpty).toSeq
      val out = graft.ops.Relational.spearmanPerGroup(
        spark.table(strLit(args(0), "table_view")), groups,
        strLit(args(2), "x_col"), strLit(args(3), "y_col"))
      out.queryExecution.logical
    }),
    //   graft_acf(series_view, key_col, t_col, val_col, max_lag)
    // Per-key autocorrelation — same micro-integer DECIMAL(38,0) plan
    // as TimeSeries.acf (one lag Expand, one equi-join).
    ("graft_acf", 5, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.TimeSeries.acf(
        spark.table(strLit(args(0), "series_view")),
        strLit(args(1), "key_col"), strLit(args(2), "t_col"),
        strLit(args(3), "val_col"),
        maxLag = longLit(args(4), "max_lag").toInt)
      out.queryExecution.logical
    }),
    //   graft_quality_filters(table_view, text_col)
    // The C4/Gopher pretraining filter battery — same zero-shuffle
    // codegen'd projection as TextAnalysis.qualityFilters.
    ("graft_quality_filters", 2, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.TextAnalysis.qualityFilters(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "text_col"))
      out.queryExecution.logical
    }),
    //   graft_iqr_outliers(table_view, group_col, value_col, f_num, f_den)
    // Tukey IQR-fence outliers — same histogram-topology plan as
    // Features.iqrOutliers.
    ("graft_iqr_outliers", 5, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.Features.iqrOutliers(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "group_col"), strLit(args(2), "value_col"),
        fNum = longLit(args(3), "f_num"), fDen = longLit(args(4), "f_den"))
      out.queryExecution.logical
    }),
    //   graft_inter_arrival(table_view, key_col, sec_col, id_col)
    // Inter-arrival cadence profile — same one-window + gap-histogram
    // plan as Events.interArrival.
    ("graft_inter_arrival", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.Events.interArrival(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "key_col"), strLit(args(2), "sec_col"),
        strLit(args(3), "id_col"))
      out.queryExecution.logical
    }),
    //   graft_url_dedup(table_view, url_col, id_col)
    // URL-level exact dedup off the canonical form — same zero-shuffle
    // regex chain + one aggregation as UrlOps.dedupByUrl.
    ("graft_url_dedup", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.UrlOps.dedupByUrl(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "url_col"), strLit(args(2), "id_col"))
      out.queryExecution.logical
    }),
    //   graft_cusum(series_view, key_col, t_col, val_col,
    //               k_num, k_den, h_num, h_den)
    // Page's CUSUM change-point detector — same exact-integer
    // DECIMAL(38,0) one-shuffle plan as TimeSeries.cusum.
    ("graft_cusum", 8, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.TimeSeries.cusum(
        spark.table(strLit(args(0), "series_view")),
        strLit(args(1), "key_col"), strLit(args(2), "t_col"),
        strLit(args(3), "val_col"),
        kNum = longLit(args(4), "k_num"), kDen = longLit(args(5), "k_den"),
        hNum = longLit(args(6), "h_num"), hDen = longLit(args(7), "h_den"))
      out.queryExecution.logical
    }),
    //   graft_ccf(series_view, key_col, t_col, x_col, y_col, max_lag)
    // Per-key cross-correlation at lags -max_lag..max_lag — same
    // micro-integer DECIMAL(38,0) plan as TimeSeries.ccf (one lag
    // Expand, one equi-join).
    ("graft_ccf", 6, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.TimeSeries.ccf(
        spark.table(strLit(args(0), "series_view")),
        strLit(args(1), "key_col"), strLit(args(2), "t_col"),
        strLit(args(3), "x_col"), strLit(args(4), "y_col"),
        maxLag = longLit(args(5), "max_lag").toInt)
      out.queryExecution.logical
    }),
    //   graft_psi_drift(ref_view, cur_view, value_col, bins)
    // Numeric PSI drift gate — same plan as DataQuality.psiDrift (the
    // reference-edge lookup runs at analysis time, like the bloom TVF's
    // build actions).
    ("graft_psi_drift", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.psiDrift(
        spark.table(strLit(args(0), "ref_view")),
        spark.table(strLit(args(1), "cur_view")),
        strLit(args(2), "value_col"),
        bins = longLit(args(3), "bins").toInt)
      out.queryExecution.logical
    }),
    //   graft_js_drift(ref_view, cur_view, value_col, bins)
    // Bounded symmetric Jensen–Shannon drift — same fixed-edge binning
    // plan as DataQuality.jsDrift (shares PSI's histogram state).
    ("graft_js_drift", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.jsDrift(
        spark.table(strLit(args(0), "ref_view")),
        spark.table(strLit(args(1), "cur_view")),
        strLit(args(2), "value_col"),
        bins = longLit(args(3), "bins").toInt)
      out.queryExecution.logical
    }),
    //   graft_cramers_v(table_view, col_a, col_b)
    // Cramér's V categorical association — same zero-filled contingency
    // grid plan as DataQuality.cramersV.
    ("graft_cramers_v", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.cramersV(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "col_a"), strLit(args(2), "col_b"))
      out.queryExecution.logical
    }),
    //   graft_ks_drift(ref_view, cur_view, value_col)
    // Exact two-sample KS drift — the SQL face of DataQuality.ksDrift
    // (the Relational.cumBeforeByKey cumulative; its control-plane
    // totals are collected at analysis time).
    ("graft_ks_drift", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.ksDrift(
        spark.table(strLit(args(0), "ref_view")),
        spark.table(strLit(args(1), "cur_view")),
        strLit(args(2), "value_col"))
      out.queryExecution.logical
    }),
    //   graft_cohens_kappa(table_view, label_a, label_b)
    ("graft_cohens_kappa", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.cohensKappa(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "label_a"), strLit(args(2), "label_b"))
      out.queryExecution.logical
    }),
    //   graft_fleiss_kappa(ratings_view, item_col, label_col)
    ("graft_fleiss_kappa", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.fleissKappa(
        spark.table(strLit(args(0), "ratings_view")),
        strLit(args(1), "item_col"), strLit(args(2), "label_col"))
      out.queryExecution.logical
    }),
    //   graft_w1_drift(ref_view, cur_view, value_col, scale)
    // Exact-integer Wasserstein-1 drift — the SQL face of
    // DataQuality.w1Drift (the Relational.cumBeforeByKey cumulative and
    // its predecessor key; totals collected at analysis time).
    ("graft_w1_drift", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.w1Drift(
        spark.table(strLit(args(0), "ref_view")),
        spark.table(strLit(args(1), "cur_view")),
        strLit(args(2), "value_col"),
        scale = longLit(args(3), "scale"))
      out.queryExecution.logical
    }),
    //   graft_roc_auc(scored_view, score_col, label_col)
    // Exact rank-based ROC-AUC — the SQL face of DataQuality.rocAuc
    // (the Relational.cumBeforeByKey cumulative; totals collected at
    // analysis time).
    ("graft_roc_auc", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.rocAuc(
        spark.table(strLit(args(0), "scored_view")),
        strLit(args(1), "score_col"), strLit(args(2), "label_col"))
      out.queryExecution.logical
    }),
    //   graft_chi2_drift(ref_view, cur_view, value_col)
    // Exact-integer chi-squared homogeneity drift — the SQL face of
    // DataQuality.chi2Drift (same tagged-union contingency plan).
    ("graft_chi2_drift", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.chi2Drift(
        spark.table(strLit(args(0), "ref_view")),
        spark.table(strLit(args(1), "cur_view")),
        strLit(args(2), "value_col"))
      out.queryExecution.logical
    }),
    //   graft_entropy(table_view, value_col)
    // Per-category Shannon entropy terms, nano-quantized per cell —
    // the SQL face of DataQuality.categoryEntropy.
    ("graft_entropy", 2, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.categoryEntropy(
        spark.table(strLit(args(0), "table_view")), strLit(args(1), "value_col"))
      out.queryExecution.logical
    }),
    //   graft_benford(table_view, value_col, scale)
    // Benford first-digit conformance — the SQL face of
    // DataQuality.benford (integer digit extraction, 9-row spine).
    ("graft_benford", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.benford(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "value_col"), scale = longLit(args(2), "scale"))
      out.queryExecution.logical
    }),
    //   graft_fd_check(table_view, determinant_csv, dependent_col)
    // Functional-dependency violation audit — the SQL face of
    // DataQuality.fdViolations (comma-separated determinant columns).
    ("graft_fd_check", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.fdViolations(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "determinant_csv").split(",").map(_.trim).toSeq,
        strLit(args(2), "dependent_col"))
      out.queryExecution.logical
    }),
    //   graft_gini(table_view, group_csv, value_col, scale)
    // Exact per-group Gini concentration — the SQL face of
    // Relational.giniPerGroup.
    ("graft_gini", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.Relational.giniPerGroup(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "group_csv").split(",").map(_.trim).toSeq,
        strLit(args(2), "value_col"), scale = longLit(args(3), "scale"))
      out.queryExecution.logical
    }),
    //   graft_mutual_info(table_view, x_col, y_col)
    // Per-cell pointwise mutual information, nano-quantized — the SQL
    // face of DataQuality.mutualInfo (same one-aggregation contingency
    // plan with window marginals).
    ("graft_mutual_info", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.mutualInfo(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "x_col"), strLit(args(2), "y_col"))
      out.queryExecution.logical
    }),
    //   graft_bm25(docs_view, k, n_query_terms)
    // BM25 top-k retrieval over the corpus's top-df terms — the SQL
    // face of Retrieval.bm25TopK (same postings build, one-row corpus
    // stats cross, integer-exact within-term ranking).
    ("graft_bm25", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.Retrieval.bm25TopK(
        spark.table(strLit(args(0), "docs_view")),
        k = longLit(args(1), "k").toInt,
        nQueryTerms = longLit(args(2), "n_query_terms").toInt)
      out.queryExecution.logical
    }),
    //   graft_rfm(orders_view, id_col, date_col, amount_col, tiles)
    // RFM quantile segmentation — same plan as Relational.rfmSegments
    // (the rank path's partition offsets and row count are collected at
    // analysis time, like the KS/W1 TVFs' partition offsets).
    //   graft_coverage(events_view, key_col, len_sec)
    // Interval-union uptime per key — same islands-sweep plan as
    // Events.coverage.
    ("graft_coverage", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.Events.coverage(
        spark.table(strLit(args(0), "events_view")),
        strLit(args(1), "key_col"),
        longLit(args(2), "len_sec"))
      out.queryExecution.logical
    }),
    //   graft_weighted_quantile(table_view, group_col, value_col, weight_col, p_micro)
    // Exact weighted quantile — same distinct-value cumulative plan as
    // Relational.weightedQuantilePerGroup.
    ("graft_weighted_quantile", 5, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.Relational.weightedQuantilePerGroup(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "group_col"), strLit(args(2), "value_col"),
        strLit(args(3), "weight_col"),
        pMicro = longLit(args(4), "p_micro"))
      out.queryExecution.logical
    }),
    ("graft_rfm", 5, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.Relational.rfmSegments(
        spark.table(strLit(args(0), "orders_view")),
        strLit(args(1), "id_col"), strLit(args(2), "date_col"),
        strLit(args(3), "amount_col"),
        tiles = longLit(args(4), "tiles").toInt)
      out.queryExecution.logical
    }),
    //   graft_item_cooccur(baskets_view, basket_col, item_col, k, min_co)
    // "Customers also bought" — same exact-integer cosine² + k-bounded
    // TopK plan as Relational.itemCooccurrenceTopK.
    ("graft_item_cooccur", 5, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.Relational.itemCooccurrenceTopK(
        spark.table(strLit(args(0), "baskets_view")),
        strLit(args(1), "basket_col"), strLit(args(2), "item_col"),
        k = longLit(args(3), "k").toInt,
        minCo = longLit(args(4), "min_co"))
      out.queryExecution.logical
    }),
    //   graft_survival(events_view, conv_type)
    // Kaplan-Meier time-to-conversion — same exact-integer curve plan
    // as Events.conversionSurvival.
    ("graft_survival", 2, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.Events.conversionSurvival(
        spark.table(strLit(args(0), "events_view")),
        strLit(args(1), "conv_type"))
      out.queryExecution.logical
    }),
    //   graft_sentence_spans(docs_view, id_col, text_col, n)
    // C4 sentence-span dedup report — same linear group-by-hash plan
    // as Dedup.sentenceSpans (short docs surface with n_spans = 0).
    ("graft_sentence_spans", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.Dedup.sentenceSpans(
        spark.table(strLit(args(0), "docs_view")),
        n = intLit(args(3), "n"),
        idCol = strLit(args(1), "id_col"),
        textCol = strLit(args(2), "text_col"))
      out.queryExecution.logical
    }),
    //   graft_span_remove(docs_view, id_col, text_col, n)
    // C4 duplicate-span REMOVAL — same keep-first rewrite plan as
    // Dedup.removeDuplicateSpans.
    ("graft_span_remove", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.Dedup.removeDuplicateSpans(
        spark.table(strLit(args(0), "docs_view")),
        n = intLit(args(3), "n"),
        idCol = strLit(args(1), "id_col"),
        textCol = strLit(args(2), "text_col"))
      out.queryExecution.logical
    }),
    //   graft_conformal(calib_view, test_view, pred_col, actual_col,
    //                   alpha_micro, id_col)
    // Split conformal intervals — same exact order-statistic plan as
    // Experiment.conformalIntervals (q̂ resolved at analysis time, the
    // bloom-TVF build-action precedent). NOTE: resolving q̂ runs the
    // calibration scan DURING ANALYSIS — planning a query that names
    // this TVF triggers cluster work even if the query never executes,
    // and each re-analysis re-runs it; cache/persist the calib view in
    // callers that re-plan repeatedly.
    ("graft_conformal", 6, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.Experiment.conformalIntervals(
        spark.table(strLit(args(0), "calib_view")),
        spark.table(strLit(args(1), "test_view")),
        strLit(args(2), "pred_col"), strLit(args(3), "actual_col"),
        alphaMicro = longLit(args(4), "alpha_micro"),
        idCol = strLit(args(5), "id_col"))
      out.queryExecution.logical
    }),
    //   graft_conformal_group(calib_view, test_view, group_col, pred_col,
    //                         actual_col, alpha_micro, id_col)
    // Mondrian group-conditional conformal — same fully-distributed
    // per-group q̂ plan as Experiment.conformalIntervalsByGroup.
    ("graft_conformal_group", 7, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.Experiment.conformalIntervalsByGroup(
        spark.table(strLit(args(0), "calib_view")),
        spark.table(strLit(args(1), "test_view")),
        strLit(args(2), "group_col"),
        strLit(args(3), "pred_col"), strLit(args(4), "actual_col"),
        alphaMicro = longLit(args(5), "alpha_micro"),
        idCol = strLit(args(6), "id_col"))
      out.queryExecution.logical
    }),
    //   graft_cqr(calib_view, test_view, lo_col, hi_col, actual_col,
    //             alpha_micro, id_col)
    // Conformalized quantile regression — same signed-score exact
    // order-statistic plan as Experiment.cqrIntervals (q̂ resolved at
    // analysis time; the graft_conformal build-action caveat applies).
    ("graft_cqr", 7, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.Experiment.cqrIntervals(
        spark.table(strLit(args(0), "calib_view")),
        spark.table(strLit(args(1), "test_view")),
        strLit(args(2), "lo_col"), strLit(args(3), "hi_col"),
        strLit(args(4), "actual_col"),
        alphaMicro = longLit(args(5), "alpha_micro"),
        idCol = strLit(args(6), "id_col"))
      out.queryExecution.logical
    }),
    //   graft_mannwhitney(view, group_col, value_col, group_a, group_b)
    // Mann-Whitney U — same exact doubled-mid-rank plan as
    // Experiment.mannWhitney (range-partitioned cumulative inside).
    // NOTE: the cumulative's control-plane actions (materialize +
    // subtotal collect) run DURING ANALYSIS — planning a query that
    // names this TVF scans the input view, and re-analysis re-scans
    // it; cache/persist the view in callers that re-plan repeatedly
    // (the graft_conformal build-action caveat).
    ("graft_mannwhitney", 5, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ops.Experiment.mannWhitney(
        spark.table(strLit(args(0), "view")),
        strLit(args(1), "group_col"), strLit(args(2), "value_col"),
        strLit(args(3), "group_a"), strLit(args(4), "group_b"))
        .queryExecution.logical
    }),
    //   graft_kruskal(view, group_col, value_col)
    // Kruskal-Wallis H — same plan as Experiment.kruskalWallis.
    // NOTE: same analysis-time-scan caveat as graft_mannwhitney —
    // planning runs the cumulative's build actions over the view;
    // cache/persist it if re-planning repeatedly.
    ("graft_kruskal", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ops.Experiment.kruskalWallis(
        spark.table(strLit(args(0), "view")),
        strLit(args(1), "group_col"), strLit(args(2), "value_col"))
        .queryExecution.logical
    }),
    //   graft_wilcoxon(view, pre_col, post_col)
    // Wilcoxon signed-rank — same plan as Experiment.wilcoxonSignedRank.
    // NOTE: same analysis-time-scan caveat as graft_mannwhitney —
    // planning runs the cumulative's build actions over the view;
    // cache/persist it if re-planning repeatedly.
    ("graft_wilcoxon", 3, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      graft.ops.Experiment.wilcoxonSignedRank(
        spark.table(strLit(args(0), "view")),
        strLit(args(1), "pre_col"), strLit(args(2), "post_col"))
        .queryExecution.logical
    }),
    //   graft_c4_line_clean(docs_view, id_col, text_col, min_words)
    // C4 line-level page cleaning — same zero-shuffle rewrite
    // projection as TextAnalysis.c4LineClean.
    ("graft_c4_line_clean", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.TextAnalysis.c4LineClean(
        spark.table(strLit(args(0), "docs_view")),
        idCol = strLit(args(1), "id_col"),
        textCol = strLit(args(2), "text_col"),
        minWords = intLit(args(3), "min_words"))
      out.queryExecution.logical
    }),
    //   graft_chunk_sentences(docs_view, id_col, text_col, window, stride)
    // Sentence-window RAG chunking — same plan as
    // Curation.chunkBySentences.
    ("graft_chunk_sentences", 5, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.Curation.chunkBySentences(
        spark.table(strLit(args(0), "docs_view")),
        window = intLit(args(3), "window"),
        stride = intLit(args(4), "stride"),
        idCol = strLit(args(1), "id_col"),
        textCol = strLit(args(2), "text_col"))
      out.queryExecution.logical
    }),
    //   graft_t_closeness(table_view, quasi_csv, sensitive_col, t_nano)
    // t-closeness distribution-leak audit — same broadcast-spine
    // integer-TVD plan as DataQuality.tClosenessRisk.
    ("graft_t_closeness", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ops.DataQuality.tClosenessRisk(
        spark.table(strLit(args(0), "table_view")),
        strLit(args(1), "quasi_csv").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        strLit(args(2), "sensitive_col"),
        tNano = longLit(args(3), "t_nano"))
      out.queryExecution.logical
    }),
    //   graft_dict_tag(docs_view, id_col, text_col, phrases_csv)
    // Dictionary tagging / C4 badwords scan — same single-pass
    // Aho-Corasick projection as Curation.dictionaryTags (phrases are
    // comma-separated; multi-word phrases keep their internal spaces).
    // CONSTRAINT (shared with the dictionary_tags scalar): the CSV
    // split is unescaped, so a phrase CONTAINING a comma cannot be
    // expressed through the SQL faces — it would silently split into
    // two phrases. Use the Column face (Curation.dictionaryTags), which
    // takes Seq[String] and has no such limit.
    ("graft_dict_tag", 4, args => {
      val spark = org.apache.spark.sql.SparkSession.active
      val out = graft.ext.Curation.dictionaryTags(
        spark.table(strLit(args(0), "docs_view")),
        strLit(args(3), "phrases_csv").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        idCol = strLit(args(1), "id_col"),
        textCol = strLit(args(2), "text_col"))
      out.queryExecution.logical
    }))

  private def dblLit(e: Expression, what: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.sql.types.Decimal, _) =>
      v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** Register the same functions on an already-built session (tests,
    * notebooks). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    registrations.foreach { case (name, arity, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        (args: Seq[Expression]) => {
          require(args.length == arity, s"$name expects $arity arguments, got ${args.length}")
          builder(args)
        })
    }
    tableRegistrations.foreach { case (name, arity, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.ops", name),
        (args: Seq[Expression]) => {
          require(args.length == arity, s"$name expects $arity arguments, got ${args.length}")
          builder(args)
        })
    }
  }
}
