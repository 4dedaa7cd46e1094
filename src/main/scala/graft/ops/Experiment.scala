package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Experimentation analytics: the A/B-test data-quality and variance
  * tooling an analytics platform runs over event/exposure logs. Same
  * discipline as the drift family — counts and power sums exact in
  * integers/decimals, the handful of derived doubles computed from
  * those exact sums by one fixed expression tree (bit-identical in any
  * engine), outputs micro/nano-quantized.
  */
object Experiment {

  /** Sample-ratio-mismatch (SRM) check — the first gate any experiment
    * readout must pass: do the arm sizes match the intended allocation?
    * A mismatched ratio means broken bucketing/logging and invalidates
    * the experiment regardless of its metrics (the classic silent
    * killer: a crash that drops one arm's events). χ² goodness-of-fit
    * against integer allocation weights, each arm's cell
    * (o·W − n·w)² / (n·w·W) quantized by the exact decimal(38,0)
    * floor-divmod split — no float in the statistic. Arms observed in
    * the data but absent from `weights` fail loud (an unknown arm IS
    * the bug); declared arms with zero observations surface with their
    * full expected mass.
    *
    * Plan shape: one grouped count (map-side combined, arm-cardinality
    * sized), a literal weight spine, one broadcast total.
    *
    * Output: one row per declared arm —
    * (arm, n_obs, expected_micro, srm_cell_micro); Σ srm_cell_micro is
    * χ²·10^6 with |arms|−1 degrees of freedom. */
  def srmCheck(df: DataFrame, armCol: String,
      weights: Seq[(String, Long)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"allocation weights must be positive, got $weights")
    val spark = df.sparkSession
    import spark.implicits._
    val dec = "decimal(38,0)"
    val wTot = weights.map(_._2).sum
    val counts = df.select(col(armCol).cast("string").as("arm"))
      .groupBy("arm").agg(count(lit(1)).as("n_obs"))
    val known = weights.map(_._1).toSet
    val unknown = counts.filter(!col("arm").isin(known.toSeq: _*))
      .select("arm").collect().map(_.getString(0))
    require(unknown.isEmpty,
      s"arms observed but not declared in the allocation: ${unknown.mkString(", ")}")
    val spine = weights.toDF("arm", "w")
    val filled = spine.join(counts, Seq("arm"), "left")
      .select(col("arm"), col("w"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
    val tot = filled.agg(sum("n_obs").as("n"))
    val j = filled.crossJoin(broadcast(tot))
    // e = n·w/W exactly; cell = (o·W − n·w)²/(n·w·W), both as the
    // divmod micro split so the oracle replays bit-for-bit
    val eNum = col("n").cast(dec) * col("w")
    val d = col("n_obs").cast(dec) * wTot - eNum
    val den = eNum * wTot
    j.select(col("arm"), col("n_obs"),
      (call_function("div", eNum * lit(1000000L), lit(wTot).cast(dec)))
        .cast("long").as("expected_micro"),
      when(col("n") > 0L,
        call_function("div", d * d * lit(1000000L), den).cast("long"))
        .as("srm_cell_micro"))
  }

  /** CUPED variance reduction (Deng et al. 2013) — adjust each unit's
    * metric with a pre-experiment covariate so the arm comparison runs
    * on residuals: y_adj = y − θ·(x − x̄) with θ = cov(x, y)/var(x).
    * The workhorse of online experimentation: same means, far tighter
    * intervals when x predicts y.
    *
    * θ and x̄ derive from EXACT micro-int power sums (n, Σx, Σy, Σxy,
    * Σx²) in one map-side-combined aggregation — the groupedOls
    * discipline, so the doubles are bit-identical in any engine — and
    * broadcast back onto the rows: one scan + one broadcast join.
    * Rows with a NULL metric or covariate pass through with NULL
    * adjustment (they contribute nothing to the sums); a
    * zero-variance covariate makes θ undefined → NULL adjustments
    * (the covariate carries no information, the signal to drop it).
    *
    * Output: input columns plus `theta_micro` (the shared θ, on every
    * row for self-describing downstream use) and `y_adj_micro`. */
  def cuped(df: DataFrame, metricCol: String,
      covariateCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val yM = round(col(metricCol).cast("double") * lit(1000000L)).cast("long")
    val xM = round(col(covariateCol).cast("double") * lit(1000000L)).cast("long")
    val stats = df
      .filter(col(metricCol).isNotNull && col(covariateCol).isNotNull)
      .agg(count(lit(1L)).as("__n"),
        sum(xM.cast(dec)).as("__sx"), sum(yM.cast(dec)).as("__sy"),
        sum(xM.cast(dec) * yM).as("__sxy"),
        sum(xM.cast(dec) * xM).as("__sxx"))
    val nD = col("__n").cast("double")
    val mx = col("__sx").cast("double") / nD
    val my = col("__sy").cast("double") / nD
    val covXY = col("__sxy").cast("double") / nD - mx * my
    val varX = col("__sxx").cast("double") / nD - mx * mx
    val theta = covXY / varX
    df.crossJoin(broadcast(stats))
      .withColumn("theta_micro",
        when(col("__n") > 1L && varX > 0.0,
          round(theta * lit(1000000L)).cast("long")))
      .withColumn("y_adj_micro",
        when(col(metricCol).isNotNull && col(covariateCol).isNotNull &&
          col("__n") > 1L && varX > 0.0,
          round(yM.cast("double") - theta * (xM.cast("double") - mx))
            .cast("long")))
      .drop("__n", "__sx", "__sy", "__sxy", "__sxx")
  }

  /** Split conformal prediction intervals (Vovk et al. 2005; Lei et al.
    * 2018, "Distribution-Free Predictive Inference for Regression"):
    * given a CALIBRATION frame of (prediction, actual) and a TEST frame
    * of predictions, emit ŷ ± q̂ where q̂ is the k-th smallest absolute
    * calibration residual with k = ⌈(n+1)(1−α)⌉ — finite-sample
    * marginal coverage P(y ∈ interval) ≥ 1−α for exchangeable data,
    * with NO distributional assumption. The model-agnostic uncertainty
    * wrapper every scored-output pipeline can afford.
    *
    * Exactness: predictions/actuals micro-quantize first (floor(x·1e6
    * + 0.5), the quantizeInt8 discipline), residuals are exact int64,
    * k comes from exact integer ceil-division, and q̂ is an exact order
    * statistic off a distinct-residual histogram via the
    * [[Relational.cumBeforeByKey]] RANGE-PARTITIONED cumulative:
    * per-partition subtotals are the only control plane, and the k-th
    * residual is the smallest r whose cumulative reaches k, found by a
    * partition-local window over the one range partition that
    * straddles k. No single-reducer window anywhere, so the
    * plan survives a continuous-target calibration whose distinct
    * residuals grow toward row count. q̂/n/k resolve to ONE
    * control-plane row collected at build (the bloom-TVF precedent)
    * and ride the test projection as literals — zero shuffle on the
    * test side.
    *
    * Fail-loud: k > n (calibration too small for the requested α —
    * n ≥ ⌈1/α⌉ − 1 is the Lei et al. minimum) throws rather than
    * emitting a silently-infinite interval.
    *
    * Output: test rows + (pred_micro, qhat_micro, lo_micro, hi_micro).
    */
  def conformalIntervals(calib: DataFrame, test: DataFrame,
      predCol: String, actualCol: String,
      alphaMicro: Long = 100000L, idCol: String = "id"): DataFrame = {
    require(alphaMicro > 0L && alphaMicro < 1000000L,
      s"alphaMicro must be in (0, 1e6), got $alphaMicro")
    conformalFromHistogram(
      conformalResidualHistogram(calib, predCol, actualCol),
      test, predCol, alphaMicro, idCol)
  }

  private def microCol(c: org.apache.spark.sql.Column) =
    floor(c.cast("double") * 1000000L + 0.5).cast("long")

  /** The conformal machinery's mergeable state: (r, c) counts per
    * distinct micro-int absolute residual — a plain count monoid, so
    * per-batch/per-day histograms union into [[conformalFromHistogram]]
    * without re-scoring history (the tClosenessCellState discipline). */
  def conformalResidualHistogram(calib: DataFrame, predCol: String,
      actualCol: String): DataFrame = calib
    .filter(col(predCol).isNotNull && col(actualCol).isNotNull)
    .select(abs(microCol(col(predCol)) - microCol(col(actualCol))).as("r"))
    .groupBy("r").agg(count(lit(1)).as("c"))

  /** Intervals off a residual-histogram state frame —
    * [[conformalIntervals]] routes through here, so direct and
    * from-state intervals are one code path. Duplicate residual cells
    * from unioned state shards sum first.
    *
    * Plan shape: the distinct-residual cells ride
    * [[Relational.cumBeforeByKey]]; its control-plane totals give n
    * and k exactly (BigInt — no overflow at any n), and q̂ is the
    * smallest r with cumb + c ≥ k. No empty-partitionSpec window
    * touches the histogram, so micro-quantized residuals of a
    * continuous target (distinct cells → row count) never funnel
    * through one reducer.
    *
    * NOTE: q̂/n/k are resolved by two control-plane Spark actions AT
    * BUILD TIME (the bloom-TVF build-action precedent) — constructing
    * this DataFrame, e.g. analyzing a `graft_conformal` TVF query,
    * runs the calibration scan even if the query never executes, and
    * re-analysis re-runs it. Callers that re-plan repeatedly should
    * persist/cache the histogram input. */
  def conformalFromHistogram(histIn: DataFrame, test: DataFrame,
      predCol: String, alphaMicro: Long = 100000L,
      idCol: String = "id"): DataFrame = {
    require(alphaMicro > 0L && alphaMicro < 1000000L,
      s"alphaMicro must be in (0, 1e6), got $alphaMicro")
    val qhat = kthScoreFromHistogram(histIn, alphaMicro)
    test.select(col(idCol), microCol(col(predCol)).as("pred_micro"))
      .withColumn("qhat_micro", lit(qhat))
      .withColumn("lo_micro", col("pred_micro") - qhat)
      .withColumn("hi_micro", col("pred_micro") + qhat)
  }

  /** The conformal family's shared exact order statistic: the k-th
    * smallest score of a (r, c) histogram, k = ⌈(n+1)(1−α)⌉ — the
    * smallest r with cumb + c ≥ k over the
    * [[Relational.cumBeforeByRange]] cumulative (no empty-partitionSpec
    * window anywhere), read in the one range partition whose subtotals
    * straddle k. Duplicate score cells from unioned state shards
    * sum first. Signed scores are fine — only the total order matters
    * (CQR's calibration scores are negative when the actual sits
    * inside the predicted band). */
  private def kthScoreFromHistogram(histIn: DataFrame,
      alphaMicro: Long): Long = {
    val M = 1000000L
    val (cum, parts) = Relational.cumBeforeByRange(
      histIn.groupBy("r").agg(sum("c").as("c")), "r", Seq("c"))
    val n = parts.iterator.map(_._2.head).sum
    // k = ceil((n+1)(M-alpha)/M), exact in BigInt (long would overflow
    // past n ~ 9.2e12 at M = 1e6 — reachable row counts at 100 TB)
    val kBig = (BigInt(n) + 1) * BigInt(M - alphaMicro) + BigInt(M - 1L)
    val k = (kBig / BigInt(M)).toLong
    if (n <= 0L || k > n || k <= 0L) throw new IllegalStateException(
      "conformal calibration is empty or too small for alpha: " +
        s"need n >= ceil(1/alpha) - 1 residuals (alphaMicro=$alphaMicro)")
    // the k-th score lives in the one range partition whose cumulative
    // span reaches k; the __pid filter prunes every other partition
    // below the window. ONE row: qhat — control-plane by design
    val ends = parts.scanLeft(0L)(_ + _._2.head).tail
    val q = cum.filter(col("__pid") === parts(ends.indexWhere(_ >= k))._1 &&
        col("__cumb_c") + col("c") >= k)
      .agg(min("r")).head()
    if (q.isNullAt(0)) throw new IllegalStateException(
      s"unreachable: k=$k <= n=$n but no cell reaches it")
    q.getLong(0)
  }

  /** Conformalized quantile regression (Romano, Patterson & Candès
    * 2019, "Conformalized Quantile Regression"): [[conformalIntervals]]
    * wraps a POINT prediction in a symmetric band — constant width
    * everywhere, so heteroscedastic data over-covers easy regions and
    * under-covers noisy ones. CQR instead starts from a pair of
    * QUANTILE predictions (loCol, hiCol — e.g. a pinball-loss model's
    * α/2 and 1−α/2 heads) and calibrates the conformity score
    *
    *   r = max(lo − y, y − hi)
    *
    * — SIGNED: negative when y sits inside the band, so calibration can
    * SHRINK an over-wide band, not only widen. q̂ is the usual
    * ⌈(n+1)(1−α)⌉-th smallest score ([[kthScoreFromHistogram]] — the
    * same range-partitioned machinery), and the interval
    * [lo − q̂, hi + q̂] carries the finite-sample marginal 1−α
    * guarantee while ADAPTING width to the base model's local
    * uncertainty.
    *
    * Same exactness/fail-loud/plan contracts as the point face:
    * micro-quantized int64 scores, BigInt k, control-plane q̂ riding
    * the test projection as a literal, zero shuffle on the test side.
    *
    * Output: test rows + (lo_pred_micro, hi_pred_micro, qhat_micro,
    * lo_micro, hi_micro). */
  def cqrIntervals(calib: DataFrame, test: DataFrame,
      loCol: String, hiCol: String, actualCol: String,
      alphaMicro: Long = 100000L, idCol: String = "id"): DataFrame = {
    require(alphaMicro > 0L && alphaMicro < 1000000L,
      s"alphaMicro must be in (0, 1e6), got $alphaMicro")
    cqrFromHistogram(cqrScoreHistogram(calib, loCol, hiCol, actualCol),
      test, loCol, hiCol, alphaMicro, idCol)
  }

  /** CQR's mergeable state: (r, c) counts per distinct SIGNED
    * conformity score max(lo−y, y−hi) in micro ints — a count monoid,
    * so per-slice histograms union into [[cqrFromHistogram]] without
    * re-scoring history (the conformalResidualHistogram discipline). */
  def cqrScoreHistogram(calib: DataFrame, loCol: String, hiCol: String,
      actualCol: String): DataFrame = calib
    .filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
      col(actualCol).isNotNull)
    .select(greatest(
      microCol(col(loCol)) - microCol(col(actualCol)),
      microCol(col(actualCol)) - microCol(col(hiCol))).as("r"))
    .groupBy("r").agg(count(lit(1)).as("c"))

  /** [[cqrIntervals]] off a persisted/merged score-histogram state —
    * direct and from-state intervals are one code path. */
  def cqrFromHistogram(histIn: DataFrame, test: DataFrame,
      loCol: String, hiCol: String, alphaMicro: Long = 100000L,
      idCol: String = "id"): DataFrame = {
    require(alphaMicro > 0L && alphaMicro < 1000000L,
      s"alphaMicro must be in (0, 1e6), got $alphaMicro")
    val qhat = kthScoreFromHistogram(histIn, alphaMicro)
    test.select(col(idCol),
        microCol(col(loCol)).as("lo_pred_micro"),
        microCol(col(hiCol)).as("hi_pred_micro"))
      .withColumn("qhat_micro", lit(qhat))
      .withColumn("lo_micro", col("lo_pred_micro") - qhat)
      .withColumn("hi_micro", col("hi_pred_micro") + qhat)
  }

  /** Mondrian (group-conditional) split conformal (Vovk 2005 §4.5;
    * "Mondrian conformal prediction"): [[conformalIntervals]]'s
    * marginal guarantee averages over the population — a segment with
    * noisier predictions silently under-covers while an easy segment
    * over-covers. Calibrating q̂ PER GROUP restores the guarantee
    * within every segment: coverage ≥ 1−α conditional on the group.
    *
    * Fully distributed (no driver collect, unlike the global face): one
    * grouped residual histogram, one group-partitioned cumulative
    * window over distinct-residual cells, and ONE broadcast join of the
    * groups-sized q̂ frame onto the test rows. Groups whose calibration
    * is too small for α (k > n) get NULL bounds — per-group fail-soft
    * where the global face fails loud, because one thin segment must
    * not sink every other segment's intervals (the NULL surfaces the
    * gap to route around, the quantileBinsDiscrete contract).
    *
    * Output: test rows + (pred_micro, qhat_micro, lo_micro, hi_micro),
    * NULLs for uncalibratable groups. */
  def conformalIntervalsByGroup(calib: DataFrame, test: DataFrame,
      groupCol: String, predCol: String, actualCol: String,
      alphaMicro: Long = 100000L, idCol: String = "id"): DataFrame = {
    require(alphaMicro > 0L && alphaMicro < 1000000L,
      s"alphaMicro must be in (0, 1e6), got $alphaMicro")
    val M = 1000000L
    val hist = calib
      .filter(col(predCol).isNotNull && col(actualCol).isNotNull)
      .select(col(groupCol).as("__g"),
        abs(microCol(col(predCol)) - microCol(col(actualCol))).as("r"))
      .groupBy("__g", "r").agg(count(lit(1)).as("c"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy("r").rowsBetween(Long.MinValue, 0)
    val all = org.apache.spark.sql.expressions.Window.partitionBy("__g")
    val dec = "decimal(38,0)"
    val qhats = hist
      .withColumn("cum", sum("c").over(win))
      .withColumn("n", sum("c").over(all))
      .withColumn("k", call_function("div",
        (col("n").cast(dec) + 1L) * lit(M - alphaMicro) + lit(M - 1L), lit(M))
        .cast("long"))
      .filter(col("cum") >= col("k")) // empty for k > n groups -> NULL via left join
      .groupBy("__g").agg(min("r").as("qhat_micro"))
    test.select(col(idCol), col(groupCol), microCol(col(predCol)).as("pred_micro"))
      .join(broadcast(qhats), col(groupCol) === col("__g"), "left")
      .select(col(idCol), col(groupCol), col("pred_micro"), col("qhat_micro"),
        (col("pred_micro") - col("qhat_micro")).as("lo_micro"),
        (col("pred_micro") + col("qhat_micro")).as("hi_micro"))
  }

  /** Mann–Whitney U rank-sum test (Mann & Whitney 1947) — the
    * nonparametric two-sample A/B readout: does `groupA`'s metric
    * stochastically dominate `groupB`'s, with NO normality assumption?
    * The robust complement to the t-style CUPED pipeline for heavy-
    * tailed metrics (revenue, latency) where means mislead.
    *
    * Exactness: values micro-quantize (the conformal grid — ranks are
    * computed on the micro grid, the documented tie convention), the
    * VALUE HISTOGRAM carries per-group counts per distinct value, and
    * the tie-corrected rank sum uses mid-ranks through the doubled
    * identity (2·midrank = 2·cum_before + t + 1, integer always):
    *
    *   2·R_A = Σ_v cA(v) · (2·cumb(v) + t(v) + 1)   (decimal(38,0))
    *   2·U_A = 2·R_A − nA(nA+1),  2·U_B = 2·nA·nB − 2·U_A
    *
    * z is the tie-corrected normal approximation computed by ONE fixed
    * double expression from those exact sums (the drift-family
    * discipline; no continuity correction — documented):
    *
    *   z = (2U_A − nAnB) / (2·√(nAnB/12 · (N+1 − ΣT(t³−t)/(N(N−1)))))
    *
    * Plan shape: one map-side-combined histogram shuffle on the micro
    * value, the [[Relational.cumBeforeByKey]] range-partitioned
    * cumulative (never a single-reducer window — the histogram of a
    * continuous metric grows toward row count), one scalar aggregate.
    *
    * Degenerate contract: z is NULL when either group is empty, N < 2,
    * or the variance is 0 (all values tied); u2/tie outputs are still
    * exact. u2 casts to long fail loud past nA·nB ~ 4.6e18 (ANSI) —
    * beyond any per-experiment arm size.
    *
    * Output: one row — (n_a, n_b, u2_a, u2_b, tie_term, z_nano) where
    * u2_* = 2·U_* (exact integers; halves never materialize). */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    mannWhitneyFromState(mwValueState(df, groupCol, valueCol, groupA, groupB))
  }

  /** [[mannWhitney]]'s mergeable state: (vq, ca, t) counts per distinct
    * micro value — group-A count and total count are both count
    * monoids, so per-slice states union into
    * [[mannWhitneyFromState]] (merge duplicate cells by summing)
    * without rescanning history — weekly A/B readouts off persisted
    * state alone, the valueCountState discipline. */
  def mwValueState(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = df
    .filter(col(valueCol).isNotNull && col(groupCol).isin(groupA, groupB))
    .select(microCol(col(valueCol)).as("vq"), col(groupCol).as("g"))
    .groupBy("vq").agg(
      sum(when(col("g") === groupA, 1L).otherwise(0L)).as("ca"),
      count(lit(1)).as("t"))

  /** Ungrouped micro-value histogram (vq, t) — the one-sample state
    * the streaming MW drift gate folds (a count monoid); a reference
    * snapshot and live mass built through this face rank against each
    * other via [[mannWhitneyFromState]] with the reference entering
    * as the group-A counts. */
  def mwMicroHistogram(df: DataFrame, valueCol: String): DataFrame = df
    .filter(col(valueCol).isNotNull)
    .groupBy(microCol(col(valueCol)).as("vq"))
    .agg(count(lit(1)).as("t"))

  /** The U statistic off a (vq, ca, t) state frame — direct and
    * from-state readouts are one code path; duplicate cells from
    * unioned state shards sum first. */
  def mannWhitneyFromState(state: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val hist = state.groupBy("vq")
      .agg(sum("ca").as("ca"), sum("t").as("t"))
    val (cum, _) = Relational.cumBeforeByKey(hist, "vq", Seq("ca", "t"))
    val agg = cum.agg(
      sum(col("ca").cast(dec) *
        (lit(2L) * col("__cumb_t") + col("t") + lit(1L)).cast(dec)).as("r2a"),
      sum(col("t").cast(dec) * col("t") * col("t") - col("t")).as("tie_d"),
      max(col("__tot_ca")).as("na"),
      max(col("__tot_t")).as("nn"))
    val u2a = col("r2a") - col("na").cast(dec) * (col("na") + lit(1L)).cast(dec)
    val naD = col("na").cast("double")
    val nbD = (col("nn") - col("na")).cast("double")
    val nD = col("nn").cast("double")
    // variance inner term; z by ONE fixed double tree (mirrored
    // operand-for-operand in the DuckDB oracle)
    val inner = nD + lit(1.0) -
      col("tie_d").cast("double") / (nD * (nD - lit(1.0)))
    val zf = (u2a.cast("double") - naD * nbD) /
      (lit(2.0) * sqrt(naD * nbD / lit(12.0) * inner))
    agg.select(
      coalesce(col("na"), lit(0L)).as("n_a"),
      coalesce(col("nn") - col("na"), lit(0L)).as("n_b"),
      u2a.cast("long").as("u2_a"),
      (lit(2L).cast(dec) * col("na").cast(dec) *
        (col("nn") - col("na")).cast(dec) - u2a).cast("long").as("u2_b"),
      col("tie_d").cast("long").as("tie_term"),
      when(col("na") > 0L && col("nn") - col("na") > 0L &&
        col("nn") > 1L && inner > 0.0,
        floor(zf * lit(1.0e9) + lit(0.5)).cast("long")).as("z_nano"))
  }

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952) — [[mannWhitney]]'s
    * k-group generalization: do ANY of the arms differ in location,
    * with no normality assumption? The one-shot omnibus gate before
    * pairwise readouts.
    *
    * Exactness: micro-grid values; per-VALUE totals t(v) ride the
    * [[Relational.cumBeforeByKey]] range-partitioned cumulative; each
    * group's doubled mid-rank sum 2R_g = Σ_v c_g(v)·(2·cumb(v)+t(v)+1)
    * is exact decimal(38,0); the cross-group aggregate
    * S = Σ_g ⌊(2R_g)² / (4·n_g)⌋ floor-quantizes PER GROUP so the sum
    * is an exact integer in BOTH engines (a per-group double would sum
    * in engine-dependent order) — the ≤ 1/group floor loss shifts H by
    * ≤ 12k/(N(N+1)), far below any decision threshold, and
    * IDENTICALLY in every engine. The (2R_g)² square fails loud
    * (decimal(38,0), ANSI) past N ≈ 1.5e9 rows per test — beyond any
    * per-readout arm size; pre-aggregate heavier inputs.
    *
    *   H = [12·S/(N(N+1)) − 3(N+1)] / (1 − ΣT(t³−t)/(N³−N))
    *
    * — ONE fixed double tree over exact ints, mirrored in the oracle.
    * NULL h on N < 2 or zero variance (all values tied).
    *
    * Output: one row — (n, n_groups, tie_term, h_nano). */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val src = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(microCol(col(valueCol)).as("vq"), col(groupCol).as("g"))
    val perVal = src.groupBy("vq").agg(count(lit(1)).as("t"))
    // fence: the rank join AND the tie-correction aggregate both read
    // the cumulative cells — the stitch must not recompute per consumer
    val cum = graft.ext.Materialize(
      Relational.cumBeforeByKey(perVal, "vq", Seq("t"))._1)
    val perGroupVal = src.groupBy("g", "vq").agg(count(lit(1)).as("cg"))
    val grp = perGroupVal.join(cum, Seq("vq"))
      .groupBy("g")
      .agg(sum(col("cg").cast(dec) *
          (lit(2L) * col("__cumb_t") + col("t") + lit(1L)).cast(dec))
          .as("r2g"),
        sum(col("cg")).as("ng"),
        max(col("__tot_t")).as("nn"))
    val agg = grp.agg(
      sum(call_function("div", col("r2g") * col("r2g"),
        lit(4L).cast(dec) * col("ng").cast(dec))).as("s_q_d"),
      count(lit(1)).as("n_groups"),
      max(col("nn")).as("nn"))
    // tie term rides the value-level frame; one-row cross join
    val tie = cum.agg(coalesce(
      sum(col("t").cast(dec) * col("t") * col("t") - col("t")),
      lit(0L).cast(dec)).as("tie_d"))
    val nD = col("nn").cast("double")
    val hRaw = lit(12.0) * col("s_q_d").cast("double") /
      (nD * (nD + lit(1.0))) - lit(3.0) * (nD + lit(1.0))
    val corr = lit(1.0) - col("tie_d").cast("double") /
      (nD * nD * nD - nD)
    agg.crossJoin(broadcast(tie)).select(
      coalesce(col("nn"), lit(0L)).as("n"),
      col("n_groups"),
      col("tie_d").cast("long").as("tie_term"),
      when(col("nn") > 1L && corr > 0.0,
        floor(hRaw / corr * lit(1.0e9) + lit(0.5)).cast("long"))
        .as("h_nano"))
  }

  /** Wilcoxon signed-rank test (Wilcoxon 1945) — the PAIRED
    * nonparametric readout: same units measured pre/post (or under two
    * treatments); does the median paired difference differ from zero?
    * The rank-based complement to a paired t-test for skewed deltas.
    *
    * Standard conventions: zero differences DROP (Wilcoxon's rule),
    * |d| ranks with mid-ranks on the micro grid, W⁺ = Σ ranks of
    * positive d. Doubled identity through the |d| HISTOGRAM with
    * positive-side counts (the [[mannWhitney]] machinery on
    * [[Relational.cumBeforeByKey]]):
    *
    *   2·W⁺ = Σ_v cpos(v) · (2·cumb(v) + t(v) + 1)    (exact decimal)
    *   z = (2W⁺ − n(n+1)/2) / (2·√(n(n+1)(2n+1)/24 − ΣT(t³−t)/48))
    *
    * — ONE fixed double tree over exact ints, mirrored in the oracle;
    * no continuity correction (documented). NULL z when n = 0 or the
    * variance is non-positive (every |d| tied can still leave positive
    * variance; n < 1 cannot).
    *
    * Output: one row — (n, w2_pos, w2_neg, tie_term, z_nano), w2 = 2W. */
  def wilcoxonSignedRank(df: DataFrame, preCol: String,
      postCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.filter(col(preCol).isNotNull && col(postCol).isNotNull)
      .select((microCol(col(postCol)) - microCol(col(preCol))).as("d"))
      .filter(col("d") =!= 0L)
    val hist = d.groupBy(abs(col("d")).as("ad")).agg(
      sum(when(col("d") > 0L, 1L).otherwise(0L)).as("cpos"),
      count(lit(1)).as("t"))
    val (cum, _) = Relational.cumBeforeByKey(hist, "ad", Seq("t"))
    val agg = cum.agg(
      sum(col("cpos").cast(dec) *
        (lit(2L) * col("__cumb_t") + col("t") + lit(1L)).cast(dec)).as("w2p"),
      sum(col("t").cast(dec) * col("t") * col("t") - col("t")).as("tie_d"),
      max(col("__tot_t")).as("nn"))
    val nD = col("nn").cast("double")
    // w2p + w2n = 2(W+ + W-) = n(n+1)
    val w2n = col("nn").cast(dec) * (col("nn") + lit(1L)).cast(dec) - col("w2p")
    val variance = nD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0)) /
      lit(24.0) - col("tie_d").cast("double") / lit(48.0)
    val zf = (col("w2p").cast("double") - nD * (nD + lit(1.0)) / lit(2.0)) /
      (lit(2.0) * sqrt(variance))
    agg.select(
      coalesce(col("nn"), lit(0L)).as("n"),
      coalesce(col("w2p").cast("long"), lit(0L)).as("w2_pos"),
      coalesce(w2n.cast("long"), lit(0L)).as("w2_neg"),
      coalesce(col("tie_d").cast("long"), lit(0L)).as("tie_term"),
      when(col("nn") > 0L && variance > 0.0,
        floor(zf * lit(1.0e9) + lit(0.5)).cast("long")).as("z_nano"))
  }

  /** Quantile treatment effects (QTE) — where in the DISTRIBUTION did
    * the treatment move the metric? Mean lifts hide tail effects (a
    * latency win at p50 that regresses p95, a revenue change driven by
    * whales); QTE reports Q_A(p) − Q_B(p) at each requested quantile.
    *
    * Exactness: ONE shared micro-value histogram carries BOTH arms'
    * counts through a single [[Relational.cumBeforeByKey]] pass
    * (two cumulative columns in one range-partitioned stitch — never
    * a per-arm one-reducer window, and never two materialization
    * passes); the p-th empirical quantile is the type-1 order
    * statistic k = ⌈p·n⌉ resolved IN-PLAN by joining the cumulative
    * cells against the broadcast p-spine on cumb < k ≤ cumb + t (k in
    * decimal — p·n overflows long at 100 TB row counts). An absent
    * arm fails soft: its k is 0, no cell matches, the full join
    * surfaces NULLs.
    *
    * Output: one row per requested p —
    * (p_micro, n_a, n_b, q_a_micro, q_b_micro, qte_micro). */
  def quantileTreatmentEffect(df: DataFrame, groupCol: String,
      valueCol: String, groupA: String, groupB: String,
      pMicros: Seq[Long] = Seq(250000L, 500000L, 750000L)): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    require(pMicros.nonEmpty && pMicros.forall(p => p > 0L && p <= 1000000L),
      s"pMicros must be in (0, 1e6]: $pMicros")
    // a duplicated p would duplicate spine rows and turn the final
    // full join on p_micro many-to-many, multiplying output rows
    require(pMicros.distinct.size == pMicros.size,
      s"pMicros must be distinct: $pMicros")
    val spark = df.sparkSession
    import spark.implicits._
    val dec = "decimal(38,0)"
    val pSpine = broadcast(pMicros.sorted.toDF("p_micro"))
    val hist = df
      .filter(col(valueCol).isNotNull && col(groupCol).isin(groupA, groupB))
      .groupBy(microCol(col(valueCol)).as("vq"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ta"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("tb"))
    // ONE pass resolves BOTH arms: the |pMicros|-row broadcast spine
    // crosses the cumulative cells once and each arm's non-equi band
    // condition (cumb < k <= cumb + t, which exactly one cell per
    // (p, arm) satisfies; a zero-count cell can never straddle k)
    // is evaluated in the same scan — the per-arm shape ran two
    // near-identical jobs over the cells (measured twin 0.9s jobs on
    // exp_qte) and full-joined them back. max(when(hit, ...)) per p
    // picks each arm's unique straddling cell; an absent arm (tot = 0
    // -> k = 0 -> no hit) surfaces NULLs, and a p where NEITHER arm
    // hits emits no row — both exactly the old full join's row set.
    // Single consumer now, so the cells need no fence.
    val (cum, _) = Relational.cumBeforeByKey(hist, "vq", Seq("ta", "tb"))
    def kOf(c: String) = call_function("div",
      col("p_micro").cast(dec) * col(s"__tot_$c").cast(dec) + lit(999999L),
      lit(1000000L))
    def hit(c: String) = col(s"__cumb_$c").cast(dec) < kOf(c) &&
      kOf(c) <= (col(s"__cumb_$c") + col(c)).cast(dec)
    cum.crossJoin(pSpine)
      .filter(hit("ta") || hit("tb"))
      .groupBy(col("p_micro"))
      .agg(max(when(hit("ta"), col("__tot_ta"))).as("n_a"),
        max(when(hit("tb"), col("__tot_tb"))).as("n_b"),
        max(when(hit("ta"), col("vq"))).as("q_a_micro"),
        max(when(hit("tb"), col("vq"))).as("q_b_micro"))
      .select(col("p_micro"), col("n_a"), col("n_b"),
        col("q_a_micro"), col("q_b_micro"),
        (col("q_a_micro") - col("q_b_micro")).as("qte_micro"))
  }

  /** McNemar's test (McNemar 1947) — the PAIRED binary readout: same
    * units observed under two conditions (did the new ranker convert
    * users the old one lost, net of the reverse?). Only the DISCORDANT
    * pairs carry signal: b = (yes, no), c = (no, yes),
    * χ² = (b − c)²/(b + c). All exact: counts from one aggregation,
    * the statistic by the decimal floor-divmod micro split — no float
    * anywhere. NULL χ² when b + c = 0 (no discordance, no evidence).
    *
    * Output: one row — (n, n_both, n_pre_only, n_post_only, n_neither,
    * chi2_micro). */
  def mcnemar(df: DataFrame, preCol: String, postCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val agg = df.filter(col(preCol).isNotNull && col(postCol).isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(col(preCol) && col(postCol), 1L).otherwise(0L)).as("n_both"),
        sum(when(col(preCol) && !col(postCol), 1L).otherwise(0L)).as("b"),
        sum(when(!col(preCol) && col(postCol), 1L).otherwise(0L)).as("c"),
        sum(when(!col(preCol) && !col(postCol), 1L).otherwise(0L)).as("n_neither"))
    val d = (col("b") - col("c")).cast(dec)
    agg.select(col("n"), col("n_both"),
      col("b").as("n_pre_only"), col("c").as("n_post_only"),
      col("n_neither"),
      when(col("b") + col("c") > 0L,
        call_function("div", d * d * lit(1000000L),
          (col("b") + col("c")).cast(dec)).cast("long")).as("chi2_micro"))
  }

  /** Two-proportion z-test — the conversion-rate readout: does arm A
    * convert at a different rate than arm B? Pooled-variance normal
    * approximation,
    *
    *   z = (p_A − p_B) / √(p̂(1−p̂)(1/n_A + 1/n_B)),  p̂ pooled,
    *
    * from four exact counts by ONE fixed double tree mirrored in the
    * oracle (the mannWhitney z discipline); the rate difference also
    * surfaces as an exact integer ⌊10^6·(x_A·n_B − x_B·n_A)/(n_A·n_B)⌋
    * decimal division. NULL z when either arm is empty or the pooled
    * rate is degenerate (all successes or all failures — zero
    * variance).
    *
    * Output: one row — (n_a, x_a, n_b, x_b, diff_micro, z_nano). */
  def proportionTest(df: DataFrame, groupCol: String, successCol: String,
      groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    val dec = "decimal(38,0)"
    val agg = df
      .filter(col(successCol).isNotNull && col(groupCol).isin(groupA, groupB))
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("na"),
        sum(when(col(groupCol) === groupA && col(successCol), 1L)
          .otherwise(0L)).as("xa"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("nb"),
        sum(when(col(groupCol) === groupB && col(successCol), 1L)
          .otherwise(0L)).as("xb"))
    val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
    val pa = col("xa").cast("double") / naD
    val pb = col("xb").cast("double") / nbD
    val pp = (col("xa") + col("xb")).cast("double") /
      (col("na") + col("nb")).cast("double")
    val zf = (pa - pb) /
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / naD + lit(1.0) / nbD))
    agg.select(
      col("na").as("n_a"), col("xa").as("x_a"),
      col("nb").as("n_b"), col("xb").as("x_b"),
      when(col("na") > 0L && col("nb") > 0L,
        call_function("div",
          (col("xa").cast(dec) * col("nb") - col("xb").cast(dec) * col("na"))
            * lit(1000000L),
          col("na").cast(dec) * col("nb")).cast("long")).as("diff_micro"),
      when(col("na") > 0L && col("nb") > 0L &&
        col("xa") + col("xb") > 0L &&
        col("xa") + col("xb") < col("na") + col("nb"),
        floor(zf * lit(1.0e9) + lit(0.5)).cast("long")).as("z_nano"))
  }

  /** Winsorized mean per arm — the robust metric readout every revenue
    * experiment needs (one whale order must not decide the test):
    * values clamp to the arm's own [p_lo, p_hi] type-1 quantile cuts
    * before averaging.
    *
    * Exactness: the SAME fused two-arm histogram + single
    * [[Relational.cumBeforeByKey]] pass as
    * [[quantileTreatmentEffect]]; each arm's cuts resolve by the
    * broadcast band join, and the winsorized sum is
    * Σ_cells t·clamp(v, lo, hi) — exact decimal over micro ints, so
    * the mean is one exact integer division. Tie cells at the cuts
    * clamp correctly by construction.
    *
    * Output: one row per arm — (arm, n, lo_cut_micro, hi_cut_micro,
    * wmean_micro); an absent arm simply has no row. */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String,
      pLoMicro: Long = 50000L, pHiMicro: Long = 950000L): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    require(0L < pLoMicro && pLoMicro < pHiMicro && pHiMicro <= 1000000L,
      s"need 0 < pLo < pHi <= 1e6: ($pLoMicro, $pHiMicro)")
    val spark = df.sparkSession
    import spark.implicits._
    val dec = "decimal(38,0)"
    val hist = df
      .filter(col(valueCol).isNotNull && col(groupCol).isin(groupA, groupB))
      .groupBy(microCol(col(valueCol)).as("vq"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ta"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("tb"))
    // fence: each arm reads the cumulative cells TWICE (cut resolution
    // + the winsorized sum) — four consumers of the stitched window
    val cum = graft.ext.Materialize(
      Relational.cumBeforeByKey(hist, "vq", Seq("ta", "tb"))._1)
    val pSpine = broadcast(Seq(pLoMicro, pHiMicro).toDF("p_micro"))
    def arm(c: String, label: String): DataFrame = {
      val k = call_function("div",
        col("p_micro").cast(dec) * col(s"__tot_$c").cast(dec) + lit(999999L),
        lit(1000000L))
      val cuts = cum.crossJoin(pSpine)
        .filter(col(s"__cumb_$c").cast(dec) < k &&
          k <= (col(s"__cumb_$c") + col(c)).cast(dec))
        .groupBy()
        .agg(min(when(col("p_micro") === pLoMicro, col("vq"))).as("lo"),
          min(when(col("p_micro") === pHiMicro, col("vq"))).as("hi"))
      cum.crossJoin(broadcast(cuts))
        .agg(
          sum(col(c).cast(dec) *
            greatest(col("lo"), least(col("hi"), col("vq"))).cast(dec))
            .as("wsum"),
          max(col(s"__tot_$c")).as("n"),
          max(col("lo")).as("lo_cut_micro"),
          max(col("hi")).as("hi_cut_micro"))
        .filter(col("n") > 0L)
        .select(lit(label).as("arm"), col("n"),
          col("lo_cut_micro"), col("hi_cut_micro"),
          call_function("div", col("wsum"), col("n").cast(dec))
            .cast("long").as("wmean_micro"))
    }
    arm("ta", groupA).unionByName(arm("tb", groupB))
  }

  /** Difference-in-differences (the 2×2 natural-experiment readout):
    * DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) — the treated
    * arm's change net of the control arm's trend. Four exact micro
    * sums + counts (one map-side-combined aggregation), the four means
    * and the estimate by ONE fixed double tree mirrored in the oracle
    * (the CUPED discipline). NULL estimate when any cell is empty.
    *
    * Output: one row — (n_t_pre, n_t_post, n_c_pre, n_c_post,
    * mean_t_pre_nano, mean_t_post_nano, mean_c_pre_nano,
    * mean_c_post_nano, did_nano). */
  def diffInDiff(df: DataFrame, groupCol: String, periodCol: String,
      valueCol: String, treatGroup: String, controlGroup: String,
      prePeriod: String, postPeriod: String): DataFrame = {
    require(treatGroup != controlGroup && prePeriod != postPeriod,
      "treat/control groups and pre/post periods must differ")
    val dec = "decimal(38,0)"
    def cell(g: String, p: String, tag: String) = Seq(
      sum(when(col(groupCol) === g && col(periodCol) === p,
        microCol(col(valueCol))).cast(dec)).as(s"s_$tag"),
      sum(when(col(groupCol) === g && col(periodCol) === p, 1L)
        .otherwise(0L)).as(s"n_$tag"))
    val aggs = cell(treatGroup, prePeriod, "t_pre") ++
      cell(treatGroup, postPeriod, "t_post") ++
      cell(controlGroup, prePeriod, "c_pre") ++
      cell(controlGroup, postPeriod, "c_post")
    val agg = df.filter(col(valueCol).isNotNull)
      .agg(aggs.head, aggs.tail: _*)
    def meanN(tag: String) =
      col(s"s_$tag").cast("double") / col(s"n_$tag").cast("double")
    val ok = col("n_t_pre") > 0L && col("n_t_post") > 0L &&
      col("n_c_pre") > 0L && col("n_c_post") > 0L
    def nano(c: org.apache.spark.sql.Column) =
      floor(c * lit(1000.0) + lit(0.5)).cast("long")
    val did = meanN("t_post") - meanN("t_pre") -
      (meanN("c_post") - meanN("c_pre"))
    agg.select(
      col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
      when(col("n_t_pre") > 0L, nano(meanN("t_pre"))).as("mean_t_pre_nano"),
      when(col("n_t_post") > 0L, nano(meanN("t_post"))).as("mean_t_post_nano"),
      when(col("n_c_pre") > 0L, nano(meanN("c_pre"))).as("mean_c_pre_nano"),
      when(col("n_c_post") > 0L, nano(meanN("c_post"))).as("mean_c_post_nano"),
      when(ok, nano(did)).as("did_nano"))
  }

  /** Delete-one-bucket jackknife standard error for a RATIO metric
    * (Σ numerator / Σ denominator — CTR, revenue per session, tokens
    * per doc): the estimator every experiment platform uses because a
    * ratio of sums has no closed-form variance and unit-level deltas
    * are correlated within the denominator.
    *
    * Exactness: units hash deterministically into `buckets` buckets by
    * pure integer arithmetic (engine-portable — no engine hash); each
    * bucket carries EXACT micro-sums; every leave-one-out ratio
    * quantizes to nano BEFORE the spread is computed, so the variance
    * arithmetic Σ(B·r_b − Σr)² runs on exact integers in decimal and
    * the only doubles are one division per bucket and the final
    * √-scale — both fixed trees mirrored in the oracle.
    *
    *   θ̂ = SN/SD;  se² = (B−1)/B · Σ_b (r_b − r̄)²,
    *   r_b = (SN − sn_b)/(SD − sd_b)
    *
    * Degenerate contract: any bucket whose left-out denominator is
    * ≤ 0, or SD ≤ 0, yields NULL theta/se (a poisoned ratio must not
    * silently pass). B counts the OCCUPIED buckets — delete-one over
    * the groups the hash actually filled.
    *
    * Output: one row — (n_buckets, theta_nano, se_nano). */
  def jackknifeRatio(df: DataFrame, idCol: String, numCol: String,
      denCol: String, buckets: Int = 64): DataFrame = {
    require(buckets >= 2, s"need >= 2 buckets: $buckets")
    val dec = "decimal(38,0)"
    val P = 1000000007L
    val b = pmod(pmod(col(idCol).cast("long"), lit(P)) * lit(654435747L),
      lit(P)) % buckets
    val perBucket = df
      .filter(col(numCol).isNotNull && col(denCol).isNotNull &&
        col(idCol).isNotNull) // a NULL id must not mint a phantom bucket
      .groupBy(b.as("bucket"))
      .agg(sum(microCol(col(numCol)).cast(dec)).as("sn"),
        sum(microCol(col(denCol)).cast(dec)).as("sd"))
    val tot = perBucket.agg(
      sum(col("sn")).as("tn"), sum(col("sd")).as("td"),
      count(lit(1)).as("nb"))
    val joined = perBucket.crossJoin(broadcast(tot))
    // per-bucket leave-one-out ratio, nano-quantized (ONE double
    // division each — deterministic; everything after is integer)
    val rNano = floor((col("tn") - col("sn")).cast("double") /
      (col("td") - col("sd")).cast("double") * lit(1.0e9) + lit(0.5))
      .cast("long")
    val rb = joined
      .withColumn("__bad",
        (col("td") <= col("sd")) || (col("td") <= 0L))
      .withColumn("r_nano", when(!col("__bad"), rNano))
    val agg = rb.agg(
      sum(col("r_nano").cast(dec)).as("sr"),
      sum(col("r_nano").cast(dec) * col("r_nano").cast(dec)).as("srr"),
      count(col("r_nano")).as("n_ok"),
      max(col("nb")).as("nb"),
      max(col("tn")).as("tn"), max(col("td")).as("td"))
    // Σ(B·r − Σr)² = B²·Σr² − 2·B·Σr·Σr + B·(Σr)² = B²·Σr² − B·(Σr)²
    val bL = col("nb").cast(dec)
    val sumDev2 = bL * bL * col("srr") - bL * col("sr") * col("sr")
    val varN = (bL - lit(1L).cast(dec)).cast("double") / bL.cast("double") *
      sumDev2.cast("double") / (bL.cast("double") * bL.cast("double")) /
      lit(1.0e18)
    agg.select(
      col("nb").as("n_buckets"),
      when(col("td") > 0L && col("n_ok") === col("nb"),
        floor(col("tn").cast("double") / col("td").cast("double") *
          lit(1.0e9) + lit(0.5)).cast("long")).as("theta_nano"),
      when(col("td") > 0L && col("n_ok") === col("nb"),
        floor(sqrt(varN) * lit(1.0e9) + lit(0.5)).cast("long")).as("se_nano"))
  }

  /** Benjamini–Hochberg step-up FDR adjustment (Benjamini & Hochberg
    * 1995) over per-group hypothesis frames — the guard a multi-metric
    * experiment readout needs: at 20 metrics per experiment, α = 0.05
    * expects one false positive per readout; BH caps the FALSE
    * DISCOVERY RATE instead of the per-test error.
    *
    * All integer: p-values arrive micro-scaled; the adjusted value is
    *   p̂_(i) = min_{j ≥ i} ⌈m·p_(j)/j⌉   (capped at 10^6)
    * computed as a suffix-min window over ranks descending. The CEIL
    * quantization is the conservative side (an adjusted p never rounds
    * DOWN across the α threshold), and `reject` = p̂ ≤ α — equivalent
    * to the classic step-up rule under that quantization. Ties in p
    * break by `idCol` (a total order, so ranks are pure functions of
    * the data). Input contract: `pCol` values must already sit in
    * [0, 10^6]; m·p stays far under long overflow for any realistic
    * hypothesis count.
    *
    * Plan shape: both windows partition by `groupCol` — experiments
    * rank in parallel, and each group's frame is hypothesis-sized
    * (#metrics), never data-sized. Output: input rows + (rank, m,
    * p_adj_micro, reject). */
  def bhAdjust(df: DataFrame, groupCol: String, idCol: String,
      pCol: String, alphaMicro: Long = 50000L): DataFrame = {
    require(alphaMicro > 0L && alphaMicro <= 1000000L,
      s"alphaMicro must be in (0, 1e6], got $alphaMicro")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col(pCol).asc, col(idCol).asc)
    val wGrp = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val wSuffix = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col(pCol).desc, col(idCol).desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(col(groupCol), col(idCol), col(pCol))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("m", count(lit(1)).over(wGrp))
      // ceil(m·p/rank) = div(m·p + rank − 1, rank); m·p ≤ m·10^6 — long
      .withColumn("__term", least(lit(1000000L), call_function("div",
        col("m") * col(pCol) + col("rank") - lit(1L), col("rank"))))
      .withColumn("p_adj_micro", min(col("__term")).over(wSuffix))
      .withColumn("reject", col("p_adj_micro") <= lit(alphaMicro))
      .drop("__term")
  }
}
