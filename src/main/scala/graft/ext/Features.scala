package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML feature engineering over tabular corpora — the transforms a
  * training-data pipeline applies after curation and before export.
  * Reference scope: the reference's rule engine feeds cleaned frames to
  * downstream ML (rajatparida125/etl-tool-rep main.py:140-171 transforms);
  * these are the standard encodings that step needs at scale.
  */
object Features {

  /** Range-partitioned cumulative over a (value, __cnt) histogram —
    * [[graft.ops.Relational.cumBeforeByKey]] under the quantile
    * family's column names. No empty-partitionSpec WindowExec
    * anywhere, so a continuous column whose distinct values grow
    * toward row count never funnels the histogram through one
    * reducer.
    *
    * Output: histogram columns + `__cum` (rows with a STRICTLY smaller
    * value) + `__n` (total non-null mass, a literal). Runs one
    * control-plane action at build time (the conformal precedent). */
  private def cumBeforeByValue(hist: DataFrame, valueCol: String,
      cntCol: String): DataFrame =
    graft.ops.Relational.cumBeforeByKey(hist, valueCol, Seq(cntCol))._1
      .withColumnRenamed(s"__cumb_$cntCol", "__cum")
      .withColumnRenamed(s"__tot_$cntCol", "__n")

  /** Exact equal-frequency (quantile) binning for a discrete-valued
    * column. Global-sort-free: builds the VALUE HISTOGRAM (groupBy value
    * — shuffle is the distinct-value set, not the table), computes each
    * value's cumulative row count with the [[cumBeforeByValue]]
    * range-partitioned cumulative (never a single-reducer window),
    * assigns bin = floor(k * cum_before / n) — every row of a value
    * lands in one deterministic bin — and broadcast-joins the value→bin
    * map back. At 100 TB with a bounded value domain (quantities,
    * scores, ages, token counts) this is two scans and zero wide
    * shuffles of the fact table.
    *
    * Rows come back with an `__bin` INT column (0..k-1). Exactness
    * contract: bins are right-packed by cumulative mass, identical to
    * `floor(k * (dense row rank by value, ties collapsed) / n)`.
    *
    * NULL contract: a NULL has no quantile position, so NULL-valued
    * rows are KEPT with a NULL bin, and the histogram / boundaries are
    * computed over the non-null mass only. (The naive alternative —
    * letting the NULL group enter the histogram — would sort first in
    * the cumulative window and shift every non-null row's bin, while
    * the equi-join back silently DROPPED the NULL rows: boundaries
    * wrong and rows missing at once.) */
  def quantileBinsDiscrete(df: DataFrame, valueCol: String, k: Int,
      binCol: String = "__bin"): DataFrame = {
    require(k > 0, "k must be positive")
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1L)).as("__cnt"))
    // cumBefore = rows with a strictly smaller value; n = total rows —
    // both from the range-partitioned cumulative, which stays parallel
    // even when a continuous column makes the histogram row-sized
    val binMap = cumBeforeByValue(hist, valueCol, "__cnt")
      .select(col(valueCol),
        // integer floor-div, not double floor: k·cum can pass 2^53 at
        // trillion-row scale and a double quotient would mis-bin
        // boundary rows
        call_function("div", lit(k.toLong) * col("__cum"), col("__n"))
          .cast("int").as(binCol))
    // left join: NULL never equi-matches, so NULL-valued rows survive
    // with a NULL bin instead of vanishing from the output
    df.join(broadcast(binMap), Seq(valueCol), "left")
  }

  /** Rank-based quantile transform — the QuantileTransformer /
    * percentile-scaling of ML preprocessing, in exact integers: each
    * non-null value maps to its tied block's AVERAGE 0-indexed rank
    * scaled onto [0, 10^6],
    *
    *   pct_micro = ⌊10^6 · (2·cum_before + cnt − 1) / (2·(n − 1))⌋
    *
    * (cum_before = rows strictly smaller, cnt = the value's tie count;
    * the global min maps to 0, the max to 10^6, mid-rank averaging
    * makes ties symmetric — Spearman's tie convention). The division
    * is the chi2Drift exact-divmod split q·10^6 + ⌊r·10^6/den⌋ over
    * decimal(38,0), so there is no overflow cliff at any realistic n
    * and every engine replays the BIGINT bit-for-bit.
    *
    * Same topology and contracts as [[quantileBinsDiscrete]]: the
    * histogram shuffle is the distinct-value set, the cumulative is
    * the [[cumBeforeByValue]] range-partitioned stitch (parallel even
    * for a row-sized histogram), the value→pct map broadcast-joins
    * back, NULL values keep a NULL pct. n = 1 degenerates to 0. */
  def quantileTransform(df: DataFrame, valueCol: String,
      outCol: String = "pct_micro"): DataFrame =
    quantileTransformFromState(df, valueCol, valueHistogram(df, valueCol), outCol)

  /** Persistable value histogram — [[quantileTransform]]'s incremental
    * -maintenance state: (valueCol, __cnt) rows in the value's NATIVE
    * type. Counts are a monoid ([[mergeValueHistograms]]), so a stored
    * corpus histogram folds with each day's delta and the transform
    * replays bit-identically off state alone — the valueCountState /
    * histogramState pattern applied to feature scaling. */
  def valueHistogram(df: DataFrame, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol)).agg(count(lit(1L)).as("__cnt"))

  /** Merge [[valueHistogram]] snapshots by summed counts. */
  def mergeValueHistograms(a: DataFrame, b: DataFrame): DataFrame = {
    val valueCol = a.columns.head
    a.unionByName(b).groupBy(col(valueCol)).agg(sum("__cnt").as("__cnt"))
  }

  /** [[quantileTransform]] off a PERSISTED (or merged) histogram state
    * — score rows against a corpus distribution without rescanning the
    * corpus. The map rides the distinct-value frame exactly as in the
    * direct path; rows whose value is absent from the state get a NULL
    * percentile (like NULL values — the state defines the
    * distribution). */
  def quantileTransformFromState(df: DataFrame, valueCol: String,
      hist: DataFrame, outCol: String = "pct_micro"): DataFrame = {
    val dec = "decimal(38,0)"
    val num = (lit(2L) * col("__cum") + col("__cnt") - lit(1L)).cast(dec)
    val den = (lit(2L) * (col("__n") - lit(1L))).cast(dec)
    val pctMap = cumBeforeByValue(hist, valueCol, "__cnt")
      .select(col(valueCol),
        when(col("__n") === 1L, lit(0L)).otherwise(
          (call_function("div", num, den) * lit(1000000L) +
            call_function("div", pmod(num, den) * lit(1000000L), den))
            .cast("long")).as(outCol))
    df.join(broadcast(pctMap), Seq(valueCol), "left")
  }

  /** Smoothed target (mean) encoding: category c ↦
    * (Σ target(c) + m · global mean) / (n(c) + m) — the Micci-Barreca
    * smoothing that shrinks rare categories toward the prior. Sums are
    * exact DECIMAL (map-side combined, one scan); the division happens
    * once per CATEGORY on the aggregated frame, so float effects are
    * confined to a deterministic last step. Output: one row per
    * category (category, n, encoding) to broadcast-join onto any fact
    * table. */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
      smoothing: Double = 10.0): DataFrame = {
    require(smoothing >= 0.0, "smoothing must be non-negative")
    val dec = col(targetCol).cast("decimal(27,6)")
    val perCat = df.groupBy(col(catCol))
      .agg(count(lit(1L)).as("n"), sum(dec).as("__sum"))
    val tot = df.agg(count(lit(1L)).as("__tn"), sum(dec).as("__tsum"))
    // global mean via the same exact sums; tot is one row -> broadcast
    perCat.crossJoin(broadcast(tot))
      .select(col(catCol), col("n"),
        ((col("__sum").cast("double") +
          lit(smoothing) * (col("__tsum").cast("double") / col("__tn").cast("double"))) /
          (col("n").cast("double") + lit(smoothing))).as("encoding"))
  }

  /** Per-group z-score standardization — the StandardScaler transform
    * at pipeline scale: z = (x − μ_g) / σ_g with POPULATION σ (ddof=0,
    * sklearn's convention). Values are micro-quantized to integers
    * ONCE (the family-wide 1e-6 discipline), then the group moments
    * (n, Σx, Σx²) accumulate as exact integers/decimals in one
    * map-side-combined aggregation — summation-order-independent, so
    * the μ/σ doubles derived from them are bit-identical in any engine
    * evaluating the same expression tree (z is a ratio of micro
    * quantities, so the quantization unit cancels; sqrt is
    * IEEE-exact). The group-count-sized stats frame broadcasts back
    * onto the rows: one scan + one broadcast join, no window, no
    * second shuffle of the data.
    *
    * Output: input columns plus `z_micro` = round(z·10^6); NULL for
    * NULL values and for degenerate groups (n = 1 or σ = 0 — a
    * constant group has no scale; surfacing NULL beats a fabricated 0,
    * and the constant column is the signal to drop the feature). */
  def standardize(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val vMic = round(col(valueCol).cast("double") * lit(1000000L))
      .cast("long")
    val stats = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1L)).as("__n"), sum(vMic).as("__sx"),
        sum(vMic.cast(dec) * vMic).as("__sxx"))
    val nD = col("__n").cast("double")
    val mu = col("__sx").cast("double") / nD
    val varPop = col("__sxx").cast("double") / nD - mu * mu
    df.join(broadcast(stats), Seq(groupCol), "left")
      .withColumn("z_micro",
        when(col(valueCol).isNotNull && col("__n") > 1L && varPop > 0.0,
          round((vMic.cast("double") - mu) / sqrt(varPop) *
            lit(1000000L)).cast("long")))
      .drop("__n", "__sx", "__sxx")
  }

  /** Per-group ROBUST scaling — the RobustScaler transform of ML
    * preprocessing: r = (x − median_g) / IQR_g, the outlier-immune
    * sibling of [[standardize]] (a single 10^9 outlier corrupts μ/σ
    * for the whole group; the median and quartiles don't move).
    * EXACT end to end: values micro-quantize once, the three quartiles
    * are LOWER discrete quantiles read off the per-group distinct-value
    * histogram (min v with cum·4 ≥ p·total — integer cross-multiplied,
    * so the picked cut is a pure function of the data), and the final
    * ratio is the sign-safe floor-divmod half-up split over
    * DECIMAL(38,0) — no float anywhere, bit-identical on any engine.
    *
    * Plan: one histogram aggregation (shuffle = the distinct-value set
    * per group, never the table), cumulative + quartile selection as a
    * window plus one grouped min over that SAME small frame, then the
    * group-count-sized quartile frame broadcasts back onto the rows —
    * one scan + one broadcast join, no window over the data, no second
    * shuffle. At 100 TB the fact table moves zero times.
    *
    * Output: input columns plus `robust_micro` = half-up of
    * (x − med)·10^6 / IQR; NULL for NULL values and for degenerate
    * groups (IQR = 0 — a half-constant group has no robust scale). */
  /** Per-group lower-discrete quartile cuts (__q1, __med, __q3 in micro
    * units) off the distinct-value histogram — shared by
    * [[robustScale]] and [[iqrOutliers]]: the shuffle is the distinct
    * (group, value) set and the cumulative window rides that small
    * frame, never the table. */
  private def quartileCuts(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val vMic = round(col(valueCol).cast("double") * lit(1000000L))
      .cast("long")
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), vMic.as("__v"))
      .agg(count(lit(1L)).as("__c"))
    val wRun = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
    hist
      .withColumn("__cum", sum("__c").over(wRun))
      .withColumn("__tot", sum("__c").over(wAll))
      .groupBy(col(groupCol))
      .agg(
        min(when(col("__cum") * 4 >= col("__tot"), col("__v"))).as("__q1"),
        min(when(col("__cum") * 2 >= col("__tot"), col("__v"))).as("__med"),
        min(when(col("__cum") * 4 >= col("__tot") * 3, col("__v"))).as("__q3"))
  }

  def robustScale(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val vMic = round(col(valueCol).cast("double") * lit(1000000L))
      .cast("long")
    val cuts = quartileCuts(df, groupCol, valueCol)
    val num = (vMic - col("__med")).cast(dec) * lit(1000000L)
    val den = (col("__q3") - col("__q1")).cast(dec)
    val r = pmod(num, den)
    val floorQ = call_function("div", num - r, den)
    df.join(broadcast(cuts), Seq(groupCol), "left")
      .withColumn("robust_micro",
        when(col(valueCol).isNotNull && col("__q3") > col("__q1"),
          (floorQ + when(r * 2 >= den, lit(1)).otherwise(lit(0)))
            .cast("long")))
      .drop("__q1", "__med", "__q3")
  }

  /** Tukey IQR-fence outlier detection (the boxplot rule) — the
    * distribution-free sibling of the MAD rule: a value is an outlier
    * when it falls below q1 − (fNum/fDen)·IQR or above
    * q3 + (fNum/fDen)·IQR (default 3/2 — the classic 1.5·IQR fence).
    * EXACT: quartiles are the [[robustScale]] lower-discrete cuts off
    * the distinct-value histogram, and both fence tests cross-multiply
    * (v·fDen < q1·fDen − fNum·IQR), so no division ever runs and the
    * flagged set is a pure function of the data.
    *
    * Plan: the histogram topology again — one distinct-value shuffle,
    * windows over that small frame, the group-count-sized cuts
    * broadcast back; one scan of the fact table, outliers filtered
    * map-side. Output: outlier rows only, input columns plus `side`
    * ('low' | 'high'). */
  def iqrOutliers(df: DataFrame, groupCol: String, valueCol: String,
      fNum: Long = 3L, fDen: Long = 2L): DataFrame = {
    require(fNum > 0 && fDen > 0, s"fence factor must be > 0: $fNum/$fDen")
    val vMic = round(col(valueCol).cast("double") * lit(1000000L))
      .cast("long")
    val cuts = quartileCuts(df, groupCol, valueCol)
    val iqr = col("__q3") - col("__q1")
    val low = vMic * fDen < col("__q1") * fDen - lit(fNum) * iqr
    val high = vMic * fDen > col("__q3") * fDen + lit(fNum) * iqr
    df.join(broadcast(cuts), Seq(groupCol))
      .filter(col(valueCol).isNotNull && (low || high))
      .withColumn("side", when(low, lit("low")).otherwise(lit("high")))
      .drop("__q1", "__med", "__q3")
  }
}
