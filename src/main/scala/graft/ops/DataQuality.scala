package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation (Deequ-style), the audit layer a
  * 100 TB ingest pipeline runs before promoting a batch. The reference
  * has only an implicit notion of quality (its rule-error isolation,
  * main.py:152-157); this makes the contract explicit and cheap:
  *
  *   - All ROW-LOCAL checks (not-null, range, regex, membership) fold
  *     into ONE aggregate pass — a single scan produces every violation
  *     count regardless of how many checks are declared. Adding a check
  *     adds an expression, not a job.
  *   - Uniqueness rides the same aggregate as a distinct count over the
  *     key struct (one Expand, still one scan).
  *   - Referential integrity is the only per-check join; the dimension
  *     side is aggregate-sized in practice and broadcast.
  *
  * Report: one row per check — (check, target, violations, total,
  * passed) — small enough to sit in a quality dashboard or gate a
  * promotion step.
  */
object DataQuality {

  sealed trait Check { def target: String }
  /** Column must not contain NULL. */
  final case class NotNull(column: String) extends Check { def target = column }
  /** The column tuple must be unique across rows (candidate key). */
  final case class Unique(columns: Seq[String]) extends Check {
    def target = columns.mkString(",")
  }
  /** Non-null values must fall in [lo, hi]; NULLs are NotNull's concern. */
  final case class InRange(column: String, lo: Double, hi: Double) extends Check {
    def target = column
  }
  /** Non-null values must match the (engine-portable) regex. */
  final case class Matches(column: String, pattern: String) extends Check {
    def target = column
  }
  /** Non-null values must be one of the allowed strings. */
  final case class InSet(column: String, allowed: Seq[String]) extends Check {
    def target = column
  }
  /** Non-null values must exist in dim(dimColumn) — foreign key. */
  final case class RefIntegrity(column: String, dim: DataFrame, dimColumn: String)
      extends Check { def target = column }

  private def name(c: Check): String = c match {
    case _: NotNull      => "not_null"
    case _: Unique       => "unique"
    case _: InRange      => "in_range"
    case _: Matches      => "matches"
    case _: InSet        => "in_set"
    case _: RefIntegrity => "ref_integrity"
  }

  /** Violation indicator for a row-local check (NULL-safe: range /
    * regex / set checks only judge non-null values). */
  private def violation(c: Check): Column = c match {
    case NotNull(col0) => when(col(col0).isNull, 1L).otherwise(0L)
    case InRange(col0, lo, hi) =>
      when(col(col0).isNotNull && (col(col0) < lo || col(col0) > hi), 1L).otherwise(0L)
    case Matches(col0, p) =>
      when(col(col0).isNotNull && !col(col0).rlike(p), 1L).otherwise(0L)
    case InSet(col0, allowed) =>
      when(col(col0).isNotNull && !col(col0).isInCollection(allowed), 1L).otherwise(0L)
    case _ => throw new IllegalArgumentException(s"not row-local: $c")
  }

  /** Run every check; returns the per-check report. Deterministic row
    * set (one row per declared check, in declaration order via the
    * check/target columns). */
  def validate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "no checks declared")
    val rowLocal = checks.filter {
      case _: NotNull | _: InRange | _: Matches | _: InSet => true
      case _ => false
    }
    val uniques = checks.collect { case u: Unique => u }
    val fks = checks.collect { case f: RefIntegrity => f }

    // one scan: every row-local violation count + every distinct key
    // count + the row total, in a single aggregate
    val aggs: Seq[Column] =
      rowLocal.zipWithIndex.map { case (c, i) => sum(violation(c)).as(s"_v$i") } ++
      uniques.zipWithIndex.map { case (u, i) =>
        count_distinct(struct(u.columns.map(col): _*)).as(s"_d$i")
      } :+ count(lit(1)).as("_total")
    val one = df.agg(aggs.head, aggs.tail: _*)

    // fold the single aggregate row into report rows plan-side: an
    // array-of-structs explode, no driver collect
    val reportStructs: Seq[Column] =
      rowLocal.zipWithIndex.map { case (c, i) =>
        struct(lit(name(c)).as("check"), lit(c.target).as("target"),
          col(s"_v$i").as("violations"), col("_total").as("total"))
      } ++
      uniques.zipWithIndex.map { case (u, i) =>
        struct(lit(name(u)).as("check"), lit(u.target).as("target"),
          (col("_total") - col(s"_d$i")).as("violations"), col("_total").as("total"))
      }
    val local: Option[DataFrame] =
      if (reportStructs.isEmpty) None
      else Some(one
        .select(explode(array(reportStructs: _*)).as("r"))
        .select(col("r.check"), col("r.target"), col("r.violations"), col("r.total")))

    // referential integrity: count probe values missing from the
    // dimension (anti join; dimension side broadcast-sized by contract)
    val fkReports = fks.map { f =>
      val probe = df.select(col(f.column)).filter(col(f.column).isNotNull)
      val missing = probe.join(broadcast(f.dim.select(col(f.dimColumn))),
        probe(f.column) === col(f.dimColumn), "left_anti")
      val totalRows = df.select(count(lit(1)).as("total"))
      missing.agg(count(lit(1)).as("violations"))
        .crossJoin(totalRows)
        .select(lit(name(f)).as("check"), lit(f.target).as("target"),
          col("violations"), col("total"))
    }

    (local.toSeq ++ fkReports).reduce(_ unionAll _)
      .withColumn("passed", col("violations") === 0L)
  }

  /** k-anonymity audit: every quasi-identifier combination shared by
    * FEWER than k rows — the re-identification risk surface a training
    * corpus must clear before release (a QI combo unique to one person
    * is a linkage attack waiting to happen; see Sweeney 2002).
    *
    * One grouped aggregation on the QI tuple; output is bounded by the
    * risky-combination count, not the table. Pair with the PII
    * redaction op: redaction hides direct identifiers, this audits the
    * indirect ones. */
  def kAnonymityRisk(df: DataFrame, quasiIds: Seq[String], k: Long): DataFrame = {
    require(quasiIds.nonEmpty, "no quasi-identifier columns given")
    require(k >= 2, s"k must be >= 2 to mean anything, got $k")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
  }

  /** l-diversity audit, k-anonymity's complement: a QI group can clear
    * k-anonymity (many rows share the tuple) yet still leak — if every
    * row in the group carries the SAME sensitive value, knowing someone
    * is in the group reveals their attribute (homogeneity attack;
    * Machanavajjhala et al. 2007). Flags every quasi-identifier
    * combination whose rows span fewer than l distinct sensitive
    * values. Same single-aggregation shape as [[kAnonymityRisk]]: the
    * distinct count rides the grouped pass, output bounded by the risky
    * group count. */
  def lDiversityRisk(df: DataFrame, quasiIds: Seq[String], sensitive: String,
      l: Long): DataFrame = {
    require(quasiIds.nonEmpty, "no quasi-identifier columns given")
    require(!quasiIds.contains(sensitive), "sensitive column cannot be a quasi-identifier")
    require(l >= 2, s"l must be >= 2 to mean anything, got $l")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        count_distinct(col(sensitive)).as("n_sensitive"))
      .filter(col("n_sensitive") < l)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    * rung of the release-audit ladder after [[kAnonymityRisk]] and
    * [[lDiversityRisk]]: a QI group can be k-anonymous AND l-diverse yet
    * still leak when its sensitive-value DISTRIBUTION sits far from the
    * corpus's ("90% of this group carries value X" discloses plenty even
    * with 3 distinct values present — the paper's skewness attack).
    * Flags every quasi-identifier group whose sensitive distribution is
    * farther than t from the global one in total variation distance (the
    * categorical instance of the paper's EMD, unit ground distance).
    *
    * Exact integer arithmetic end-to-end:
    *   TVD_g = Σ_c |n_gc·n − n_c·n_g| / (2·n_g·n)
    * — numerator summed as decimal(38,0), one exact integer division per
    * group nano-quantizes it (the chi2Drift divmod discipline; floor in
    * both engines). The sum runs over the FULL group × category grid
    * (cramersVFromCells' spine argument): a category ABSENT from a group
    * still contributes its |0 − n_c·n_g| mass — the absence IS distance.
    * The spine is |groups|·|categories| — audit-cardinality, never
    * row-count; the category side is broadcast.
    *
    * Plan: one grouped count (cells), two rollups off it, one broadcast
    * spine join, one grouped sum. Output: one row per flagged group
    * (quasiIds…, group_size, tvd_nano ∈ [0, 1e9]). NULL sensitive values
    * are a real category (the cramersV convention). */
  def tClosenessRisk(df: DataFrame, quasiIds: Seq[String], sensitive: String,
      tNano: Long): DataFrame = {
    require(!quasiIds.contains(sensitive), "sensitive column cannot be a quasi-identifier")
    tClosenessFromCells(tClosenessCellState(df, quasiIds, sensitive),
      quasiIds, tNano)
  }

  /** The t-closeness audit's mergeable state: (quasiIds…, __sens, n_gc)
    * cell counts — a plain count monoid, so per-day/per-shard summaries
    * written through any sink SUM into the audit without re-scanning
    * rows (the histogramState/cramersVFromCells discipline). */
  def tClosenessCellState(df: DataFrame, quasiIds: Seq[String],
      sensitive: String): DataFrame = {
    require(quasiIds.nonEmpty, "no quasi-identifier columns given")
    df.select(quasiIds.map(col) :+
        coalesce(col(sensitive).cast("string"), lit("<NULL>")).as("__sens"): _*)
      .groupBy((quasiIds :+ "__sens").map(col): _*)
      .agg(count(lit(1)).as("n_gc"))
  }

  /** t-closeness from a cell-state frame — the mergeable face of
    * [[tClosenessRisk]] (which routes through here): duplicate cells
    * from unioned state shards sum first, then the same spine/TVD plan
    * runs over cell-count rows only. */
  def tClosenessFromCells(cellsIn: DataFrame, quasiIds: Seq[String],
      tNano: Long): DataFrame = {
    require(quasiIds.nonEmpty, "no quasi-identifier columns given")
    require(tNano >= 0L && tNano < 1000000000L,
      s"tNano is a TVD threshold in nanos, must be in [0, 1e9): $tNano")
    val dec = "decimal(38,0)"
    val cells = cellsIn.groupBy((quasiIds :+ "__sens").map(col): _*)
      .agg(sum("n_gc").as("n_gc"))
    val groups = cells.groupBy(quasiIds.map(col): _*).agg(sum("n_gc").as("n_g"))
    val cats = cells.groupBy("__sens").agg(sum("n_gc").as("n_c"))
    val tot = cats.agg(sum("n_c").as("n"))
    val spine = groups.crossJoin(broadcast(cats)).crossJoin(broadcast(tot))
    val joined = spine.join(cells, quasiIds :+ "__sens", "left")
      .withColumn("n_gc", coalesce(col("n_gc"), lit(0L)))
    val term = abs(col("n_gc").cast(dec) * col("n") -
      col("n_c").cast(dec) * col("n_g"))
    joined
      .groupBy((quasiIds.map(col) :+ col("n_g")) :+ col("n"): _*)
      .agg(sum(term).as("num"))
      .withColumn("tvd_nano",
        call_function("div", col("num") * lit(1000000000L),
          col("n_g").cast(dec) * col("n") * lit(2L)).cast("long"))
      .filter(col("tvd_nano") > tNano)
      .select(quasiIds.map(col) :+ col("n_g").as("group_size") :+
        col("tvd_nano"): _*)
  }

  /** Ingestion volume control chart: per-period row counts flagged when
    * they sit more than `zThresh` trailing standard deviations from the
    * trailing-`trailingN`-period mean (the preceding periods only —
    * the tested period never contaminates its own baseline). The
    * operational "did today's load look like the last two weeks"
    * monitor.
    *
    * Exactness: counts are integers; the population-z comparison
    * |c − Σ/n| > z·σ squares into the integer cross-multiplication
    * (n·c − Σ)² > z²·(n·Σx² − Σ²) — no sqrt, no float, bit-identical
    * in any engine. Squared terms run in DECIMAL so 10-billion-row
    * periods don't overflow a long. One aggregation + one ordered
    * window over PERIOD-count rows (periods, not raw data — the window
    * frame is trailingN rows of a frame that has one row per period). */
  /** Population Stability Index between a reference and a current
    * snapshot of a numeric feature — the standard drift gate in front
    * of a (re)training run: PSI = Σ_bins (p_i - q_i)·ln(p_i/q_i),
    * conventionally read as <0.1 stable / 0.1-0.25 drifting / >0.25
    * shifted. Bins are equal-width over the REFERENCE min/max (the
    * reference fixes the lens; out-of-range current values clamp to the
    * edge bins), with +0.5 Laplace smoothing per bin so empty bins stay
    * finite instead of being dropped (dropping is the classic PSI
    * implementation bug — a bin that empties out is the strongest drift
    * signal there is). One aggregate pass per side at any scale; the
    * bin spine is a range frame so empty bins surface with zero counts;
    * only min/max travel to the driver. Output is one row per bin with
    * counts and the PSI contribution quantized to nano-integers (the
    * q_group_ols pattern: ln can sit one ulp apart across engines; the
    * quantization makes the cross-engine compare exact — callers sum
    * psi_nano for the headline index). */
  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      bins: Int = 10): DataFrame = {
    val (mn, width) = histogramEdges(ref, valueCol, bins)
    psiFromState(
      histogramState(ref, valueCol, mn, width, bins),
      histogramState(cur, valueCol, mn, width, bins), bins)
  }

  /** Equal-width bin edges fixed by a reference snapshot: (min, width).
    * The incremental-drift contract: edges are chosen ONCE (from the
    * initial reference day) and every later day's histogram uses them —
    * that is what makes stored histograms mergeable across days.
    * Fail-loud on empty/all-null and constant references. */
  def histogramEdges(ref: DataFrame, valueCol: String,
      bins: Int): (Double, Double) = {
    require(bins > 1, s"bins must be > 1, got $bins")
    val v = col(valueCol).cast("double")
    val extremes = ref.agg(min(v), max(v)).head()
    require(!extremes.isNullAt(0) && !extremes.isNullAt(1),
      s"reference $valueCol has no non-null values — equal-width bins undefined")
    val (mn, mx) = (extremes.getDouble(0), extremes.getDouble(1))
    require(mx > mn,
      s"reference $valueCol is constant ($mn) — equal-width bins undefined")
    (mn, (mx - mn) / bins)
  }

  /** Binned-histogram summary of one snapshot: (bin, n) with out-of-range
    * values clamped to the edge bins — an exact MERGEABLE sketch (counts
    * add), sized by the bin count, not the data. Persist one per
    * day/partition and drift gates never re-scan history: PSI between
    * any two day-groups is [[psiFromState]] over the stored rows. */
  def histogramState(df: DataFrame, valueCol: String, mn: Double,
      width: Double, bins: Int): DataFrame = {
    require(bins > 1 && width > 0, s"bad bins/width: $bins/$width")
    df.filter(col(valueCol).isNotNull)
      .select(least(greatest(floor((col(valueCol).cast("double") - lit(mn)) / lit(width)),
        lit(0.0)), lit((bins - 1).toDouble)).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
  }

  /** PSI from stored histogram state alone — the incremental twin of
    * [[psiDrift]]: both sides are (bin, n) frames (possibly many days'
    * worth — counts sum, the monoid), never raw rows. Same Laplace
    * smoothing, same bin spine (empty bins surface), same
    * nano-quantization; [[psiDrift]] itself routes through here, so
    * batch and from-state PSI are one code path and agree exactly. */
  def psiFromState(refState: DataFrame, curState: DataFrame,
      bins: Int): DataFrame = {
    require(bins > 1, s"bins must be > 1, got $bins")
    val r = refState.groupBy("bin").agg(sum("n").as("n_ref"))
    val c = curState.groupBy("bin").agg(sum("n").as("n_cur"))
    val spine = refState.sparkSession.range(0, bins).select(col("id").as("bin"))
    val joined = spine
      .join(r, Seq("bin"), "left").join(c, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = joined.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"))
    val p = (col("n_ref") + 0.5) / (col("t_ref") + 0.5 * bins)
    val q = (col("n_cur") + 0.5) / (col("t_cur") + 0.5 * bins)
    joined.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(((p - q) * log(p / q)) * 1e9).cast("long").as("psi_nano"))
  }

  /** Jensen–Shannon divergence drift — the bounded, symmetric
    * complement to [[psiDrift]]: JS(P,Q) = ½KL(P‖M) + ½KL(Q‖M) with
    * M the midpoint mixture, always finite and ≤ ln 2, so a single
    * alert threshold works across features regardless of how violent
    * the shift is (PSI is unbounded and explodes on disjoint
    * supports). Same fixed equal-width binning contract as PSI —
    * edges from the reference, stored-histogram mergeable — and the
    * same Laplace smoothing and bin spine so empty bins surface.
    * Per-bin contributions are nano-quantized after one double log
    * per term (the psiFromState discipline: counts exact, the single
    * transcendental rounded at 1e-9 where cross-engine ULP noise
    * vanishes).
    *
    * Output: (bin, n_ref, n_cur, js_nano) — Σ js_nano / 1e9 is the
    * divergence in nats. */
  def jsDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      bins: Int = 10): DataFrame = {
    val (mn, width) = histogramEdges(ref, valueCol, bins)
    jsFromState(
      histogramState(ref, valueCol, mn, width, bins),
      histogramState(cur, valueCol, mn, width, bins), bins)
  }

  /** JS divergence from stored histogram state — the incremental twin
    * of [[jsDrift]] (which routes through here): both sides are
    * (bin, n) frames whose counts sum, so persisted per-day summaries
    * merge into either role without re-scanning history. */
  def jsFromState(refState: DataFrame, curState: DataFrame,
      bins: Int): DataFrame = {
    require(bins > 1, s"bins must be > 1, got $bins")
    val r = refState.groupBy("bin").agg(sum("n").as("n_ref"))
    val c = curState.groupBy("bin").agg(sum("n").as("n_cur"))
    val spine = refState.sparkSession.range(0, bins).select(col("id").as("bin"))
    val joined = spine
      .join(r, Seq("bin"), "left").join(c, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = joined.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"))
    val p = (col("n_ref") + 0.5) / (col("t_ref") + 0.5 * bins)
    val q = (col("n_cur") + 0.5) / (col("t_cur") + 0.5 * bins)
    val m = (p + q) / 2.0
    joined.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round((p * log(p / m) + q * log(q / m)) / 2.0 * 1e9)
          .cast("long").as("js_nano"))
  }

  /** Cramér's V association audit between two categorical columns of
    * ONE table — "are these features redundant / is this label leaking
    * from that column?", the categorical analogue of a correlation
    * check. V = sqrt(χ² / (n·min(r−1, c−1))) ∈ [0, 1].
    *
    * The χ² statistic over the contingency table is computed the
    * [[chi2Drift]] way: each cell's (n·n_ab − r_a·c_b)² / (n·r_a·c_b)
    * as an exact decimal(38,0) floor-divmod split micro-quantized per
    * cell, then summed — integer end-to-end, so `chi2_micro` is
    * engine-exact. The final V touches doubles only for one IEEE-exact
    * sqrt after an exact integer division is rounded at 1e-6 (the
    * psiDrift transcendental discipline). NULL categories count as a
    * real level (a missing label associating with a feature IS
    * leakage) via a sentinel. A degenerate single-level column makes
    * V undefined (min(r−1, c−1) = 0) and surfaces as NULL `v_micro`
    * with the exact χ² (= 0) still reported.
    *
    * Plan shape at 100 TB: one shuffle for the (a, b) contingency
    * counts (map-side combined, so the exchange carries the distinct
    * pair set, not rows); marginals derive from the cell counts
    * (aggregate-sized re-group, no second scan); totals broadcast.
    *
    * Output: one row (n_rows, r_levels, c_levels, chi2_micro,
    * v_micro). */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame =
    cramersVFromCells(df.select(
        coalesce(col(aCol).cast("string"), lit("<NULL>")).as("a"),
        coalesce(col(bCol).cast("string"), lit("<NULL>")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab")))

  /** Cramér's V from a contingency-cell state frame (a, b, n_ab) —
    * the mergeable face of [[cramersV]] (which routes through here):
    * cell counts are the monoid, so persisted per-day contingency
    * summaries sum into the audit without re-scanning rows. Overflow
    * posture: the per-cell d²·10^6 term reaches n⁴·10^6 — inside
    * decimal(38,0) to n ≈ 10^8 rows per audited column pair; past
    * that the audit fails LOUD (ANSI arithmetic overflow; NULL χ²
    * under non-ANSI sessions), never a wrapped value
    * (battery-pinned). */
  def cramersVFromCells(cellsIn: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = cellsIn.groupBy("a", "b").agg(sum("n_ab").as("n_ab"))
    val ra = cells.groupBy("a").agg(sum("n_ab").as("r_a"))
    val cb = cells.groupBy("b").agg(sum("n_ab").as("c_b"))
    val tot = cells.agg(sum("n_ab").as("n"),
      countDistinct("a").as("r_levels"), countDistinct("b").as("c_levels"))
    // the χ² sum runs over the FULL r×c grid: an UNOBSERVED (a, b)
    // pair still contributes (0 − r_a·c_b/n)²-worth of statistic, so
    // the marginal cross product is the spine and missing cells
    // zero-fill. The spine is level-cardinality-sized (categorical
    // audit), never data-sized.
    val joined = ra.crossJoin(cb)
      .join(cells, Seq("a", "b"), "left")
      .withColumn("n_ab", coalesce(col("n_ab"), lit(0L)))
      .crossJoin(broadcast(tot))
    val d = col("n").cast(dec) * col("n_ab") - col("r_a").cast(dec) * col("c_b")
    val den = col("n").cast(dec) * col("r_a") * col("c_b")
    val cell = call_function("div", d * d * lit(1000000L), den)
    joined
      .select(col("n"), col("r_levels"), col("c_levels"),
        cell.as("cell_micro"))
      .groupBy("n", "r_levels", "c_levels")
      .agg(sum("cell_micro").as("chi2_micro"))
      .select(col("n").as("n_rows"), col("r_levels"), col("c_levels"),
        col("chi2_micro").cast("long").as("chi2_micro"),
        when(least(col("r_levels"), col("c_levels")) > 1L,
          round(sqrt(
            call_function("div", col("chi2_micro"),
              (col("n").cast(dec) * (least(col("r_levels"), col("c_levels")) - 1)))
              .cast("double") / 1e6) * 1e6).cast("long"))
          .as("v_micro"))
  }

  /** Cohen's kappa inter-annotator agreement — the label-QA gate for
    * training-data curation (two labeling passes, human or model, over
    * the same rows): observed agreement corrected for the agreement two
    * independent annotators with these marginals would reach by chance.
    * Exact integer arithmetic end-to-end:
    *
    *   kappa = (po - pe) / (1 - pe)
    *         = (n_agree·n - Σ_k r_k·c_k) / (n² - Σ_k r_k·c_k)
    *
    * with r/c the per-label marginals — so the output ships integer
    * counts plus `kappa_micro` by integer division; no float touches
    * the statistic. The degenerate pe=1 case (both annotators constant
    * on the same label) forces po=1 and reports the 1.0 convention.
    * Labels are aggregate-sized by assumption (they key the GROUP BY);
    * rows where either label is NULL are excluded (an unlabeled row is
    * missing data, not disagreement). One shuffle on the label pair;
    * everything after is aggregate-sized.
    *
    * Overflow posture: the quadratic terms (n_agree·n, n², Σ r_k·c_k)
    * reach n² — past a long at n ≈ 3·10^9 labeled rows — so the whole
    * quantization runs in decimal(38,0) (good to n ≈ 10^19) and only
    * the final kappa_micro (|·| ≤ 10^6) lands back in a long. The
    * diagnostic pe_num column is longed for the report schema; if it
    * ever exceeds Long.Max the non-ANSI cast yields NULL (visible),
    * never a silent wrap. */
  def cohensKappa(df: DataFrame, labelA: String, labelB: String): DataFrame = {
    val dec = "decimal(38,0)"
    val pairs = df.filter(col(labelA).isNotNull && col(labelB).isNotNull)
      .select(col(labelA).cast("string").as("la"),
        col(labelB).cast("string").as("lb"))
    val cont = pairs.groupBy("la", "lb").agg(count(lit(1)).as("nn"))
    val tot = cont.agg(coalesce(sum("nn"), lit(0L)).as("n"))
    val agree = cont.filter(col("la") === col("lb"))
      .agg(coalesce(sum("nn"), lit(0L)).as("n_agree"))
    val ra = cont.groupBy("la").agg(sum("nn").as("r"))
    val cb = cont.groupBy("lb").agg(sum("nn").as("c"))
    val peNum = ra.join(cb, ra("la") === cb("lb"))
      .agg(coalesce(sum(col("r").cast(dec) * col("c")), lit(0L).cast(dec))
        .as("pe_dec"))
    val num = col("n_agree").cast(dec) * col("n") - col("pe_dec")
    val den = col("n").cast(dec) * col("n") - col("pe_dec")
    tot.crossJoin(broadcast(agree)).crossJoin(broadcast(peNum))
      .select(col("n"), col("n_agree"),
        col("pe_dec").try_cast("long").as("pe_num"),
        when(den === lit(0L).cast(dec), lit(1000000L))
          .otherwise(call_function("div", num * lit(1000000L), den))
          .as("kappa_micro"))
  }

  /** Fleiss' kappa multi-rater agreement — [[cohensKappa]]'s n-rater
    * generalization (Fleiss 1971), the label-QA gate when a labeling
    * pass uses a PANEL (3 human annotators, an ensemble of labeling
    * models): chance-corrected agreement over N items each rated by the
    * same number n of raters. Input is LONG format — one row per
    * rating, (item, label) — the shape a rating table naturally has.
    *
    * Exact integer arithmetic end-to-end: with n_ij the count of
    * raters putting item i in category j, A = Σ_ij n_ij², S = Σ_j c_j²
    * (c_j the per-category totals) and T = N·n,
    *
    *   kappa = (P̄ − P̄_e) / (1 − P̄_e)
    *         = [T·(A − T) − S·(n−1)] / [(n−1)·(T² − S)]
    *
    * — a ratio of integers, shipped as `kappa_micro` by integer
    * division with the count diagnostics (N, n, A, S) alongside. T²
    * and S reach (N·n)², so the arithmetic runs in decimal(38,0)
    * (exact to N·n ≈ 10^19 ratings; the longed diagnostic columns
    * NULL visibly past Long.Max rather than wrapping). The degenerate
    * S = T² case (every rating in one category) forces P̄ = 1 and
    * reports the 1.0 convention, matching [[cohensKappa]].
    *
    * Every item must carry exactly n ratings — a partial panel makes
    * the statistic undefined, so ragged input fails loud instead of
    * silently reweighting. Two grouped passes on (item, label) — the
    * contingency table is the only table-sized intermediate; NULL
    * items/labels are excluded as missing data. */
  def fleissKappa(df: DataFrame, itemCol: String, labelCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val rated = df.filter(col(itemCol).isNotNull && col(labelCol).isNotNull)
      .select(col(itemCol).as("item"), col(labelCol).cast("string").as("label"))
    val nij = rated.groupBy("item", "label").agg(count(lit(1)).as("nij"))
    // panel check + sizes: one aggregate-sized action
    val panel = nij.groupBy("item").agg(sum("nij").as("n_i"))
      .agg(min("n_i").as("mn"), max("n_i").as("mx"), count(lit(1)).as("n_items"))
      .head()
    require(!panel.isNullAt(0), "fleissKappa: no labeled rows")
    val (nRaters, nItems) = (panel.getLong(0), panel.getLong(2))
    require(nRaters == panel.getLong(1),
      s"fleissKappa needs a fixed rater panel: items carry between " +
        s"$nRaters and ${panel.getLong(1)} ratings")
    require(nRaters >= 2, s"fleissKappa needs ≥2 raters per item, got $nRaters")
    val bigT = new java.math.BigDecimal(nItems)
      .multiply(new java.math.BigDecimal(nRaters))
    val bigT2 = bigT.multiply(bigT)
    val aSum = nij.agg(sum(col("nij").cast(dec) * col("nij")).as("a_dec"))
    val sSum = nij.groupBy("label").agg(sum("nij").as("c"))
      .agg(sum(col("c").cast(dec) * col("c")).as("s_dec"))
    val num = (lit(bigT) * (col("a_dec") - lit(bigT)) -
      col("s_dec") * lit(nRaters - 1L)) * lit(1000000L)
    val den = lit(new java.math.BigDecimal(nRaters - 1L)) * (lit(bigT2) - col("s_dec"))
    aSum.crossJoin(broadcast(sSum))
      .select(lit(nItems).as("n_items"), lit(nRaters).as("n_raters"),
        col("a_dec").try_cast("long").as("a_sum"),
        col("s_dec").try_cast("long").as("s_sum"),
        when(lit(bigT2) - col("s_dec") === lit(0L).cast(dec), lit(1000000L))
          .otherwise(call_function("div", num, den))
          .as("kappa_micro"))
  }

  /** Categorical PSI — the drift face for discrete features (segment,
    * language, source, label), where equal-width bins are meaningless:
    * the "bins" are the categories themselves, the union of both
    * snapshots' observed values, so a category that APPEARS or
    * DISAPPEARS across snapshots contributes instead of being silently
    * dropped (the full outer join is the load-bearing shape). Same
    * +0.5 Laplace smoothing and nano-quantization as [[psiDrift]];
    * the smoothing denominator uses the category count, carried in
    * the broadcast totals frame — nothing but the aggregate-sized
    * category spine ever leaves the executors. Category cardinality is
    * assumed aggregate-sized (it is the GROUP BY that precedes it). */
  def psiDriftCategorical(ref: DataFrame, cur: DataFrame,
      catCol: String): DataFrame = {
    val r = ref.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("n_ref"))
    val c = cur.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("n_cur"))
    val spine = r.join(c, Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = spine.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"),
      count(lit(1)).as("k"))
    val p = (col("n_ref") + 0.5) / (col("t_ref") + col("k") * 0.5)
    val q = (col("n_cur") + 0.5) / (col("t_cur") + col("k") * 0.5)
    spine.crossJoin(broadcast(tot))
      .select(col("category"), col("n_ref"), col("n_cur"),
        round(((p - q) * log(p / q)) * 1e9).cast("long").as("psi_nano"))
  }

  /** Two-sample Kolmogorov-Smirnov drift statistic between a reference
    * and a current snapshot — PSI's nonparametric companion: no bins to
    * choose, sensitive to ANY distributional difference, and — unlike
    * PSI's ln — computable in EXACT integer arithmetic:
    *
    *   D = max over distinct values of |F_ref(v) - F_cur(v)|
    *     = max |cum_ref·n_cur - cum_cur·n_ref| / (n_ref·n_cur)
    *
    * so the output carries the exact integer numerator `d_num` plus
    * `ks_micro` = ⌊d_num·10^6 / (n_ref·n_cur)⌋ (integer division —
    * no float ever touches the statistic, so the cross-engine compare
    * is exact with no quantization caveat).
    *
    * Overflow posture: the gap terms cum·n and d_num·10^6 reach
    * n_ref·n_cur — past a long once both sides exceed ~3·10^9 rows —
    * so the quantization runs in decimal(38,0) (exact while
    * n_ref·n_cur·10^6 < 10^38, i.e. any realistic table) and only the
    * bounded ks_micro plus the diagnostic d_num land back in longs
    * (d_num overflowing a long surfaces as NULL under the non-ANSI
    * decimal→long cast, never a silent wrap).
    *
    * Scale shape: the naive cumulative (`SUM OVER (ORDER BY v)`) is a
    * single-reducer window — the classic cliff. The per-value counts
    * ride [[Relational.cumBeforeByKey]] instead: range-partitioned on
    * the value, partition-local cumulative windows in parallel, and
    * only per-partition subtotals travel to the driver as broadcast
    * offsets; the gap at v uses the cumulative including v,
    * cumb + c. */
  def ksDrift(ref: DataFrame, cur: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val both = ref.filter(col(valueCol).isNotNull)
      .select(v.as("v"), lit(1L).as("one_ref"), lit(0L).as("one_cur"))
      .unionByName(cur.filter(col(valueCol).isNotNull)
        .select(v.as("v"), lit(0L).as("one_ref"), lit(1L).as("one_cur")))
    val counts = both.groupBy("v")
      .agg(sum("one_ref").as("c_ref"), sum("one_cur").as("c_cur"))
    ksFromCounts(counts)
  }

  /** Exact mergeable KS state: per-value counts (v, c) — counts are
    * the monoid, so day-level states union+re-sum into any window's
    * state without rescanning history. The incremental twin of
    * [[histogramState]] for the EXACT-integer drift family: unlike
    * PSI's fixed bin edges there is nothing to pin at day 0 — the
    * per-value counts are the full empirical CDF. State size is the
    * column's distinct-value count, not its row count (money-like
    * columns: bounded by the price grid). */
  def valueCountState(df: DataFrame, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("v"))
      .agg(count(lit(1)).as("c"))

  /** Two-sample KS from PERSISTED [[valueCountState]] snapshots only —
    * drift between any two day-groups without touching the history
    * rows again. Same exact integer statistic and range-partitioned
    * cumulative plan as [[ksDrift]] (states merge by summed counts;
    * the result is bit-identical to the full recompute). */
  def ksFromState(refState: DataFrame, curState: DataFrame): DataFrame = {
    val counts = refState
      .select(col("v"), col("c").as("one_ref"), lit(0L).as("one_cur"))
      .unionByName(curState
        .select(col("v"), lit(0L).as("one_ref"), col("c").as("one_cur")))
      .groupBy("v")
      .agg(sum("one_ref").as("c_ref"), sum("one_cur").as("c_cur"))
    ksFromCounts(counts)
  }

  /** Shared KS core over a (v, c_ref, c_cur) counts frame. */
  private def ksFromCounts(counts: DataFrame): DataFrame = {
    val (cum, Seq(nRef, nCur)) =
      Relational.cumBeforeByKey(counts, "v", Seq("c_ref", "c_cur"))
    require(nRef > 0 && nCur > 0,
      s"KS needs non-empty snapshots (n_ref=$nRef, n_cur=$nCur)")
    val dec = "decimal(38,0)"
    val prod = new java.math.BigDecimal(nRef).multiply(new java.math.BigDecimal(nCur))
    cum.select(abs((col("__cumb_c_ref") + col("c_ref")).cast(dec) * lit(nCur) -
        (col("__cumb_c_cur") + col("c_cur")).cast(dec) * lit(nRef)).as("gap"))
      .agg(max(col("gap")).as("d_dec"))
      .select(lit(nRef).as("n_ref"), lit(nCur).as("n_cur"),
        // diagnostic: past Long.Max (n_ref·n_cur > ~9·10^18 — reachable
        // at 100 TB row counts) it goes NULL; try_cast keeps that
        // contract under Spark 4's ANSI default instead of throwing
        // and killing the whole drift check over a diagnostic
        col("d_dec").try_cast("long").as("d_num"),
        call_function("div", col("d_dec") * lit(1000000L), lit(prod))
          .as("ks_micro"))
  }

  def volumeAnomalies(df: DataFrame, periodCol: String,
      trailingN: Int = 7, zThresh: Long = 3L): DataFrame = {
    require(trailingN >= 2, s"need >= 2 trailing periods, got $trailingN")
    val d = "decimal(20,0)"
    val counts = df.groupBy(col(periodCol)).agg(count(lit(1)).as("n_rows"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(periodCol))
      .rowsBetween(-trailingN, -1)
    counts
      .withColumn("base_n", count(col("n_rows")).over(w).cast(d))
      .withColumn("base_sum", sum(col("n_rows")).over(w).cast(d))
      .withColumn("base_sum2",
        sum(col("n_rows").cast(d) * col("n_rows").cast(d)).over(w))
      .filter(col("base_n") === trailingN) // full baseline only
      .withColumn("dev", col("base_n") * col("n_rows").cast(d) - col("base_sum"))
      .select(col(periodCol), col("n_rows"),
        col("base_sum").cast("long").as("base_sum"),
        (col("dev") * col("dev") >
          lit(zThresh * zThresh) * (col("base_n") * col("base_sum2") - col("base_sum") * col("base_sum")))
          .as("is_anomaly"))
  }

  /** Mutual information between two categorical columns — the
    * feature-relevance face of the drift family (how much does knowing
    * `xCol` say about `yCol`): per-cell pointwise MI contributions
    * (n_xy/n)·ln(n_xy·n / (n_x·n_y)), nano-quantized PER CELL like the
    * PSI family so no float sum ever crosses engines; the headline MI
    * is the exact integer sum of `mi_nano` (≥ 0 up to quantization).
    *
    * Plan shape: one contingency aggregation (map-side partial) on
    * (x, y), the two marginals as windows over that frame — never a
    * second scan — and the one-row total crossed in (bounded by
    * construction). Cells scale with |X|·|Y|, never with rows. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val rated = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("string").as("x"), col(yCol).cast("string").as("y"))
    val cells = rated.groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
      .withColumn("n_x", sum("n_xy").over(
        org.apache.spark.sql.expressions.Window.partitionBy("x")))
      .withColumn("n_y", sum("n_xy").over(
        org.apache.spark.sql.expressions.Window.partitionBy("y")))
    val total = cells.agg(sum("n_xy").as("n"))
    cells.crossJoin(broadcast(total))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        round((col("n_xy").cast("double") / col("n").cast("double")) *
          log(col("n_xy").cast("double") * col("n").cast("double") /
            (col("n_x").cast("double") * col("n_y").cast("double"))) * lit(1e9))
          .cast("long").as("mi_nano"))
  }

  /** Two-sample Wasserstein-1 (earth mover's) drift between snapshots —
    * KS's integrating companion: where KS takes the SUP of the CDF gap,
    * W1 takes its INTEGRAL, so it sees how FAR mass moved, not just the
    * single worst point (a uniform $1 shift of every price moves KS
    * barely and W1 by exactly $1). Like [[ksDrift]] it is computable in
    * EXACT integer arithmetic once values are quantized to integer
    * units (`scale` units per 1.0, e.g. 100 = cents):
    *
    *   W1·n_ref·n_cur·scale = Σ over consecutive distinct values
    *     |cumb_ref(v)·n_cur − cumb_cur(v)·n_ref| · (v − prev(v))
    *
    * (cumb = the mass strictly below v: each term is the CDF gap over
    * [prev(v), v)).
    *
    * Output: one row (n_ref, n_cur, w1_num, w1_micro) where `w1_num`
    * is the exact integer sum above and `w1_micro` =
    * ⌊w1_num·10^6 / (n_ref·n_cur·scale)⌋ — W1 in micro-units of the
    * original column, no float anywhere. Accumulation runs in
    * decimal(38,0), so exactness survives ~3·10^9-row sides; only the
    * diagnostic w1_num lands back in a long (NULL on overflow under
    * the non-ANSI cast, never a silent wrap).
    *
    * Scale shape: same [[Relational.cumBeforeByKey]] cumulative as
    * [[ksDrift]]; its `__prev_v` supplies prev(v) across range
    * partitions (the global minimum has none and contributes no gap).
    * Never a single-reducer window. */
  def w1Drift(ref: DataFrame, cur: DataFrame, valueCol: String,
      scale: Long = 100L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val vq = round(col(valueCol).cast("double") * lit(scale)).cast("long")
    val both = ref.filter(col(valueCol).isNotNull)
      .select(vq.as("v"), lit(1L).as("one_ref"), lit(0L).as("one_cur"))
      .unionByName(cur.filter(col(valueCol).isNotNull)
        .select(vq.as("v"), lit(0L).as("one_ref"), lit(1L).as("one_cur")))
    val counts = both.groupBy("v")
      .agg(sum("one_ref").as("c_ref"), sum("one_cur").as("c_cur"))
    w1FromCounts(counts, scale)
  }

  /** Wasserstein-1 from PERSISTED [[valueCountState]] snapshots — the
    * state is shared with [[ksFromState]] (per-value counts, the
    * monoid), so ONE stored empirical CDF per day serves the whole
    * exact-integer drift family. Values quantize to `scale` units at
    * read time (counts at values that collide on a quantized unit
    * re-sum — identical to quantizing the raw rows), and the result is
    * bit-identical to [[w1Drift]] over the original snapshots. */
  def w1FromState(refState: DataFrame, curState: DataFrame,
      scale: Long = 100L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val vq = round(col("v") * lit(scale)).cast("long")
    val counts = refState
      .select(vq.as("v"), col("c").as("one_ref"), lit(0L).as("one_cur"))
      .unionByName(curState
        .select(vq.as("v"), lit(0L).as("one_ref"), col("c").as("one_cur")))
      .groupBy("v")
      .agg(sum("one_ref").as("c_ref"), sum("one_cur").as("c_cur"))
    w1FromCounts(counts, scale)
  }

  /** Shared W1 core over a quantized (v, c_ref, c_cur) counts frame.
    * Each term is non-negative, so the decimal(38,0) partial sums stay
    * bounded by the result; telescoping into Σ(|D_before| − |D|)·v
    * would mix signs and can overflow where this sum does not. */
  private def w1FromCounts(counts: DataFrame, scale: Long): DataFrame = {
    val (cum, Seq(nRef, nCur)) =
      Relational.cumBeforeByKey(counts, "v", Seq("c_ref", "c_cur"))
    require(nRef > 0 && nCur > 0,
      s"W1 needs non-empty snapshots (n_ref=$nRef, n_cur=$nCur)")
    val dec = "decimal(38,0)"
    val prodScale = new java.math.BigDecimal(nRef)
      .multiply(new java.math.BigDecimal(nCur))
      .multiply(new java.math.BigDecimal(scale))
    cum.filter(col("__prev_v").isNotNull) // the global min: no predecessor
      .select(
        abs(col("__cumb_c_ref").cast(dec) * lit(nCur) -
          col("__cumb_c_cur").cast(dec) * lit(nRef)).as("diff"),
        // the gap subtraction runs in decimal: two quantized values at
        // opposite long extremes gap past Long.Max, which must stay a
        // legitimate W1 contribution, not an int64 overflow
        (col("v").cast(dec) - col("__prev_v").cast(dec)).as("gap"))
      .agg(sum(col("diff") * col("gap")).as("w1_dec"))
      .select(lit(nRef).as("n_ref"), lit(nCur).as("n_cur"),
        // diagnostic NULLs past Long.Max (try_cast — the ksFromCounts
        // contract); w1_micro itself stays exact in decimal
        col("w1_dec").try_cast("long").as("w1_num"), {
          // unlike the rest of the micro family, W1's quotient is NOT
          // bounded by 10^6 — a distribution shifted by ~2^43 column
          // units already pushes micro-units past Long.Max, where
          // Spark's decimal IntegralDivide silently truncates to the
          // low 64 bits (a wraparound, the exact bug class this family
          // bans). Guard with the exact threshold ⌈2^63·den/10^6⌉,
          // computed driver-side in BigInteger: quotient ≥ 2^63 ⟺
          // w1_dec ≥ that ceiling — those rows surface NULL, in-range
          // rows keep the exact integer division.
          val threshNum = (BigInt(Long.MaxValue) + 1) *
            BigInt(prodScale.toBigInteger)
          val microThresh = new java.math.BigDecimal(
            ((threshNum + 999999) / 1000000).bigInteger)
          when(col("w1_dec") >= lit(microThresh), lit(null).cast("long"))
            .otherwise(
              call_function("div", col("w1_dec") * lit(1000000L), lit(prodScale)))
            .as("w1_micro")
        })
  }

  /** Exact ROC-AUC of a score column against a binary label — the
    * model-quality gate a labeling pipeline runs before trusting a
    * classifier's scores for filtering. AUC is the Mann-Whitney U
    * statistic normalized by n_pos·n_neg, which is PURELY RANK-BASED,
    * so (like [[ksDrift]]) it is computable in exact integer
    * arithmetic with proper tie handling and no float anywhere:
    *
    *   2·U = Σ over distinct score values v:
    *           c_pos(v) · (2·neg_below(v) + c_neg(v))
    *
    * (a positive beats every negative with a lower score and half-ties
    * every negative at the same score; doubling clears the ½). Output
    * one row (n_pos, n_neg, u2_num, auc_micro) with
    * `auc_micro` = ⌊2U·10^6 / (2·n_pos·n_neg)⌋ — integer division in
    * decimal(38,0), exact while 2·n_pos·n_neg·10^6 < 10^38 (any
    * realistic table); the diagnostic u2_num lands back in a long
    * (NULL on overflow under the non-ANSI cast, never a silent wrap).
    *
    * Any non-zero, non-null label value is positive; rows with a NULL
    * score or label are excluded. Scale shape: neg_below(v) is the
    * [[Relational.cumBeforeByKey]] cumulative over the per-score
    * counts — the [[ksDrift]] discipline, never a single-reducer
    * window. */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val isPos = col(labelCol).cast("long") =!= 0L
    val scored = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("v"),
        when(isPos, 1L).otherwise(0L).as("one_pos"),
        when(isPos, 0L).otherwise(1L).as("one_neg"))
    val counts = scored.groupBy("v")
      .agg(sum("one_pos").as("c_pos"), sum("one_neg").as("c_neg"))
    val (cum, Seq(nPos, nNeg)) =
      Relational.cumBeforeByKey(counts, "v", Seq("c_pos", "c_neg"))
    require(nPos > 0 && nNeg > 0,
      s"ROC-AUC needs both classes present (n_pos=$nPos, n_neg=$nNeg)")
    val dec = "decimal(38,0)"
    val denom = new java.math.BigDecimal(2L)
      .multiply(new java.math.BigDecimal(nPos))
      .multiply(new java.math.BigDecimal(nNeg))
    cum.select((col("c_pos").cast(dec) *
        (lit(2L) * col("__cumb_c_neg") + col("c_neg")).cast(dec)).as("contrib"))
      .agg(sum("contrib").as("u2_dec"))
      .select(lit(nPos).as("n_pos"), lit(nNeg).as("n_neg"),
        col("u2_dec").cast("long").as("u2_num"),
        call_function("div", col("u2_dec") * lit(1000000L), lit(denom))
          .as("auc_micro"))
  }

  /** Chi-squared homogeneity drift between two categorical snapshots —
    * the classical significance-testable companion to
    * [[psiDriftCategorical]]'s smoothed-PSI: for the 2×k contingency of
    * (snapshot × category) the per-category statistic collapses to
    *
    *   cell(c) = d_c² / (t_ref · t_cur · n_c),
    *   d_c = n_ref(c)·t_cur − n_cur(c)·t_ref,  n_c = n_ref(c)+n_cur(c)
    *
    * (both snapshot terms of (o−e)²/e share the d_c numerator), which
    * is RATIONAL — so unlike PSI's ln this is quantized by exact
    * integer division, no float anywhere: `chi2_cell_micro` =
    * ⌊d_c²·10^6 / (t_ref·t_cur·n_c)⌋, computed as
    * q·10^6 + ⌊r·10^6/den⌋ with (q, r) = divmod(d_c², den) so no
    * intermediate exceeds decimal(38,0) while d_c² < 10^38 — i.e.
    * t_ref·t_cur < 10^19, both sides up to ~3·10^9 rows (past that the
    * decimal overflows to NULL, never a silent wrap). Σ cell_micro is
    * the micro-quantized chi-squared statistic with k−1 df.
    *
    * Output: one row per category in EITHER snapshot —
    * (category, n_ref, n_cur, chi2_cell_micro); NULL category counts as
    * its own category (drift into NULL is drift). Plan: tagged union →
    * ONE grouped count (map-side partial), one broadcast totals cross —
    * cells scale with |categories|, never rows. */
  def chi2Drift(ref: DataFrame, cur: DataFrame, valueCol: String): DataFrame = {
    // union + one grouped count (not a full-outer join of two counts):
    // one shuffle, and a NULL category groups as ONE row on both
    // engines — a join on a NULL key would split it into two.
    val spine = ref.select(col(valueCol).cast("string").as("category"),
        lit(1L).as("one_ref"), lit(0L).as("one_cur"))
      .unionByName(cur.select(col(valueCol).cast("string").as("category"),
        lit(0L).as("one_ref"), lit(1L).as("one_cur")))
      .groupBy("category")
      .agg(sum("one_ref").as("n_ref"), sum("one_cur").as("n_cur"))
    val tot = spine.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"))
    val dec = "decimal(38,0)"
    val d = col("n_ref").cast(dec) * col("t_cur") - col("n_cur").cast(dec) * col("t_ref")
    val den = (col("t_ref").cast(dec) * col("t_cur")) * (col("n_ref") + col("n_cur"))
    spine.crossJoin(broadcast(tot))
      .select(col("category"), col("n_ref"), col("n_cur"),
        (call_function("div", d * d, den) * lit(1000000L) +
          call_function("div", pmod(d * d, den) * lit(1000000L), den))
          .cast("long").as("chi2_cell_micro"))
  }

  /** Benford first-significant-digit conformance audit — the classic
    * fabricated-data screen for naturally-occurring amounts (Benford
    * 1938): digit d should carry log10(1+1/d) of the mass. Values are
    * quantized to integer units (`scale` per 1.0, e.g. 100 = cents)
    * and the first digit read off the integer's decimal rendering —
    * no float log in the digit extraction, so the observed counts are
    * exact and engine-portable. Non-positive and NULL values are
    * excluded (Benford applies to positive magnitudes).
    *
    * Output: 9 rows (digit 1-9, zero-filled) —
    * (digit, n_obs, n_total, expected_micro, gap_micro) where
    * `expected_micro` = round(n_total·log10(1+1/d)·10^6) (the one
    * rounded constant — irrational, so never a half-way tie) and
    * `gap_micro` = n_obs·10^6 − expected_micro, positive when the
    * digit is over-represented. Plan: one scan, a 9-row grouped count
    * joined to a literal digit spine, one broadcast total cross. */
  def benford(df: DataFrame, valueCol: String, scale: Long = 100L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val spark = df.sparkSession
    import spark.implicits._
    val q = round(col(valueCol).cast("double") * lit(scale)).cast("long")
    val counts = df.select(q.as("q")).filter(col("q") > 0L)
      .select(substring(col("q").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val spine = (1 to 9).toDF("digit")
    val filled = spine.join(counts, Seq("digit"), "left_outer")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
    val tot = filled.agg(sum("n_obs").as("n_total"))
    val expected = round(col("n_total").cast("double") *
      (log(col("digit").cast("double") + 1.0) - log(col("digit").cast("double"))) /
      log(lit(10.0)) * lit(1e6)).cast("long")
    filled.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"), col("n_total"),
        expected.as("expected_micro"),
        (col("n_obs") * lit(1000000L) - expected).as("gap_micro"))
  }

  /** Functional-dependency violation audit: for a declared FD
    * determinant → dependent, every determinant value that maps to
    * MORE THAN ONE distinct dependent value is a violation — the
    * schema-level contract check (is order_key → ship_priority really
    * a function?) that profiling alone doesn't give. Rows with a NULL
    * dependent are excluded (SQL UNIQUE-style: NULL determines
    * nothing); NULL determinant values group as themselves.
    *
    * Output: one row per violating determinant value —
    * (determinant cols…, n_rows, n_distinct) with n_distinct > 1.
    * Plan: one grouped aggregation (map-side partial count + a
    * distinct count over the dependent, one Expand) — output scales
    * with violating keys, never rows. */
  def fdViolations(df: DataFrame, determinant: Seq[String],
      dependent: String): DataFrame = {
    require(determinant.nonEmpty, "fdViolations needs determinant columns")
    df.filter(col(dependent).isNotNull)
      .groupBy(determinant.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(dependent)).as("n_distinct"))
      .filter(col("n_distinct") > 1L)
  }

  /** Score-calibration audit (reliability-diagram bins) — [[rocAuc]]'s
    * companion: AUC says whether the score RANKS well; calibration says
    * whether its MAGNITUDE means what it claims. Scores bucket into
    * `bins` equal-width bins (the [[psiDrift]] binning — engine-portable
    * float floor) and each bin reports its exact positive rate:
    * `pos_rate_micro` = ⌊n_pos·10^6 / n⌋, integer division, no float
    * in the statistic. Any non-zero label is positive; NULL score or
    * label rows are excluded (mirroring [[rocAuc]]).
    *
    * Output: one row per OCCUPIED bin — (bin, n, n_pos,
    * pos_rate_micro). Plan: one min/max control-plane pass for the
    * edges, then ONE grouped count (map-side partial) — bins-sized
    * output, never rows. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    val isPos = col(labelCol).cast("long") =!= 0L
    val scored = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("double").as("v"),
        when(isPos, 1L).otherwise(0L).as("pos"))
    val (mn, width) = histogramEdges(scored, "v", bins)
    scored
      .groupBy(least(greatest(floor((col("v") - mn) / width), lit(0)),
        lit(bins - 1)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        call_function("div", col("n_pos") * lit(1000000L), col("n"))
          .as("pos_rate_micro"))
  }

  /** Per-category Shannon-entropy terms of a categorical column — the
    * balance monitor behind "did one label swallow the distribution?":
    * Σ h_nano over the rows is the column's entropy in nats,
    * nano-quantized; divided by ln(k) it is Pielou evenness. Like
    * [[mutualInfo]] the quantization is PER CELL (h_nano =
    * round(−p·ln p·10^9) from exact integer counts), so the output is
    * a pure function of the data — never an order-dependent float
    * reduction across cells. NULL categories count as their own
    * category (a null flood is an imbalance worth seeing).
    *
    * Output: one row per category — (category, n_cat, n_total,
    * h_nano). Plan: one grouped count (map-side partial), one
    * broadcast one-row total cross; cells scale with |categories|. */
  def categoryEntropy(df: DataFrame, valueCol: String): DataFrame = {
    val counts = df.groupBy(col(valueCol).cast("string").as("category"))
      .agg(count(lit(1)).as("n_cat"))
    val tot = counts.agg(sum("n_cat").as("n_total"))
    val p = col("n_cat").cast("double") / col("n_total").cast("double")
    counts.crossJoin(broadcast(tot))
      .select(col("category"), col("n_cat"), col("n_total"),
        round(-p * log(p) * lit(1e9)).cast("long").as("h_nano"))
  }
}
