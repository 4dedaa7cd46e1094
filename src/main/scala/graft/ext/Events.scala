package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Event-stream analytics over the `events` table (event_id, ts, user_id,
  * event_type, value, props). Batch implementations; the same column
  * expressions run under Structured Streaming (graft.streaming).
  *
  * Aggregated doubles are cast to DECIMAL(18,6) before summing so results
  * are exact (and engine-portable) regardless of partition/summation
  * order — float sums over shuffled partitions are nondeterministic.
  */
object Events {

  /** Epoch seconds of the event timestamp. The fixture parquet stores
    * TIMESTAMP(NANOS), which Spark reads as a nanosecond LongType under
    * spark.sql.legacy.parquet.nanosAsLong — handle both. Nanos must be
    * reduced with INTEGER division (`div`): float division of ~1.7e18
    * longs loses sub-second precision and corrupts second boundaries. */
  private[graft] def tsSec(events: DataFrame): Column =
    if (events.schema("ts").dataType == LongType)
      call_function("div", col("ts"), lit(1000000000L))
    else unix_timestamp(col("ts"))

  /** Tumbling-window counts/sums per event type. windowSeconds-aligned
    * epoch bucketing: one shuffle on (bucket, type) with map-side combine. */
  def tumbling(events: DataFrame, windowSeconds: Int = 3600): DataFrame =
    events
      .groupBy(
        (floor(tsSec(events) / windowSeconds) * windowSeconds).as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))

  /** Hopping (sliding) windows: every window of `windowSeconds` advancing
    * by `slideSeconds` that contains the event. Each event expands to
    * exactly windowSeconds/slideSeconds rows via a plan-side
    * `explode(sequence(...))` — a zero-shuffle Expand — then one shuffle
    * on (window_start, type) with map-side combine, the same topology as
    * [[tumbling]] scaled by the overlap factor. Epochs are positive, so
    * integer `div` agrees with floor division in any engine. */
  def hopping(events: DataFrame, windowSeconds: Int = 3600,
      slideSeconds: Int = 900): DataFrame = {
    require(windowSeconds % slideSeconds == 0,
      s"window ($windowSeconds s) must be a multiple of slide ($slideSeconds s)")
    val t = tsSec(events)
    // window [w, w+L) contains t  iff  t-L < w <= t and w ≡ 0 (mod S)
    val lo = (call_function("div", t - lit(windowSeconds.toLong), lit(slideSeconds.toLong))
      + lit(1L)) * slideSeconds
    val hi = call_function("div", t, lit(slideSeconds.toLong)) * slideSeconds
    events
      .select(explode(sequence(lo, hi, lit(slideSeconds.toLong))).as("window_start"),
        col("event_type"), col("value"))
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))
  }

  /** Gaps-and-islands sessionization: a new session starts after
    * `gapSeconds` of user inactivity. One shuffle (partition by user),
    * then pure window functions — the batch shape of
    * `session_window`-style streaming sessionization. */
  def sessionize(events: DataFrame, gapSeconds: Int = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val withGap = events
      .withColumn("ts_sec", tsSec(events))
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_sec").isNull || col("ts_sec") - col("prev_sec") > gapSeconds, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts_sec")).as("session_start"),
        max(col("ts_sec")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))
  }

  /** Per-user running aggregates (window-function showcase): event index,
    * cumulative value, and time since previous event. */
  def userRunning(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val withSec = events.withColumn("ts_sec", tsSec(events))
    withSec.select(
      col("event_id"), col("user_id"),
      row_number().over(byUser).as("event_seq"),
      sum(col("value").cast("decimal(18,6)"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)).as("running_value"),
      (col("ts_sec") - lag(col("ts_sec"), 1).over(byUser)).as("secs_since_prev"))
  }

  /** Ordered funnel analysis: for each user, the first time each step of
    * `steps` was reached IN ORDER — step i+1 counts only strictly after
    * (second-truncated) the first completion of step i. Implementation is
    * pure per-user window aggregation: one shuffle on user_id, then one
    * chained select per step over the SAME partitioning (Catalyst reuses
    * the exchange), no joins and no driver state — at 100 TB this is a
    * single exchange + sorts. Second truncation (not raw nanos) is the
    * portable ordering contract shared with the sessionize oracle.
    * Output: user_id, step_1..step_n first-reach epoch seconds (null once
    * the chain breaks), and `reached` = number of completed steps. */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.size <= 8, s"funnel needs 1..8 steps, got ${steps.size}")
    val byUser = Window.partitionBy("user_id")
    val base = events.select(col("user_id"), col("event_type"), tsSec(events).as("ts_sec"))
    val withSteps = steps.zipWithIndex.foldLeft(base) { case (df, (step, i)) =>
      val cond =
        if (i == 0) col("event_type") === step
        else col("event_type") === step && col(s"step_${i}").isNotNull &&
          col("ts_sec") > col(s"step_${i}")
      df.withColumn(s"step_${i + 1}", min(when(cond, col("ts_sec"))).over(byUser))
    }
    val stepCols = (1 to steps.size).map(i => col(s"step_$i"))
    val reached = stepCols.map(c => when(c.isNotNull, 1).otherwise(0))
      .reduce[Column](_ + _)
    withSteps
      .select((Seq(col("user_id")) ++ stepCols :+ reached.as("reached")): _*)
      .distinct()
  }

  /** Ordered funnel with an EXCLUSION event — "did A then B WITHOUT C
    * in between", the funnel feature plain step matching can't
    * express: a user's conversion only counts as clean if no excluded
    * event falls strictly between any pair of consecutive COMPLETED
    * step times (the standard exclusion-window semantics — an error
    * between click and purchase taints that conversion; one before the
    * funnel or after the last step does not). Builds on [[funnel]]'s
    * first-touch step times; one extra equi-join of the excluded
    * events on user (per-user blocks, never a cross) plus one grouped
    * count.
    *
    * Output: funnel's (user_id, step_1..step_k, reached) plus
    * `n_excluded_between` and `clean` (completed all steps AND zero
    * excluded events inside the windows). */
  def funnelWithExclusion(events: DataFrame, steps: Seq[String],
      excluded: String): DataFrame = {
    require(steps.size >= 2, s"exclusion funnel needs >= 2 steps: ${steps.size}")
    require(!steps.contains(excluded),
      s"excluded type '$excluded' cannot also be a step")
    val f = funnel(events, steps)
    val ex = events.filter(col("event_type") === excluded)
      .select(col("user_id"), tsSec(events).as("ex_sec"))
    val betweenAnyPair = (1 until steps.size).map { i =>
      col(s"step_$i").isNotNull && col(s"step_${i + 1}").isNotNull &&
        col("ex_sec") > col(s"step_$i") && col("ex_sec") < col(s"step_${i + 1}")
    }.reduce(_ || _)
    val stepCols = (1 to steps.size).map(i => col(s"step_$i"))
    f.join(ex, Seq("user_id"), "left")
      .groupBy((col("user_id") +: stepCols) :+ col("reached"): _*)
      .agg(sum(when(betweenAnyPair, 1L).otherwise(0L))
        .as("n_excluded_between"))
      .withColumn("clean",
        col("reached") === steps.size && col("n_excluded_between") === 0L)
  }

  /** Funnel step-transition latency percentiles: over users who
    * completed each consecutive step pair, the EXACT positional
    * percentiles of step_{i+1} − step_i (the stream_quantiles
    * convention — value at rank ⌈p·n⌉, no interpolation, so the answer
    * is a member of the data and engine-exact). One funnel pass, a
    * zero-shuffle union of the transition frames, one rank window per
    * transition, one grouped min per probe. Output:
    * (transition, p, n_users, lat_sec). */
  def funnelLatency(events: DataFrame, steps: Seq[String],
      ps: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(steps.size >= 2, s"funnelLatency needs >= 2 steps: ${steps.size}")
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"percentile probes must be in (0, 1]: $ps")
    val f = funnel(events, steps)
    val transitions = (1 until steps.size).map { i =>
      f.filter(col(s"step_${i + 1}").isNotNull)
        .select(lit(s"step_${i}_to_${i + 1}").as("transition"),
          (col(s"step_${i + 1}") - col(s"step_$i")).as("lat"))
    }.reduce(_.unionAll(_))
    val byT = Window.partitionBy(col("transition"))
    val ranked = transitions
      .withColumn("rn", row_number().over(byT.orderBy(col("lat"))).cast("long"))
      .withColumn("n", count(lit(1)).over(byT))
      .withColumn("p", explode(array(ps.map(lit): _*)))
    ranked.filter(col("rn") >= ceil(col("p") * col("n")))
      .groupBy(col("transition"), col("p"))
      .agg(max(col("n")).as("n_users"), min(col("lat")).as("lat_sec"))
  }

  /** Markov next-event transition matrix: per-user event sequences →
    * (from_type, to_type) counts and transition probabilities. The whole
    * operator is ONE window pass (lead over the per-user ordering — the
    * same single exchange sessionize uses) plus one aggregate on the
    * transition pair; the probability is a single division of two exact
    * longs, so it is bit-identical in any engine. Ordering is total
    * ((ts, event_id) — event_id is unique), so the next-event pairing is
    * deterministic under any partitioning. At 100 TB this is shuffle-
    * bounded by the user exchange; the transition matrix itself is
    * |event_type|² rows — driver-trivial. */
  def transitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_sec"), col("event_id"))
    val byFrom = Window.partitionBy("from_type")
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsSec(events).as("ts_sec"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(byFrom))
      .withColumn("p", col("n").cast("double") / col("n_from").cast("double"))
  }

  /** First/last-touch conversion attribution: for every conversion
    * event, credit the user's touch events inside the lookback window
    * ending at the conversion (touch strictly before or at the
    * conversion instant, within `lookbackSeconds`). One row per
    * conversion: the first and the last touch (ties broken by
    * event_id — deterministic in any engine) and the touch count.
    * Conversions with no in-window touch are omitted (nothing to
    * attribute).
    *
    * Plan shape: an equi join on user_id with a pushed range predicate
    * — per-user touch×conversion blocks, never a global cross — then
    * one aggregation per conversion using min_by/max_by over the
    * (ts, event_id) key, so no window re-sort of the joined frame. */
  def attribution(events: DataFrame, conversionType: String = "purchase",
      touchTypes: Seq[String] = Seq("click", "view"),
      lookbackSeconds: Long = 7200L): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    val ev = events.select(col("user_id"), col("event_id"), col("event_type"),
      tsSec(events).as("sec"))
    val conv = ev.filter(col("event_type") === conversionType)
      .select(col("user_id"), col("event_id").as("conv_id"), col("sec").as("conv_sec"))
    val touch = ev.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("t_type"), col("sec").as("t_sec"))
    conv.join(touch, Seq("user_id"))
      .filter(col("t_sec") <= col("conv_sec") &&
        col("t_sec") > col("conv_sec") - lookbackSeconds)
      .groupBy(col("user_id"), col("conv_id"))
      .agg(
        expr("min_by(t_id, struct(t_sec, t_id))").as("first_id"),
        expr("min_by(t_type, struct(t_sec, t_id))").as("first_type"),
        expr("max_by(t_id, struct(t_sec, t_id))").as("last_id"),
        expr("max_by(t_type, struct(t_sec, t_id))").as("last_type"),
        count(lit(1)).as("n_touches"))
  }

  /** Multi-touch attribution — [[attribution]]'s whole-journey twin:
    * every touch inside the lookback gets credit, under two EXACT
    * integer weighting models (no float, so credits are a pure
    * function of the data):
    *
    *   - linear: w_linear_micro = ⌊10^6 / n_touches⌋ — equal credit;
    *   - bucketed exponential decay: w_decay_micro = ⌊10^6 / 2^k⌋
    *     with k = ⌊Δ/halflife⌋ capped at 30 — credit halves per whole
    *     halflife elapsed before the conversion (the dyadic form of
    *     time-decay attribution that integer arithmetic renders
    *     exactly; a float 2^(−Δ/h) would be engine-ULP-dependent).
    *
    * Output: one row per (conversion, touch) pair in the lookback.
    * Plan: the same per-user equi join with a pushed lookback range
    * predicate as [[attribution]], plus one per-conversion window
    * count (groups bounded by the lookback's touch count). */
  def attributionMultiTouch(events: DataFrame,
      conversionType: String = "purchase",
      touchTypes: Seq[String] = Seq("click", "view"),
      lookbackSeconds: Long = 7200L,
      halflifeSeconds: Long = 1800L): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    require(halflifeSeconds > 0, s"halflife must be positive, got $halflifeSeconds")
    val ev = events.select(col("user_id"), col("event_id"), col("event_type"),
      tsSec(events).as("sec"))
    val conv = ev.filter(col("event_type") === conversionType)
      .select(col("user_id"), col("event_id").as("conv_id"), col("sec").as("conv_sec"))
    val touch = ev.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("t_type"), col("sec").as("t_sec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "conv_id")
    conv.join(touch, Seq("user_id"))
      .filter(col("t_sec") <= col("conv_sec") &&
        col("t_sec") > col("conv_sec") - lookbackSeconds)
      .withColumn("n_touches", count(lit(1)).over(w))
      .select(col("user_id"), col("conv_id"), col("t_id"), col("t_type"),
        col("t_sec"), col("n_touches"),
        call_function("div", lit(1000000L), col("n_touches")).as("w_linear_micro"),
        expr(s"1000000L div shiftleft(1L, cast(least((conv_sec - t_sec) div " +
          s"${halflifeSeconds}L, 30L) as int))").as("w_decay_micro"))
  }

  /** Cohort retention: users are cohorted by their FIRST active period
    * (floor(ts / bucketSeconds)); retention cell (cohort, k) counts the
    * distinct users of that cohort active k periods later. The standard
    * product-analytics triangle, all integer arithmetic.
    *
    * Plan: distinct (user, period) activity + per-user min period —
    * both one shuffle on user_id (the distinct's exchange is reused by
    * the min aggregate's), then an equi join back on user and a count
    * aggregate over (cohort, k). Nothing wider than (user, period)
    * pairs ever shuffles; the retention triangle itself is
    * periods²-sized — driver-trivial. */
  def cohortRetention(events: DataFrame,
      bucketSeconds: Long = 7L * 86400): DataFrame = {
    val activity = events
      .select(col("user_id"),
        call_function("div", tsSec(events), lit(bucketSeconds)).as("period"))
      .distinct()
    val cohort = activity.groupBy(col("user_id"))
      .agg(min(col("period")).as("cohort_period"))
    activity.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_period"), (col("period") - col("cohort_period")).as("period_k"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** DAU / trailing-MAU stickiness per day. Sliding DISTINCT doesn't
    * decompose like a sum, so the exact form expands each (user, day)
    * activity fact into the `windowDays` window-end days it supports —
    * a bounded ×windowDays blowup of the DISTINCT-collapsed activity
    * set (user-day pairs, not raw events), then one distinct-count per
    * window day. Stickiness is emitted as an integer micro-ratio
    * (dau·10⁶ div mau) — exact cross-engine.
    *
    * At 100 TB the expansion is the honest cost of exactness; swap the
    * distinct count for the HLL sketch path (IncrementalAgg) when ±2%
    * is acceptable and the ×30 shuffle isn't. */
  def dauMau(events: DataFrame, windowDays: Int = 30): DataFrame = {
    val day = call_function("div", tsSec(events), lit(86400L))
    val act = events.select(col("user_id"), day.as("day")).distinct()
    val dau = act.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val mau = act
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + lit(windowDays - 1))).as("wday"))
      .distinct()
      .groupBy(col("wday").as("day"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        call_function("div", col("dau") * lit(1000000L), col("mau")).as("stickiness_micro"))
  }

  /** JSON prop extraction (the `props` column is a JSON object string). */
  /** Per-day maximum concurrency over CLOSED intervals [start, end]
    * (epoch seconds): the classic sweep line — +1 at start, −1 at
    * end+1 — but WITHOUT the single-reducer global running sum. The
    * sweep is decomposed per UTC day: within-day running sums window in
    * parallel (partitioned by day); cross-midnight sessions are carried
    * by a prefix sum over PER-DAY NET TOTALS, a frame with one row per
    * day — control-plane-sized at any data scale, the
    * Relational.rowNumberByKey carry idea applied to interval counting.
    * Coincident sweep points are pre-summed per timestamp, so the
    * running count is evaluated only after all deltas at an instant
    * apply — order within an instant can't affect the max. Days with
    * no sweep activity are omitted; a day's max includes its carry-in
    * (the midnight count), which bounds any dip-only day from below. */
  def maxConcurrency(intervals: DataFrame, startSecCol: String,
      endSecCol: String): DataFrame = {
    val deltas = intervals.select(col(startSecCol).as("ts"), lit(1L).as("d"))
      .unionAll(intervals.select((col(endSecCol) + 1L).as("ts"), lit(-1L).as("d")))
      .groupBy(col("ts")).agg(sum(col("d")).as("net"))
      .withColumn("day", call_function("div", col("ts"), lit(86400L)))
    val inDay = Window.partitionBy(col("day")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = deltas.withColumn("run_in_day", sum(col("net")).over(inDay))
    val dayTotals = deltas.groupBy(col("day")).agg(sum(col("net")).as("day_net"))
    val carry = dayTotals.withColumn("carry",
      coalesce(sum(col("day_net")).over(
        Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("carry"))
    run.join(broadcast(carry), Seq("day"))
      .groupBy(col("day"))
      .agg(greatest(max(col("carry") + col("run_in_day")), max(col("carry")))
        .as("max_concurrent"))
  }

  /** Run-length compression of per-user event sequences: consecutive
    * events of the same type (in exact (ts, event_id) order) collapse to
    * one run row — gaps-and-islands with a type-change flag instead of a
    * time gap. The standard pre-step for sequence modeling (dwell
    * detection, loop/burst compression, n-gram inputs): a 100 TB
    * clickstream usually shrinks an order of magnitude here before any
    * expensive pass. One shuffle (partition by user), pure windows.
    * Output: (user_id, run_seq, event_type, run_len, t_start, t_end). */
  def runLength(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_sec"), col("event_id"))
    events
      .withColumn("ts_sec", tsSec(events))
      .withColumn("__new",
        when(lag(col("event_type"), 1).over(byUser).isNull ||
          lag(col("event_type"), 1).over(byUser) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_seq",
        sum(col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("run_seq"))
      .agg(min(col("event_type")).as("event_type"), // constant within a run
        count(lit(1)).as("run_len"),
        min(col("ts_sec")).as("t_start"),
        max(col("ts_sec")).as("t_end"))
  }

  /** Session-level co-occurrence lift for unordered event-type pairs:
    * n_ab = sessions containing both a and b (a < b), against the
    * independence expectation — lift = n_ab·N / (n_a·n_b), surfaced as
    * the exact nonnegative integer division n_ab·N·10^6 div (n_a·n_b)
    * (DECIMAL(38,0) products — four counts multiplied pass int64 at
    * corpus scale). The market-basket measure over [[sessionize]]'s
    * sessions. Pair generation is per-session over the DISTINCT types
    * present — bounded by the type-alphabet, never by events. The
    * session total rides an explicit one-row broadcast cross join
    * (build side bounded by construction; plan-audit-allowlisted).
    * Output: (a, b, n_a, n_b, n_ab, lift_micro). */
  def sessionLift(events: DataFrame): DataFrame =
    sessionLiftFromTypes(sessionTypes(events))

  /** Events annotated with their gap-based session_seq (the sessionize
    * numbering) — the per-event shape [[sessionTypes]] and
    * [[sessionTrigrams]] build on. */
  private def withSessionSeq(events: DataFrame,
      gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("ts_sec", tsSec(events))
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_sec").isNull || col("ts_sec") - col("prev_sec") > gapSeconds, 1)
          .otherwise(0))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** The DISTINCT (user, session, event_type) presence frame
    * [[sessionLift]] pairs over — exposed for tests. */
  def sessionTypes(events: DataFrame): DataFrame =
    withSessionSeq(events)
      .select(col("user_id"), col("session_seq"), col("event_type"))
      .distinct()

  /** Frequent session paths: counts of CONSECUTIVE event-type trigrams
    * within a session (the path-mining face of funnel analysis — which
    * 3-step flows actually happen, unprompted). Trigrams come from two
    * LEAD windows over the session ordering — in-partition, zero extra
    * shuffle beyond the sessionize partitioning; one grouped count
    * closes it. Paths below `minCount` are cut. Output:
    * (t1, t2, t3, n_paths). */
  def sessionTrigrams(events: DataFrame, minCount: Long = 5L,
      gapSeconds: Long = 1800L): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts_sec"), col("event_id"))
    withSessionSeq(events, gapSeconds)
      .select(col("user_id"), col("session_seq"), col("ts_sec"), col("event_id"),
        col("event_type").as("t1"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n_paths"))
      .filter(col("n_paths") >= minCount)
  }

  private def sessionLiftFromTypes(types: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val nTotal = types.select(col("user_id"), col("session_seq")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val perType = types.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val pairs = types.select(col("user_id"), col("session_seq"),
        col("event_type").as("a"))
      .join(types.select(col("user_id"), col("session_seq"),
        col("event_type").as("b")), Seq("user_id", "session_seq"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(perType.select(col("event_type").as("a"), col("n_t").as("n_a")), Seq("a"))
      .join(perType.select(col("event_type").as("b"), col("n_t").as("n_b")), Seq("b"))
      .crossJoin(broadcast(nTotal)) // one-row session total (allowlisted)
      .select(col("a"), col("b"), col("n_a"), col("n_b"), col("n_ab"),
        call_function("div",
          col("n_ab").cast(dec) * col("n_sessions") * lit(1000000L),
          col("n_a").cast(dec) * col("n_b")).as("lift_micro"))
  }

  def withProp(events: DataFrame, key: String, outCol: String): DataFrame =
    events.withColumn(outCol, get_json_object(col("props"), s"$$.$key"))

  /** Typed JSON parsing: one from_json pass with an explicit schema beats
    * repeated get_json_object calls when several keys are read (each
    * get_json_object re-parses the document). */
  def withProps(events: DataFrame, schema: org.apache.spark.sql.types.StructType,
      outCol: String = "props_struct"): DataFrame =
    events.withColumn(outCol, from_json(col("props"), schema))
  /** Kaplan–Meier survival estimator (Kaplan & Meier 1958) over user
    * lifetimes — the churn-curve face of the event log. A user's
    * lifetime is `last − first` event seconds in whole days; users
    * whose last event falls within `censorGapSec` of the corpus max
    * are CENSORED (still alive at observation end), everyone else is a
    * churn event — right-censoring, the estimator's defining input.
    *
    * Exact-integer discipline: risk sets and event/censor counts are
    * exact longs off one aggregation + one cumulative window over the
    * day-indexed curve frame (≤ #distinct lifetime days rows —
    * aggregate-sized, so its single-partition window is control-plane);
    * each event day contributes ln((n_risk − d)/n_risk) nano-quantized
    * PER ROW before the cumulative sum (the bigram-LM discipline), and
    * the one terminal float is exp(cum), micro-quantized — so the
    * curve is bit-identical in any engine. A day where every remaining
    * user churns drives survival to exactly 0 from there on (ln(0)
    * never evaluated). Output: (t_day, n_risk, n_events, n_censored,
    * surv_micro). */
  def survivalCurve(events: DataFrame, censorGapSec: Long = 7L * 86400L): DataFrame = {
    require(censorGapSec >= 0L, s"censorGapSec must be >= 0, got $censorGapSec")
    val sec = tsSec(events)
    val per = events.groupBy(col("user_id"))
      .agg(min(sec).as("__first"), max(sec).as("__last"))
    val mx = per.agg(max(col("__last")).as("__mx"))
    val users = per.crossJoin(broadcast(mx)) // one-row corpus-max frame
      .select(col("user_id"),
        call_function("div", col("__last") - col("__first"), lit(86400L)).as("t_day"),
        (col("__last") + lit(censorGapSec) <= col("__mx")).cast("long").as("__event"))
    kaplanMeier(users)
  }

  /** Time-to-conversion survival: duration = first `convType` event −
    * the user's first event of any type, in whole days; users who
    * never convert are right-censored at the corpus max. The classic
    * KM application ("how long until purchase?") — the fixture mixes
    * real conversions with censored never-buyers, so both estimator
    * paths (hazard terms AND censoring-only days) carry mass. */
  def conversionSurvival(events: DataFrame, convType: String): DataFrame = {
    val sec = tsSec(events)
    val per = events.groupBy(col("user_id"))
      .agg(min(sec).as("__first"),
        min(when(col("event_type") === convType, sec)).as("__conv"))
    val mx = events.agg(max(sec).as("__mx"))
    val users = per.crossJoin(broadcast(mx)) // one-row corpus-max frame
      .select(col("user_id"),
        call_function("div",
          coalesce(col("__conv"), col("__mx")) - col("__first"),
          lit(86400L)).as("t_day"),
        col("__conv").isNotNull.cast("long").as("__event"))
    kaplanMeier(users)
  }

  /** The mergeable per-user state behind [[conversionSurvival]]:
    * (user_id, first_sec, conv_sec nullable, max_sec) — each column a
    * MIN/MIN/MAX monoid over disjoint event batches, so persisted
    * day-N state + a delta-only pass folds to exactly the full-history
    * aggregation and the incremental curve hash-matches the batch
    * recompute. */
  def survivalState(events: DataFrame, convType: String): DataFrame = {
    val sec = tsSec(events)
    events.groupBy(col("user_id"))
      .agg(min(sec).as("first_sec"),
        min(when(col("event_type") === convType, sec)).as("conv_sec"),
        max(sec).as("max_sec"))
  }

  /** Fold mergeable survival states (column-wise min/min/max). */
  def mergeSurvivalState(states: DataFrame*): DataFrame =
    states.reduce(_.unionByName(_)).groupBy(col("user_id"))
      .agg(min(col("first_sec")).as("first_sec"),
        min(col("conv_sec")).as("conv_sec"),
        max(col("max_sec")).as("max_sec"))

  /** The curve off (possibly merged) [[survivalState]] frames — the
    * incremental face of [[conversionSurvival]]. */
  def survivalFromState(state: DataFrame): DataFrame = {
    val mx = state.agg(max(col("max_sec")).as("__mx"))
    val users = state.crossJoin(broadcast(mx)) // one-row corpus-max frame
      .select(col("user_id"),
        call_function("div",
          coalesce(col("conv_sec"), col("__mx")) - col("first_sec"),
          lit(86400L)).as("t_day"),
        col("conv_sec").isNotNull.cast("long").as("__event"))
    kaplanMeier(users)
  }

  /** The estimator core over a (t_day, __event) subject frame — shared
    * by [[survivalCurve]] and [[conversionSurvival]]. */
  private def kaplanMeier(users: DataFrame): DataFrame = {
    val byDay = users.groupBy(col("t_day"))
      .agg(count(lit(1)).as("__leaving"), sum(col("__event")).as("n_events"),
        (count(lit(1)) - sum(col("__event"))).as("n_censored"))
    val tot = broadcast(users.agg(count(lit(1)).cast("long").as("__n")))
    val w = Window.partitionBy(lit(1)).orderBy(col("t_day"))
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    val upTo = w.rowsBetween(Window.unboundedPreceding, 0)
    byDay.crossJoin(tot) // one-row total frame
      .withColumn("n_risk",
        col("__n") - coalesce(sum(col("__leaving")).over(prior), lit(0L)))
      .withColumn("__term", when(
          col("n_events") > 0L && col("n_events") < col("n_risk"),
          round(log((col("n_risk") - col("n_events")).cast("double") /
            col("n_risk").cast("double")) * lit(1e9)).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("__dead",
        max((col("n_events") === col("n_risk")).cast("int")).over(upTo))
      .withColumn("__cum", sum(col("__term")).over(upTo))
      .select(col("t_day"), col("n_risk"), col("n_events"), col("n_censored"),
        when(col("__dead") === 1, lit(0L)).otherwise(
          round(exp(col("__cum").cast("double") / lit(1e9)) * lit(1e6))
            .cast("long")).as("surv_micro"))
  }

  /** Interval-union coverage per key — the uptime/SLA question: out of
    * the span a key was active, how much wall-clock was actually
    * covered by at least one interval, and how much was gap? Intervals
    * are the half-open [start, start+lenSec) holds around each
    * observation (a heartbeat, a session ping, a job report). Merged
    * via the classic islands sweep: within a key, an interval starts a
    * NEW island iff its start lies strictly past the running max end
    * of everything before it — with equal starts the earlier-tied
    * rows' ends are already in that running max, so tie order cannot
    * change the island assignment. All arithmetic is exact integer
    * seconds.
    *
    * Plan shape: two window passes (running max end, island cumsum)
    * over the SAME (key, start) partitioning — one shuffle — then an
    * islands-sized aggregation. Per-key state is O(islands), never a
    * driver-side interval list.
    *
    * Output: (key, n_events, n_islands, covered_sec, span_sec,
    * gap_sec) with span = max end − min start and
    * gap = span − covered. */
  def coverage(events: DataFrame, keyCol: String, lenSec: Long): DataFrame = {
    require(lenSec > 0, s"lenSec must be positive, got $lenSec")
    val s = tsSec(events)
    val base = events.select(col(keyCol).as("key"), s.as("st"),
      (s + lenSec).as("en"), lit(1L).as("cnt"))
    coverageFromStats(islandStats(base)).withColumnRenamed("key", keyCol)
  }

  /** The islands sweep + per-key stats over a (key, st, en, cnt) frame
    * — the shared core of [[coverage]] and the streaming coverage
    * gate (whose carried last-island rows enter with cnt = 0 so they
    * merge without double-counting). Interval lengths must be uniform
    * (the coverage contract), which guarantees the LAST island also
    * carries the maximum end. Output: (key, n_events, n_islands,
    * covered_sec, first_st, last_st, last_en). */
  private[graft] def islandStats(base: DataFrame): DataFrame = {
    val w = Window.partitionBy("key").orderBy("st", "en")
    val prevMax = max("en").over(w.rowsBetween(Window.unboundedPreceding, -1))
    val isNew = when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L)
    val islands = base
      .withColumn("island",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("key", "island")
      .agg(min("st").as("i_st"), max("en").as("i_en"), sum("cnt").as("n"))
    islands.groupBy("key")
      .agg(sum("n").as("n_events"),
        count(lit(1)).as("n_islands"),
        sum(col("i_en") - col("i_st")).as("covered_sec"),
        min("i_st").as("first_st"),
        max("i_st").as("last_st"),
        max("i_en").as("last_en"))
  }

  /** Project island stats to the coverage report shape. */
  private[graft] def coverageFromStats(stats: DataFrame): DataFrame =
    stats.select(col("key"), col("n_events"), col("n_islands"),
      col("covered_sec"),
      (col("last_en") - col("first_st")).as("span_sec"),
      (col("last_en") - col("first_st") - col("covered_sec")).as("gap_sec"))

  /** Inter-arrival-time profile per key: the distribution of gaps
    * between consecutive events — the latency/cadence audit that sizes
    * watermarks, session thresholds, and polling intervals. Exact end
    * to end: gaps are integer seconds off the deterministic
    * (sec, id) order (the id tiebreak makes same-second bursts
    * well-defined), the p50/p90 cuts are LOWER discrete quantiles read
    * off the per-key gap histogram (integer cross-multiplied — no
    * float rank), and the mean is the half-up divmod split of the
    * exact gap sum.
    *
    * Plan: ONE window pass over the key partitioning for the lag (the
    * unavoidable per-key time order — the sessionize shape), then the
    * histogram aggregation shuffles only the distinct (key, gap) set,
    * the cumulative window and quantile min ride that small frame, and
    * nothing returns to the fact table. Output: (key, n_gaps,
    * p50_gap, p90_gap, mean_gap_micro). */
  def interArrival(df: DataFrame, keyCol: String, secCol: String,
      idCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(col(keyCol)).orderBy(col(secCol), col(idCol))
    val gaps = df
      .withColumn("__gap", col(secCol) - lag(col(secCol), 1).over(w))
      .filter(col("__gap").isNotNull)
    val hist = gaps.groupBy(col(keyCol), col("__gap"))
      .agg(count(lit(1L)).as("__c"))
    val wRun = Window.partitionBy(col(keyCol)).orderBy(col("__gap"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(keyCol))
    val cum = hist
      .withColumn("__cum", sum("__c").over(wRun))
      .withColumn("__tot", sum("__c").over(wAll))
    val sumG = sum(col("__gap").cast(dec) * col("__c").cast(dec))
    cum.groupBy(col(keyCol))
      .agg(
        max(col("__tot")).as("n_gaps"),
        min(when(col("__cum") * 2 >= col("__tot"), col("__gap"))).as("p50_gap"),
        min(when(col("__cum") * 10 >= col("__tot") * 9, col("__gap"))).as("p90_gap"),
        sumG.as("__sum"))
      .select(col(keyCol), col("n_gaps"), col("p50_gap"), col("p90_gap"),
        call_function("div",
          col("__sum") * lit(2000000L) + col("n_gaps").cast(dec),
          col("n_gaps").cast(dec) * 2).cast("long").as("mean_gap_micro"))
  }

}
