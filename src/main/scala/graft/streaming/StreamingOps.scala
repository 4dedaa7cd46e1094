package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming faces of the event analytics in graft.ext.Events:
  * same column expressions, incremental execution. Watermarks bound state;
  * all aggregations are keyed so state partitions by key across executors.
  *
  * Input contract: a streaming DataFrame with (event_id long, ts
  * timestamp, user_id long, event_type string, value double) — e.g. from
  * `spark.readStream.schema(...).parquet(dir)` or a MemoryStream in tests.
  */
object StreamingOps {

  /** Runs independent tasks as CONCURRENT Spark jobs and returns
    * their results in order (guide §2.6 — actions are only sequential
    * because driver code calls them sequentially): the gates whose
    * microbatch commits more than one parquet sink (score output + the
    * versioned state parts), the SparkEntry queries' concurrent writes,
    * `Manifest.compact`'s group rewrites and the `fuzz_condexpr` chunks.
    * Tasks must be mutually independent (distinct directories, no
    * read-after-write between them); the versioned-state marker flip
    * still happens strictly AFTER every write lands, so the
    * exactly-once contract (commit = marker, replay overwrites with
    * identical bytes) is unchanged.
    *
    * Fails fast: each task runs under its own Spark job group with
    * interruptOnCancel. The first failure cancels every group, running
    * and future jobs alike, waits until the sibling tasks have stopped
    * and is rethrown, so no sibling job outlives the call and no caller
    * waits on work whose result is moot. The pool threads are started
    * by the calling thread and inherit its Spark local properties. */
  private[graft] def concurrently[T](tasks: (() => T)*): Seq[T] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors,
      ExecutorCompletionService, TimeUnit}
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val desc = sc.getLocalProperty("spark.job.description")
    val id = java.util.UUID.randomUUID()
    val groups = tasks.indices.map(i => s"graft-concurrently-$id-$i")
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, Runtime.getRuntime.availableProcessors)))
    val done = new ExecutorCompletionService[T](pool)
    val futures = tasks.zip(groups).map { case (task, group) =>
      done.submit(new Callable[T] {
        def call(): T = { sc.setJobGroup(group, desc, interruptOnCancel = true); task() }
      })
    }
    try {
      // completion order: the first failure surfaces as soon as it happens
      futures.foreach(_ => done.take().get())
      futures.map(_.get())
    } catch { case e: Throwable =>
      groups.foreach(sc.cancelJobGroupAndFutureJobs)
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      throw (e match { case x: ExecutionException => x.getCause; case x => x })
    } finally pool.shutdown()
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserCount(user_id: Long, n_events: Long, sum_value: Double)

  final case class UserStats(user_id: Long, n_events: Long,
      min_value: Double, max_value: Double)

  final case class WindowDistinct(window_start: Long, event_type: String,
      n_distinct: Long)

  /** Streaming distinct-per-window off mergeable theta-sketch state —
    * the streaming twin of `ops.Sketches`: COUNT(DISTINCT) needs the
    * full member set as state, which is unbounded on a stream; a theta
    * sketch is the bounded (≤ ~16·2^lgK bytes per group) mergeable
    * replacement, and it stays EXACT while a group's distinct count
    * sits under 2^lgK — the regime the driver row pins against the
    * DuckDB COUNT(DISTINCT) oracle. Each microbatch builds one
    * UpdateSketch over the group's new rows (per-row update, no
    * per-row allocation) and unions it into the stored compact blob —
    * set union is the monoid, so cross-batch merge order is
    * irrelevant; update-mode estimates are nondecreasing, so the
    * drained maximum per key is the final state's estimate.
    * User-facing ids hash through the sketch's own 64-bit keying.
    *
    * State is BOUNDED: the input is watermarked on `ts` and every
    * group arms an event-time timeout at its window end, so once the
    * watermark (max event time − `watermarkDelay`) passes a window,
    * its groups emit one final row and `state.remove()` — live state
    * is ≤ open-window × event-type groups forever, never the whole
    * stream history (the NoTimeout variant grows without bound on a
    * real stream — the one shape that cannot ship at 100 TB/day). A
    * watermark-late row re-creates its group fresh and emits a
    * partial correction row that closes one tick after the current
    * watermark — late data degrades to per-batch deltas instead of
    * being silently wrong or crashing the query. Eviction timing is
    * pinned by StreamingOpsSpec (state-store row counts across a
    * 3-batch replay); the final-row-on-timeout duplicates the last
    * update emission, so drained max-per-key consumers are
    * unaffected. */
  def sketchDistinct(events: DataFrame, windowSeconds: Long = 3600L,
      lgK: Int = 15, watermarkDelay: String = "2 hours"): Dataset[WindowDistinct] = {
    require(lgK >= 4 && lgK <= 26, s"lgK must be in [4,26], got $lgK")
    import events.sparkSession.implicits._

    def estimate(blob: Array[Byte]): Long = Math.round(
      org.apache.datasketches.theta.Sketches.wrapCompactSketch(
        org.apache.datasketches.memory.Memory.wrap(blob)).getEstimate)

    events
      .withWatermark("ts", watermarkDelay)
      // ts rides along (unused by the function): the event-time-timeout
      // checker requires the watermarked attribute in the operator input
      .select(
        (floor(unix_timestamp(col("ts")) / windowSeconds) * windowSeconds)
          .cast("long").as("window_start"),
        col("event_type"), col("user_id"), col("ts"))
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey { case (ws, et, _, _) => (ws, et) }
      .mapGroupsWithState[Array[Byte], WindowDistinct](GroupStateTimeout.EventTimeTimeout) {
        case ((ws, et), rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed the window end: emit the final row, drop
            // the state — the group never returns (on-time data cannot
            // land behind the watermark)
            val fin = estimate(state.get)
            state.remove()
            WindowDistinct(ws, et, fin)
          } else {
            val upd = org.apache.datasketches.theta.UpdateSketch.builder()
              .setLogNominalEntries(lgK).build()
            rows.foreach { case (_, _, uid, _) => upd.update(uid) }
            val merged: Array[Byte] = state.getOption match {
              case Some(prev) if prev.nonEmpty =>
                val u = org.apache.datasketches.theta.SetOperation.builder()
                  .setLogNominalEntries(lgK).buildUnion()
                u.union(org.apache.datasketches.theta.Sketches.wrapCompactSketch(
                  org.apache.datasketches.memory.Memory.wrap(prev)))
                u.union(upd.compact(true, null))
                u.getResult(true, null).toByteArray
              case _ => upd.compact(true, null).toByteArray
            }
            state.update(merged)
            // close at the window end; a late-recreated group (end ≤
            // watermark) closes one tick after the current watermark —
            // setTimeoutTimestamp rejects timestamps at or below it
            state.setTimeoutTimestamp(math.max((ws + windowSeconds) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            WindowDistinct(ws, et, estimate(merged))
          }
      }
  }

  final case class WindowFreqItem(window_start: Long, item: String, est: Long)

  /** Streaming per-window frequent items off mergeable Misra-Gries-family
    * state — the streaming twin of `ops.Sketches.freqSketches`: a full
    * per-window item count needs per-item state unbounded in the item
    * domain; an ItemsSketch is the bounded (maxMapSize counters per
    * window) mergeable replacement, EXACT while a window's distinct item
    * count stays inside the map (no purge) — the regime the driver row
    * pins against the plain GROUP BY COUNT(*) oracle. Each microbatch
    * folds its rows into the stored serialized sketch (merge is the
    * monoid, order irrelevant); update-mode emissions are the group's
    * current NO_FALSE_NEGATIVES item rows, nondecreasing per item in
    * exact mode, so drained max per (window, item) = the final counts.
    *
    * State is bounded the same way as [[sketchDistinct]]: event-time
    * timeout at the window end against the watermark; on timeout the
    * group emits its final item rows and removes its state, so live
    * state is ≤ open windows × maxMapSize counters, never stream
    * history. A watermark-late row re-creates its group fresh and emits
    * per-batch delta rows closing one tick after the watermark. */
  def sketchFreqItems(events: DataFrame, windowSeconds: Long = 3600L,
      maxMapSize: Int = 64, watermarkDelay: String = "2 hours",
      itemCol: String = "event_type"): Dataset[WindowFreqItem] = {
    require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
      s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")
    import events.sparkSession.implicits._
    // created per call, executor-side: the serde instance itself is not
    // java-serializable, so it must never be captured by the closure
    def serDe = new org.apache.datasketches.common.ArrayOfStringsSerDe()

    def wrap(blob: Array[Byte]) =
      org.apache.datasketches.frequencies.ItemsSketch.getInstance[String](
        org.apache.datasketches.memory.Memory.wrap(blob), serDe)

    def itemRows(ws: Long, blob: Array[Byte]): Iterator[WindowFreqItem] =
      wrap(blob).getFrequentItems(
          org.apache.datasketches.frequencies.ErrorType.NO_FALSE_NEGATIVES)
        .iterator.map(r => WindowFreqItem(ws, r.getItem, r.getEstimate))

    events
      .withWatermark("ts", watermarkDelay)
      .filter(col(itemCol).isNotNull)
      .select(
        (floor(unix_timestamp(col("ts")) / windowSeconds) * windowSeconds)
          .cast("long").as("window_start"),
        col(itemCol).cast("string").as("item"), col("ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Byte], WindowFreqItem](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        case (ws, rows, state) =>
          if (state.hasTimedOut) {
            val fin = itemRows(ws, state.get).toVector
            state.remove()
            fin.iterator
          } else {
            val sk = state.getOption.filter(_.nonEmpty).map(wrap).getOrElse(
              new org.apache.datasketches.frequencies.ItemsSketch[String](maxMapSize))
            rows.foreach { case (_, item, _) => sk.update(item) }
            val blob = sk.toByteArray(serDe)
            state.update(blob)
            state.setTimeoutTimestamp(math.max((ws + windowSeconds) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            itemRows(ws, blob)
          }
      }
  }

  final case class WindowQuantile(window_start: Long, event_type: String,
      p: Double, q: Double, n: Long)

  /** Streaming per-window quantiles off mergeable KLL state — the
    * streaming twin of `ops.Sketches.groupQuantiles`: an exact
    * per-window percentile needs every value as state; a KLL sketch is
    * the bounded mergeable replacement whose rank-error bound survives
    * any merge order, and it stays EXACT while a group's row count sits
    * under the level-0 capacity — the regime the driver row pins
    * against the exact order-statistic oracle. Each microbatch folds
    * its values into the stored sketch and emits the current INCLUSIVE
    * quantiles tagged with the sketch's row count `n`; quantiles are
    * not monotone across batches, so the drained consumer picks each
    * key's row at MAX n (n strictly grows per fold — the last fold IS
    * the final state; the timeout emission repeats it at equal n with
    * equal values).
    *
    * State bounded like [[sketchDistinct]]: event-time timeout at the
    * window end; on timeout the group emits its final quantile rows and
    * removes its state. */
  def sketchQuantiles(events: DataFrame, windowSeconds: Long = 3600L,
      probs: Seq[Double] = Seq(0.1, 0.5, 0.9, 1.0), k: Int = 32768,
      watermarkDelay: String = "2 hours"): Dataset[WindowQuantile] = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"ranks must be in (0,1], got $probs")
    require(k >= 8, s"KLL k must be >= 8, got $k")
    import events.sparkSession.implicits._

    def quantileRows(ws: Long, et: String, blob: Array[Byte]): Iterator[WindowQuantile] = {
      val sk = org.apache.datasketches.kll.KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(blob))
      probs.iterator.map(p => WindowQuantile(ws, et, p,
        sk.getQuantile(p,
          org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE),
        sk.getN))
    }

    events
      .withWatermark("ts", watermarkDelay)
      .filter(col("value").isNotNull && !isnan(col("value").cast("double")))
      .select(
        (floor(unix_timestamp(col("ts")) / windowSeconds) * windowSeconds)
          .cast("long").as("window_start"),
        col("event_type"), col("value").cast("double").as("value"), col("ts"))
      .as[(Long, String, Double, java.sql.Timestamp)]
      .groupByKey { case (ws, et, _, _) => (ws, et) }
      .flatMapGroupsWithState[Array[Byte], WindowQuantile](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        case ((ws, et), rows, state) =>
          if (state.hasTimedOut) {
            val fin = quantileRows(ws, et, state.get).toVector
            state.remove()
            fin.iterator
          } else {
            val sk = state.getOption.filter(_.nonEmpty)
              .map(b => org.apache.datasketches.kll.KllDoublesSketch.heapify(
                org.apache.datasketches.memory.Memory.wrap(b)))
              .getOrElse(org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(k))
            rows.foreach { case (_, _, v, _) => sk.update(v) }
            val blob = sk.toByteArray
            state.update(blob)
            state.setTimeoutTimestamp(math.max((ws + windowSeconds) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            quantileRows(ws, et, blob)
          }
      }
  }

  /** Tumbling-window counts/sums per event type with a late-data
    * watermark. Append-mode compatible (emits finalized windows). */
  def tumbling(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Epoch-bucketed tumbling counts/sums per event type — the streaming
    * twin of Events.tumbling, sharing its bucket expression so streaming
    * and batch emit bit-identical groups. Streaming-legal aggregates
    * only: count + DECIMAL sum (order-independent, so incremental state
    * merges match a batch pass exactly); `countDistinct` is unsupported
    * in streaming and intentionally absent. Designed for complete/update
    * output against finite replays and for watermarked append in
    * production (caller adds `.withWatermark` before calling). */
  def tumblingEpoch(events: DataFrame, windowSeconds: Int = 3600): DataFrame =
    events
      .groupBy(
        (floor(graft.ext.Events.tsSec(events) / windowSeconds) * windowSeconds)
          .as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))

  /** Streaming OHLC candlestick bars — the streaming twin of
    * [[graft.ops.TimeSeries.ohlcBars]], sharing its epoch bucket and
    * (ts, id) open/close order so a drained replay is bit-identical to
    * the batch rollup. Every aggregate here is an order-independent
    * fold with O(1) state per (key, bucket): min_by/max_by keep one
    * (value, order-key) pair each, min/max/count/sum one scalar — all
    * streaming-legal declarative aggregates, so microbatch boundaries
    * can't perturb the result (the micro-quantized integer sum is
    * exact under any accumulation order, unlike a float sum). Complete
    * or update mode against finite replays; production appends add
    * `.withWatermark(tsCol, …)` upstream, and closed bars then emit
    * exactly once. */
  def ohlcEpoch(events: DataFrame, keyCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id",
      valCol: String = "value", windowSeconds: Long = 3600L): DataFrame = {
    require(windowSeconds > 0, s"windowSeconds must be positive, got $windowSeconds")
    val v = col(valCol).cast("double")
    val ord = struct(col(tsCol), col(idCol))
    events.filter(col(valCol).isNotNull)
      .groupBy(col(keyCol).as("key"),
        (floor(unix_timestamp(col(tsCol)) / windowSeconds) * windowSeconds)
          .as("window_start"))
      .agg(
        min_by(v, ord).as("open"),
        max(v).as("high"),
        min(v).as("low"),
        max_by(v, ord).as("close"),
        count(lit(1)).as("n_obs"),
        sum(round(v * lit(1000000L)).cast("long")).as("sum_micro"))
  }

  /** Hopping (sliding) windows per event type — the streaming twin of
    * Events.hopping. Spark's `window(ts, len, slide)` assigns each event
    * to every slide-aligned [w, w+len) window containing it, the same
    * window set as the batch explode(sequence) expansion, so a drained
    * replay equals the batch result. */
  def hopping(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Session windows keyed by user (gap-based), the streaming twin of
    * Events.sessionize. */
  def sessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Arbitrary stateful aggregation: running per-user totals via
    * mapGroupsWithState (update mode). State is one small record per
    * user — partitioned by key, spill-free. */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserCount, UserCount](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[UserCount]) =>
          val prev = state.getOption.getOrElse(UserCount(userId, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          rows.foreach { e => n += 1; s += e.value }
          val next = UserCount(userId, n, s)
          state.update(next)
          next
      }
  }

  /** Stateful per-user stats via mapGroupsWithState using ONLY
    * order-independent accumulators (count/min/max): the iteration order
    * of rows within a group is not deterministic, so a float sum here
    * would not be reproducible — min/max/count are, bit-exactly. This is
    * the oracle-checkable face of arbitrary stateful processing. */
  def userStats(events: Dataset[Event]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(
            UserStats(userId, 0L, Double.PositiveInfinity, Double.NegativeInfinity))
          var n = prev.n_events
          var mn = prev.min_value
          var mx = prev.max_value
          rows.foreach { e =>
            n += 1
            if (e.value < mn) mn = e.value
            if (e.value > mx) mx = e.value
          }
          val next = UserStats(userId, n, mn, mx)
          state.update(next)
          next
      }
  }

  final case class RunEvent(user_id: Long, event_id: Long, ts_sec: Long,
      event_type: String)
  final case class RunCur(run_seq: Long, event_type: String, run_len: Long,
      t_start: Long, t_end: Long)
  final case class RunRow(user_id: Long, run_seq: Long, event_type: String,
      run_len: Long, t_start: Long, t_end: Long)

  /** Streaming run-length compression — the stream-side twin of
    * `Events.runLength`: per user, consecutive same-type events collapse
    * to runs; a run EMITS when the next event's type differs (append
    * mode), while the still-open run rides the state (one small record
    * per user — the bounded per-key running state family, like
    * [[runningUserTotals]]; a run can span any number of microbatches).
    * Within a microbatch the group's rows are sorted by (ts_sec,
    * event_id) — iterator order is not deterministic, sequence order
    * must be; ACROSS microbatches the caller replays in time order (the
    * file-source staging contract all multi-batch rows use).
    *
    * State is BOUNDED by an idle gap: the input is watermarked on
    * event time (`ts_sec` as seconds, `watermarkDelay` lateness) and
    * every group arms an event-time timeout at `t_end + gapSec`; when
    * the watermark passes it, the open run EMITS and `state.remove()`
    * evicts the user — without this, one state row per ever-seen user
    * is held forever and each user's final run is never emitted. A
    * user idle longer than `gapSec` therefore has their open run
    * closed (noticed either at timeout or, if the next event arrives
    * first, on arrival), and the return renumbers the user's runs from
    * 1 on BOTH paths (a new episode — the sessionization reading of an
    * idle gap): whether the watermark passed `t_end + gapSec` before
    * the next event's microbatch must not change the emitted run_seq,
    * so the arrival-path gap closure restarts at 1 exactly like the
    * post-eviction path. When `gapSec` exceeds every real within-user gap,
    * drained output over a finite replay (closed by one watermark-
    * raising heartbeat: rows with `user_id < 0` advance event time but
    * are never folded into runs) equals the FULL batch operator — the
    * `events_runlength` oracle with no open-run carve-out. */
  def runLengthStream(events: DataFrame, gapSec: Long = 30L * 86400L,
      watermarkDelay: String = "0 seconds"): Dataset[RunRow] = {
    import events.sparkSession.implicits._
    require(gapSec > 0L, s"gapSec must be positive, got $gapSec")
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_sec").cast("long"), col("event_type"))
      // the event-time-timeout checker requires the watermarked attribute
      // in the operator input, so __ts rides along (unused by the handler)
      .withColumn("__ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RunCur, RunRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
            state: GroupState[RunCur]) =>
          if (state.hasTimedOut) {
            // watermark passed t_end + gapSec: the user went idle — close
            // and emit the open run, evict the state
            val cur = state.get
            state.remove()
            Iterator.single(RunRow(uid, cur.run_seq, cur.event_type,
              cur.run_len, cur.t_start, cur.t_end))
          } else if (uid < 0L) {
            // heartbeat/punctuation rows: advance the watermark only
            Iterator.empty
          } else {
            val sorted = rows.map(e => RunEvent(e._1, e._2, e._3, e._4))
              .toSeq.sortBy(e => (e.ts_sec, e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[RunRow]
            var cur = state.getOption.orNull
            sorted.foreach { e =>
              if (cur == null)
                cur = RunCur(1L, e.event_type, 1L, e.ts_sec, e.ts_sec)
              else if (cur.event_type == e.event_type && e.ts_sec - cur.t_end <= gapSec)
                cur = cur.copy(run_len = cur.run_len + 1L, t_end = e.ts_sec)
              else {
                out += RunRow(uid, cur.run_seq, cur.event_type, cur.run_len,
                  cur.t_start, cur.t_end)
                // an idle-gap-exceeded closure is a NEW EPISODE: restart
                // at run_seq = 1 exactly like the timeout-eviction path,
                // so the emitted numbering does not depend on whether the
                // watermark happened to pass t_end + gapSec before this
                // event's microbatch (layout-independent output); only a
                // type change within the gap continues the numbering
                val nextSeq =
                  if (e.ts_sec - cur.t_end > gapSec) 1L else cur.run_seq + 1L
                cur = RunCur(nextSeq, e.event_type, 1L, e.ts_sec, e.ts_sec)
              }
            }
            if (cur != null) {
              state.update(cur)
              // close at idle-gap expiry; a watermark-late group closes
              // one tick after the current watermark (setTimeoutTimestamp
              // rejects timestamps at or below it)
              state.setTimeoutTimestamp(math.max((cur.t_end + gapSec) * 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.iterator
          }
      }
  }

  final case class FunnelState(reach: Array[Long], lastSec: Long)
  final case class FunnelUserRow(user_id: Long, reach: Seq[Long], reached: Int)

  /** Streaming funnel — the stream-side twin of `Events.funnel`: per
    * user, the first-reach second of each ordered step (step i+1 counts
    * only strictly AFTER step i's first reach, matching the batch
    * window-aggregation semantics exactly under time-ordered arrival —
    * the first qualifying event in (ts_sec, event_id) order IS the
    * min). State is one fixed-size reach array per user; nothing emits
    * until the user goes idle past `gapSec` (emitting on completion
    * would duplicate the user if they return), when the event-time
    * timeout emits the user's final row — reached ∈ [0, #steps], null
    * steps as -1 in `reach` — and `state.remove()`s them. Heartbeat
    * rows (`user_id < 0`) advance the watermark only. Drained over a
    * heartbeat-closed finite replay this equals the FULL batch funnel
    * (the events_funnel oracle). */
  def funnelStream(events: DataFrame, steps: Seq[String],
      gapSec: Long = 30L * 86400L,
      watermarkDelay: String = "0 seconds"): Dataset[FunnelUserRow] = {
    require(steps.nonEmpty && steps.size <= 8, s"funnel needs 1..8 steps, got ${steps.size}")
    require(gapSec > 0L, s"gapSec must be positive, got $gapSec")
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_sec").cast("long"), col("event_type"))
      .withColumn("__ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelUserRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
            state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(FunnelUserRow(uid, st.reach.toSeq,
              st.reach.count(_ >= 0L)))
          } else if (uid < 0L) {
            Iterator.empty // heartbeat: advance the watermark only
          } else {
            val sorted = rows.toSeq.sortBy(e => (e._3, e._2))
            val st = state.getOption.getOrElse(
              FunnelState(Array.fill(steps.size)(-1L), Long.MinValue))
            val reach = st.reach.clone()
            var last = st.lastSec
            sorted.foreach { e =>
              if (e._3 > last) last = e._3
              val j = reach.indexWhere(_ < 0L) // next unreached step
              if (j >= 0 && e._4 == steps(j) && (j == 0 || e._3 > reach(j - 1)))
                reach(j) = e._3
            }
            state.update(FunnelState(reach, last))
            state.setTimeoutTimestamp(math.max((last + gapSec) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  final case class AsofEvent(user_id: Long, event_id: Long, ts_sec: Long,
      event_type: String, value: Double)
  final case class AsofLatest(r_ts: Long, r_id: Long, r_value: Double)
  final case class AsofRow(event_id: Long, user_id: Long, ts_sec: Long,
      r_ts: Long, r_value: Double)

  /** Streaming as-of enrichment — the stream-side twin of
    * `ops.AsOfJoin` (backward): every `leftType` event is enriched with
    * the LATEST `rightType` event at-or-before it (strictly before in
    * the (ts_sec, event_id) total order) for the same user. Because
    * arrival is time-ordered (the replay staging contract) the state is
    * just the last-seen right event per user — one tiny record, the
    * bounded running-state family — where a stream-stream join would
    * buffer a whole lookback of BOTH sides. Within a microbatch the
    * group sorts by (ts_sec, event_id); a right and left event on the
    * same key in the same batch interleave exactly as the total order
    * says. Lefts with no preceding right emit r_ts = −1. */
  def asofEnrichStream(events: DataFrame, leftType: String,
      rightType: String): Dataset[AsofRow] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_sec").cast("long"), col("event_type"), col("value").cast("double"))
      .filter(col("event_type").isin(leftType, rightType))
      .as[AsofEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofLatest, AsofRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[AsofEvent], state: GroupState[AsofLatest]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_sec, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofRow]
          var latest = state.getOption.orNull
          sorted.foreach { e =>
            if (e.event_type == rightType)
              latest = AsofLatest(e.ts_sec, e.event_id, e.value)
            else out += (if (latest == null)
              AsofRow(e.event_id, uid, e.ts_sec, -1L, 0.0)
            else AsofRow(e.event_id, uid, e.ts_sec, latest.r_ts, latest.r_value))
          }
          if (latest != null) state.update(latest)
          out.iterator
      }
  }

  /** Streaming exact dedup on ingest — the stream-side twin of
    * Dedup.exact. `dropDuplicatesWithinWatermark` bounds the dedup state
    * by event time: duplicates are suppressed whenever they arrive within
    * the watermark delay of the first occurrence, and state older than
    * the watermark is evicted — the only way dedup state stays finite on
    * an unbounded stream. */
  def dedupStream(events: DataFrame, keyCols: Seq[String], tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Convenience sink for tests/demos: run a streaming frame to a named
    * in-memory table until all available input is processed. */
  /** Watermarked stream-stream INNER interval join: each left event
    * matches right events of the same key whose timestamp falls in
    * [left.ts - lookback, left.ts] — the attribution join (click <-
    * trailing views) as a genuine two-stream join, not an as-of pick.
    *
    * State contract at scale: the key equality partitions both state
    * stores, the time-range condition lets the engine evict right-side
    * state older than left-watermark - lookback (and symmetrically), so
    * state is bounded by lookback x arrival rate per key. Inner joins
    * emit eagerly on match (no watermark hold on output), so a drained
    * finite replay equals the batch join row-for-row. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts",
      lookback: String = "4 hours", watermark: String = "24 hours",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right.withWatermark(tsCol, watermark).alias("r")
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$tsCol") >= col(s"l.$tsCol") - expr(s"INTERVAL $lookback") &&
        col(s"r.$tsCol") <= col(s"l.$tsCol"),
      joinType)
  }

  /** LEFT OUTER variant of [[intervalJoin]] — the "every fact row must
    * come out, attributed or not" contract. Matched rows still emit
    * eagerly; an UNMATCHED left row is held in state until the global
    * watermark proves no future right row can land in its interval
    * (max possible match time = left.ts here), then emits once,
    * NULL-padded. State cost is identical to the inner join; the only
    * addition is the null-emit on eviction, so the 100 TB posture
    * (state bounded by lookback × per-key arrival rate) is unchanged.
    * Boundary semantics, pinned by StreamingOpsSpec: a left row
    * null-emits only when its event time is STRICTLY below the final
    * watermark. */
  def intervalJoinOuter(left: DataFrame, right: DataFrame,
      keyCol: String = "user_id", tsCol: String = "ts",
      lookback: String = "4 hours", watermark: String = "24 hours"): DataFrame =
    intervalJoin(left, right, keyCol, tsCol, lookback, watermark, "left_outer")

  /** Stream-static enrichment: streaming fact rows joined to a bounded
    * dimension table, the canonical streaming lookup. The dimension is
    * broadcast — every microbatch plans a broadcast hash join, so the
    * join is STATELESS: no state store, no watermark, no shuffle of the
    * stream, and the dimension is re-resolvable per batch (a dimension
    * refresh is picked up on the next trigger when `dim` is backed by a
    * table). This is the shape that survives 100 TB/day streams: state
    * size zero, per-batch cost linear in batch size. */
  def enrichStatic(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  def runToMemory(df: DataFrame, name: String, outputMode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(outputMode).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Durable sink: drain all currently-available input into a parquet
    * directory, exactly-once. The checkpoint carries source offsets +
    * sink commit log, so a restart with the same checkpoint reprocesses
    * NOTHING (crash-then-rerun yields no duplicates) and a later run
    * picks up only new files — the production batch-drain shape
    * (Trigger.AvailableNow) for incremental ingestion pipelines. Append
    * mode: aggregations must be watermarked so only closed state emits. */
  def runToParquet(df: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = df.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  // --- streaming upsert sink (foreachBatch -> keyed snapshot) ----------

  /** Streaming UPSERT sink: maintains a keyed snapshot table from a
    * change stream via foreachBatch + [[graft.etl.Merge.upsert]] — the
    * streaming-to-serving-table path (CDC stream in, queryable current
    * state out).
    *
    * Exactly-once: foreachBatch can REPLAY a batch after a crash, so
    * each application writes a fresh versioned directory `v<batchId>`
    * and flips a `_VERSION` marker last; a replayed batchId ≤ the
    * marker is skipped ([[applyUpsertBatch]] is idempotent). Within a
    * batch, duplicate keys collapse last-wins by `orderCol` (ties by
    * lexicographic row struct — deterministic), satisfying upsert's
    * unique-key contract. On a real deployment the versioned-dir +
    * marker pair is the poor man's transactional commit; a lakehouse
    * table format would replace exactly this seam. */
  def upsertSink(stream: DataFrame, keys: Seq[String], orderCol: String,
      snapshotDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyUpsertBatch(batch, batchId, keys, orderCol, snapshotDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent upsert application. Public for direct testing and
    * for batch backfills that share the streaming sink's snapshot. */
  def applyUpsertBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      orderCol: String, snapshotDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(snapshotDir)
    if (batchId <= current) return // replay of an already-committed batch
    val others = batch.columns.filterNot(keys.contains).toSeq
    require(others.contains(orderCol), s"orderCol '$orderCol' must be a non-key column")
    // last-wins per key: lexicographic max over (orderCol, remaining cols)
    val packed = batch.groupBy(keys.map(col): _*)
      .agg(max(struct((orderCol +: others.filterNot(_ == orderCol)).map(col): _*)).as("__r"))
    val deduped = packed.select(
      keys.map(col) ++ others.map(c => col(s"__r.$c").as(c)): _*)
      .select(batch.columns.map(col).toIndexedSeq: _*)
    val merged = if (current >= 0L)
      graft.etl.Merge.upsert(
        spark.read.parquet(s"$snapshotDir/v$current"), deduped, keys)
    else deduped
    merged.write.mode("overwrite").parquet(s"$snapshotDir/v$batchId")
    StateCommit.flipVersion(snapshotDir, batchId)
  }

  // --- streaming drift gate (foreachBatch -> persisted histogram state) --

  /** Streaming feature-drift gate — drift-on-arrival, composing the
    * batch PSI family (graft.ops.DataQuality) with persisted mergeable
    * state: each microbatch folds its rows into a stored (bin, n)
    * histogram (counts are the monoid, so arrival order and batch
    * boundaries are irrelevant), and the PSI of everything-seen-so-far
    * against a FIXED reference snapshot is readable at any moment via
    * [[driftGateResult]] without touching raw history. Bin edges are
    * fixed by the reference (the caller computes them once with
    * `DataQuality.histogramEdges` — the mergeability contract).
    *
    * Exactly-once: foreachBatch can replay a batch after a crash, so
    * each application writes a fresh versioned state directory and
    * flips a `_VERSION` marker last (the [[upsertSink]] commit shape);
    * replayed batchIds ≤ the marker are skipped, so the gate's counts
    * are EXACT — the drained PSI hash-matches the batch recompute, the
    * driver row's oracle. State is bins-sized forever; per-batch cost
    * is one scan of the batch plus a bins-sized merge. */
  def driftGate(stream: DataFrame, valueCol: String, mn: Double,
      width: Double, bins: Int, stateDir: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDriftBatch(batch, batchId, valueCol, mn, width, bins, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent histogram-state merge. Public for direct testing
    * and for batch backfills sharing the gate's state. */
  def applyDriftBatch(batch: DataFrame, batchId: Long, valueCol: String,
      mn: Double, width: Double, bins: Int, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val hist = graft.ops.DataQuality.histogramState(batch, valueCol, mn, width, bins)
    val merged = (if (current >= 0L)
      hist.unionByName(spark.read.parquet(s"$stateDir/v$current"))
    else hist)
      .groupBy("bin").agg(sum("n").as("n"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** PSI of the gate's committed state against the fixed reference
    * histogram — reads ONLY bins-sized summaries (stored stream state +
    * the reference sketch), never raw rows. */
  def driftGateResult(spark: org.apache.spark.sql.SparkSession,
      refState: DataFrame, stateDir: String, bins: Int): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "drift state")
    graft.ops.DataQuality.psiFromState(refState,
      spark.read.parquet(s"$stateDir/v$v"), bins)
  }

  // --- streaming association gate (foreachBatch -> contingency state) ---

  /** Streaming categorical-association monitor — Cramér's V on
    * arrival, the [[driftGate]] shape over contingency cells: each
    * microbatch folds its (a, b) level-pair counts into the stored
    * contingency state (a pure count monoid — batch boundaries and
    * arrival order are irrelevant), and the association of everything
    * seen so far is readable at any moment via
    * [[associationGateResult]] from level-cardinality-sized summaries,
    * never raw rows. Same versioned-dir + marker exactly-once commit
    * as the drift gate; [[vacuumVersions]] bounds retained versions.
    * The use: watch a feature↔label association drift toward leakage
    * (or a redundant feature pair appear) while the data streams in. */
  def associationGate(stream: DataFrame, aCol: String, bCol: String,
      stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAssociationBatch(batch, batchId, aCol, bCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent contingency-cell merge (public for direct testing
    * and batch backfills sharing the gate's state). The same NULL
    * sentinel as `DataQuality.cramersV`, so the gate's level space is
    * identical to the batch audit's. */
  def applyAssociationBatch(batch: DataFrame, batchId: Long,
      aCol: String, bCol: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val cells = batch.select(
        coalesce(col(aCol).cast("string"), lit("<NULL>")).as("a"),
        coalesce(col(bCol).cast("string"), lit("<NULL>")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    val merged = (if (current >= 0L)
      cells.unionByName(spark.read.parquet(s"$stateDir/v$current"))
    else cells)
      .groupBy("a", "b").agg(sum("n_ab").as("n_ab"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Cramér's V of the gate's committed contingency state — reads ONLY
    * the stored cell counts. */
  def associationGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "association state")
    graft.ops.DataQuality.cramersVFromCells(
      spark.read.parquet(s"$stateDir/v$v"))
  }

  // --- streaming t-closeness gate (foreachBatch -> cell-count state) ---

  /** Streaming t-closeness — the release audit on arrival: each
    * microbatch's quasi × sensitive cell counts (a pure count monoid,
    * `DataQuality.tClosenessCellState`) fold onto the stored state with
    * the versioned-dir + marker commit, so the drained gate recomputes
    * EXACTLY the one-shot audit from cell-count rows only. State is
    * audit-cardinality-sized; the associationGate shape with a
    * multi-column key. */
  def tClosenessGate(stream: DataFrame, quasiIds: Seq[String],
      sensitive: String, stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyTClosenessBatch(batch, batchId, quasiIds, sensitive, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent cell-count merge (public for direct testing and
    * batch backfills sharing the gate's state). */
  def applyTClosenessBatch(batch: DataFrame, batchId: Long,
      quasiIds: Seq[String], sensitive: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val cells = graft.ops.DataQuality.tClosenessCellState(
      batch, quasiIds, sensitive)
    val merged = (if (current >= 0L)
      cells.unionByName(spark.read.parquet(s"$stateDir/v$current"))
    else cells)
      .groupBy((quasiIds :+ "__sens").map(col): _*)
      .agg(sum("n_gc").as("n_gc"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** t-closeness audit of the gate's committed cell state — reads ONLY
    * the stored counts. */
  def tClosenessGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, quasiIds: Seq[String], tNano: Long): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "t-closeness state")
    graft.ops.DataQuality.tClosenessFromCells(
      spark.read.parquet(s"$stateDir/v$v"), quasiIds, tNano)
  }

  // --- streaming TWAP gate (foreachBatch -> per-key hold state) ---

  /** Streaming time-weighted average — TWAP on arrival: each
    * microbatch's per-key slice state (running numerator/duration plus
    * the first/last observations) folds onto the stored state with
    * `TimeSeries.mergeTwapStates`, the earlier state's last value held
    * across the batch seam. Requires the other gates' time-ordered
    * replay contract: a key's observations must not arrive out of
    * order ACROSS batches (within a batch any order is fine — the
    * slice state sorts on (t_us, id) internally). State is one row per
    * key; [[twapGateResult]] reads the exact TWAP of everything seen
    * so far via `TimeSeries.twapFromState` — the same division code
    * path as the batch operator, so a drained replay is bit-identical
    * to the one-shot TWAP. */
  def twapGate(stream: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valCol: String, stateDir: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyTwapBatch(batch, batchId, keyCol, tsCol, idCol, valCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent TWAP state fold (public for direct testing and
    * batch backfills sharing the gate's state). */
  def applyTwapBatch(batch: DataFrame, batchId: Long, keyCol: String,
      tsCol: String, idCol: String, valCol: String,
      stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val slice = graft.ops.TimeSeries.twapState(batch, keyCol, tsCol,
      idCol, valCol)
    val merged = if (current >= 0L)
      graft.ops.TimeSeries.mergeTwapStates(
        spark.read.parquet(s"$stateDir/v$current"), slice)
    else slice
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** TWAP of the gate's committed per-key state — `twapFromState` over
    * the stored rows only. */
  def twapGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "twap state")
    graft.ops.TimeSeries.twapFromState(spark.read.parquet(s"$stateDir/v$v"))
  }

  // --- streaming coverage gate (foreachBatch -> per-key island state) ---

  /** Streaming interval-union coverage — uptime/SLA on arrival: each
    * microbatch's events (uniform `lenSec` holds) fold into one state
    * row per key carrying the closed-island totals plus the OPEN last
    * island. The fold re-runs the islands sweep over the batch rows
    * UNION the carried last-island rows (cnt = 0, so they merge
    * without double-counting), then splices: closed contributions add,
    * the old last island's extent is replaced by whatever the sweep
    * made of it. Requires the gates' time-ordered replay contract
    * (a key's events never arrive before its already-CLOSED islands —
    * true whenever batches arrive in event-time order); within a batch
    * any order is fine. [[coverageGateResult]] reads the exact
    * coverage of everything seen so far — bit-identical to the batch
    * `Events.coverage` over the drained replay, which is the driver
    * row's oracle. */
  def coverageGate(stream: DataFrame, keyCol: String, lenSec: Long,
      stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCoverageBatch(batch, batchId, keyCol, lenSec, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent island-state fold (public for direct testing and
    * batch backfills sharing the gate's state). */
  def applyCoverageBatch(batch: DataFrame, batchId: Long, keyCol: String,
      lenSec: Long, stateDir: String): Unit = {
    require(lenSec > 0, s"lenSec must be positive, got $lenSec")
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val s = graft.ext.Events.tsSec(batch)
    val base = batch.select(col(keyCol).as("key"), s.as("st"),
      (s + lenSec).as("en"), lit(1L).as("cnt"))
    val prior = if (current >= 0L)
      Some(spark.read.parquet(s"$stateDir/v$current"))
    else None
    val carry = prior.map(_.select(col("key"), col("last_st").as("st"),
      col("last_en").as("en"), lit(0L).as("cnt")))
    val sweep = graft.ext.Events.islandStats(
      carry.fold(base)(base.unionByName(_)))
    val merged = prior match {
      case None => sweep
      case Some(st) =>
        val p = st.select(col("key"), col("n_events").as("p_n"),
          col("n_islands").as("p_ni"), col("covered_sec").as("p_cov"),
          col("first_st").as("p_first"),
          (col("last_en") - col("last_st")).as("p_last_ext"))
        // every state key re-enters the sweep via its carry row, so
        // the join is left from the sweep side; closed-island totals
        // add, the old OPEN island's extent is replaced by the sweep's
        sweep.join(p, Seq("key"), "left")
          .select(col("key"),
            (col("n_events") + coalesce(col("p_n"), lit(0L))).as("n_events"),
            (col("n_islands") + coalesce(col("p_ni") - 1L, lit(0L)))
              .as("n_islands"),
            (col("covered_sec") +
              coalesce(col("p_cov") - col("p_last_ext"), lit(0L)))
              .as("covered_sec"),
            coalesce(col("p_first"), col("first_st")).as("first_st"),
            col("last_st"), col("last_en"))
    }
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Coverage report off the gate's committed per-key island state. */
  def coverageGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "coverage state")
    graft.ext.Events.coverageFromStats(spark.read.parquet(s"$stateDir/v$v"))
  }

  // --- streaming generation-eval gate (foreachBatch -> corpus edit sums) ---

  /** Streaming corpus-CER gate — transcript-quality-on-arrival, the
    * [[driftGate]] shape over edit-count sums: candidate texts arrive
    * as a stream, join their static references per microbatch
    * ([[graft.ext.TextEval.cer]] — builtin char-grain levenshtein on
    * the normalized stream), and the per-pair edit counts fold into a
    * ONE-ROW sum state (pair count, total edits, total reference
    * chars — a pure sum monoid, so batch boundaries and arrival order
    * are irrelevant and the drained gate recomputes EXACTLY the
    * one-shot corpus CER: the driver row's DuckDB oracle). Same
    * versioned-dir + marker exactly-once commit as the drift gate;
    * state is three longs, never rows. The use: watch an
    * ASR/generation pipeline's corpus error rate while outputs stream
    * in, alarm on an exact-integer micro threshold. */
  def cerGate(stream: DataFrame, refStatic: DataFrame, idCol: String,
      textCol: String, stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCerBatch(batch, batchId, refStatic, idCol, textCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent edit-sum state fold (public for direct testing and
    * for batch backfills sharing the gate's state). */
  def applyCerBatch(batch: DataFrame, batchId: Long, refStatic: DataFrame,
      idCol: String, textCol: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    // spread the arriving batch (one file per trigger -> one scan task)
    // across the session's parallelism before the per-row edit-distance
    // DP: batch-sized shuffle, guide §2.5's unsplittable-input remedy
    val spread = batch.repartition(
      spark.sessionState.conf.numShufflePartitions, col(idCol))
    val sums = graft.ext.TextEval.cer(spread, refStatic, idCol, textCol)
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum("edits"), lit(0L)).as("edits"),
        coalesce(sum("ref_chars"), lit(0L)).as("ref_chars"))
    // the state is THREE longs — control-plane — so the fold is driver
    // arithmetic over the collected batch sums plus a local one-row
    // write, not a union + re-aggregation job chain per microbatch
    // (guide §2.1; every column is an exact integer sum, addition is
    // the same monoid either way)
    merged1Row(sums, current, stateDir, batchId)
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Driver-side fold for ONE-ROW all-long gate state: collect the
    * batch's global sums (one action — the only heavy job), add the
    * stored longs column-wise, write the merged row back as a local
    * relation (single task, zero exchanges). Only for state that is a
    * fixed handful of longs; keyed/histogram states keep their
    * distributed merges. */
  private def merged1Row(sums: DataFrame, current: Long, stateDir: String,
      batchId: Long): Unit = {
    val spark = sums.sparkSession
    val cols = sums.columns
    val b = sums.collect()(0)
    val prev: Array[Long] =
      if (current >= 0L) {
        val r = spark.read.parquet(s"$stateDir/v$current")
          .select(cols.map(col).toIndexedSeq: _*).collect()(0)
        Array.tabulate(cols.length)(r.getLong)
      } else Array.fill(cols.length)(0L)
    val mergedRow = org.apache.spark.sql.Row.fromSeq(
      Array.tabulate(cols.length)(i => b.getLong(i) + prev(i)).toIndexedSeq)
    spark.createDataFrame(java.util.Collections.singletonList(mergedRow),
        sums.schema)
      .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
  }

  /** Corpus CER off the gate's committed sum state — three longs and
    * one exact integer division, never rows. */
  def cerGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "cer state")
    spark.read.parquet(s"$stateDir/v$v")
      .select(col("n_pairs"), col("edits"), col("ref_chars"),
        when(col("ref_chars") > 0L,
          call_function("div", col("edits") * lit(1000000L),
            col("ref_chars"))).as("cer_micro"))
  }

  // --- streaming corpus-BLEU gate (foreachBatch -> n-gram sum state) ---

  /** Streaming corpus-BLEU gate — the [[cerGate]] shape over
    * [[graft.ext.TextEval.corpusBleuSums]]' one-row state: candidates
    * stream in, each microbatch restricts the static reference side to
    * ITS arrived pair ids (left-semi join — so the fold never
    * double-counts a reference; the gate's contract, like every
    * replay-partitioned gate here, is that each pair id arrives in
    * exactly one batch), computes the corpus n-gram sums for the
    * batch, and adds them column-wise into the stored state (every
    * column is an exact integer corpus SUM — a pure monoid). The
    * drained gate finishes through `corpusBleuFromSums` and equals the
    * one-shot corpus BLEU bit for bit: the driver row shares
    * `text_bleu`'s oracle. State is 10 longs; versioned-dir + marker
    * exactly-once commit. */
  def bleuGate(stream: DataFrame, refStatic: DataFrame, idCol: String,
      textCol: String, stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBleuBatch(batch, batchId, refStatic, idCol, textCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent n-gram-sum state fold (public for direct testing
    * and batch backfills sharing the gate's state). */
  def applyBleuBatch(batch: DataFrame, batchId: Long, refStatic: DataFrame,
      idCol: String, textCol: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    // spread the arriving batch (one file per trigger -> one scan task)
    // across the session's parallelism before the in-row n-gram build:
    // batch-sized shuffle, guide §2.5's unsplittable-input remedy
    val spread = batch.repartition(
      spark.sessionState.conf.numShufflePartitions, col(idCol))
    val refBatch = refStatic.join(
      spread.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
    val sums = graft.ext.TextEval.corpusBleuSums(spread, refBatch,
      idCol = idCol, textCol = textCol)
    // ten-long one-row state: driver-side fold (see merged1Row — kills
    // the per-batch union + re-aggregation job chain, guide §2.1)
    merged1Row(sums, current, stateDir, batchId)
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Corpus BLEU off the gate's committed sum state — ten longs in,
    * the quantized BLEU arithmetic out, never rows. */
  def bleuGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "bleu state")
    graft.ext.TextEval.corpusBleuFromSums(
      spark.read.parquet(s"$stateDir/v$v"))
  }

  // --- streaming anomaly gate (foreachBatch -> persisted cell state) ---

  /** Streaming seasonal-anomaly gate — anomaly-on-arrival, the
    * [[driftGate]] shape over (key, day, hour) cell counts: each
    * microbatch folds its events into stored per-cell counts (the
    * monoid — arrival order and batch boundaries are irrelevant), and
    * the calendar-aware volume test of everything-seen-so-far is
    * readable at any moment via [[anomalyGateResult]] without touching
    * raw events. Same versioned-dir + marker exactly-once commit as
    * the drift gate, so replayed batches cannot double-count; the
    * drained result hash-matches the batch recompute
    * (`TimeSeries.seasonalAnomaly` over the full replay), which is the
    * driver row's oracle. State size is the key's active (day × 24)
    * cell grid — summaries, never events. */
  def anomalyGate(stream: DataFrame, secCol: String, keyCol: String,
      stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAnomalyBatch(batch, batchId, secCol, keyCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent cell-count state merge (public for direct testing
    * and for batch backfills sharing the gate's state). */
  def applyAnomalyBatch(batch: DataFrame, batchId: Long, secCol: String,
      keyCol: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val cells = graft.ops.TimeSeries.hourCells(batch, secCol, keyCol)
    val merged = (if (current >= 0L)
      cells.unionByName(spark.read.parquet(s"$stateDir/v$current"))
    else cells)
      .groupBy(keyCol, "day", "hour").agg(sum("n").as("n"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** The seasonal-anomaly test over the gate's committed cell state —
    * reads ONLY the stored summaries, never raw events. */
  def anomalyGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, keyCol: String,
      factorNum: Long = 3L, factorDen: Long = 2L): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "anomaly state")
    graft.ops.TimeSeries.seasonalAnomalyFromCells(
      spark.read.parquet(s"$stateDir/v$v"), keyCol, factorNum, factorDen)
  }

  /** CUSUM-on-arrival: the anomalyGate shape over per-(key, day) count
    * cells — each microbatch folds its `TimeSeries.dayCells` into the
    * persisted daily state (a count monoid: arrival order and batch
    * boundaries are irrelevant), and Page's change-point test over
    * everything-seen-so-far is readable at any moment via
    * [[cusumGateResult]] without touching raw events. Same
    * versioned-dir + marker exactly-once commit as the other gates, so
    * replayed batches cannot double-count; the drained result
    * hash-matches the batch recompute (`TimeSeries.cusum` over the
    * full replay's daily series), which is the driver row's oracle.
    * State size is the keys' active day grid — summaries, never
    * events; [[vacuumVersions]] bounds retained versions (only the
    * marker's current version is ever read). */
  def cusumGate(stream: DataFrame, secCol: String, keyCol: String,
      stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCusumBatch(batch, batchId, secCol, keyCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent daily-cell state merge (public for direct testing
    * and for batch backfills sharing the gate's state). */
  def applyCusumBatch(batch: DataFrame, batchId: Long, secCol: String,
      keyCol: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val cells = graft.ops.TimeSeries.dayCells(batch, secCol, keyCol)
    val merged = (if (current >= 0L)
      cells.unionByName(spark.read.parquet(s"$stateDir/v$current"))
    else cells)
      .groupBy(keyCol, "day").agg(sum("n").as("n"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Page's CUSUM test over the gate's committed daily state — reads
    * ONLY the stored summaries, never raw events. */
  def cusumGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, keyCol: String,
      kNum: Long = 1L, kDen: Long = 4L,
      hNum: Long = 2L, hDen: Long = 1L): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "cusum state")
    graft.ops.TimeSeries.cusumFromCells(
      spark.read.parquet(s"$stateDir/v$v"), keyCol, kNum, kDen, hNum, hDen)
  }

  /** Holt trend smoothing over the CUSUM gate's committed daily state —
    * the shared-state discipline (PSI/JS histogram twin): the gate
    * ingests the stream ONCE into (key, day) counts, and both the
    * change-point face ([[cusumGateResult]]) and this trend face read
    * the same stored summaries, never raw events. */
  def holtGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, keyCol: String,
      alphaMicro: Long, betaMicro: Long): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "cusum state")
    graft.ops.TimeSeries.holtFromCells(
      spark.read.parquet(s"$stateDir/v$v"), keyCol, alphaMicro, betaMicro)
  }

  /** Quality-filter-on-arrival: the C4/Gopher rule battery
    * (`TextAnalysis.qualityFilters`) applied to each landing microbatch
    * of documents, folding per-(source, keep) counts into persisted
    * state — the live corpus-health dashboard a crawl ingest needs
    * (keep-rate collapse = upstream extraction broke). Counts are a
    * PURE monoid: arrival order and batch boundaries are irrelevant,
    * so the drained gate hash-matches the batch recompute over the
    * full corpus — the driver row's oracle. Same versioned-dir +
    * marker exactly-once commit as the other gates;
    * [[vacuumVersions]] bounds retained versions. State is
    * (source × 2)-sized — never documents. */
  def qualityGate(stream: DataFrame, textCol: String, srcCol: String,
      stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyQualityBatch(batch, batchId, textCol, srcCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent (source, keep)-count state merge. */
  def applyQualityBatch(batch: DataFrame, batchId: Long, textCol: String,
      srcCol: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val cells = graft.ext.TextAnalysis.qualityFilters(batch, textCol)
      .groupBy(col(srcCol), col("keep")).agg(count(lit(1L)).as("n"))
    val merged = (if (current >= 0L)
      cells.unionByName(spark.read.parquet(s"$stateDir/v$current"))
    else cells)
      .groupBy(srcCol, "keep").agg(sum("n").as("n"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Per-source corpus health off the gate's committed counts — reads
    * ONLY the stored summaries: (source, n_docs, n_keep,
    * keep_rate_micro), the rate the exact half-up divmod. */
  def qualityGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, srcCol: String): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "quality state")
    val dec = "decimal(38,0)"
    spark.read.parquet(s"$stateDir/v$v")
      .groupBy(col(srcCol))
      .agg(sum("n").as("n_docs"),
        sum(when(col("keep"), col("n")).otherwise(lit(0L))).as("n_keep"))
      .select(col(srcCol), col("n_docs"), col("n_keep"),
        call_function("div",
          col("n_keep").cast(dec) * lit(2000000L) + col("n_docs").cast(dec),
          col("n_docs").cast(dec) * 2).cast("long").as("keep_rate_micro"))
  }

  /** Spatial-hotspot-on-arrival: the anomalyGate shape over per-cell
    * point counts — each microbatch folds its `Geo.cellCounts` into the
    * persisted cell state via the versioned-dir + marker exactly-once
    * commit; [[hotspotGateResult]] then runs the hotspot test over the
    * SUMMARIES only, never raw points. Cell counts are the monoid, so
    * the drained gate equals a batch recompute over the full stream. */
  def hotspotGate(stream: DataFrame, latCol: String, lonCol: String,
      cellMicro: Long, stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyHotspotBatch(batch, batchId, latCol, lonCol, cellMicro, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent cell-count state merge (public for direct testing
    * and for batch backfills sharing the gate's state). */
  def applyHotspotBatch(batch: DataFrame, batchId: Long, latCol: String,
      lonCol: String, cellMicro: Long, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val cells = graft.ops.Geo.cellCounts(batch, latCol, lonCol, cellMicro)
    val merged = if (current >= 0L)
      graft.ops.Geo.mergeCellCounts(cells,
        spark.read.parquet(s"$stateDir/v$current"))
    else cells
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** The hotspot test over the gate's committed cell state. */
  def hotspotGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, factorNum: Long = 3L, factorDen: Long = 2L): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "hotspot state")
    graft.ops.Geo.hotspotFromCells(
      spark.read.parquet(s"$stateDir/v$v"), factorNum, factorDen)
  }

  /** Prequential perplexity gate — LM scoring on arrival off
    * persisted, GROWING bigram-count state: every microbatch of
    * documents is scored under the model trained on all PRIOR batches
    * only (the prequential "test on the next batch, then absorb it"
    * discipline — a CCNet-style quality filter run as an online
    * ingest gate), then folds its own counts into the versioned
    * state. Exactly-once on both sides: score output is one parquet
    * dir PER BATCH keyed by batchId (a crash replay overwrites it with
    * identical bytes — scoring is deterministic) and state commits via
    * the versioned-dir + marker flip every stored-state gate uses.
    * The first batch has no model and scores nothing. State size is
    * vocabulary-shaped (bigram + unigram counts), never corpus-shaped. */
  def lmGate(stream: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyLmBatch(batch, batchId, stateDir, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent prequential score + state fold (public for direct
    * testing and batch backfills sharing the gate's state). */
  def applyLmBatch(batch: DataFrame, batchId: Long, stateDir: String,
      outDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    // spread the one-file batch before the per-row tokenize/score work
    // (guide §2.5's unsplittable-input remedy; batch-sized shuffle)
    val spread = batch.repartition(
      spark.sessionState.conf.numShufflePartitions, col("doc_id"))
    val (dc2, duni) = graft.ext.LangModel.bigramCountState(spread)
    val (nc2, nuni) = if (current >= 0L)
      graft.ext.LangModel.mergeBigramCountState(
        (spark.read.parquet(s"$stateDir/v$current/c2"),
          spark.read.parquet(s"$stateDir/v$current/uni")),
        (dc2, duni))
    else (dc2, duni)
    // score output + the two state parts are three INDEPENDENT sinks
    // (scoring reads only the PRIOR state; c2/uni are separate dirs) —
    // concurrent jobs, not three serial driver round-trips; the marker
    // flip below still waits for all three
    val scoreWrite: Seq[() => Unit] = if (current >= 0L) {
      val c2 = spark.read.parquet(s"$stateDir/v$current/c2")
      val uni = spark.read.parquet(s"$stateDir/v$current/uni")
      val (mc2, mc1, mv) = graft.ext.LangModel.modelFromState(c2, uni)
      val scored = graft.ext.LangModel.scoreBigram(spread, mc2, mc1, mv)
      Seq(() => scored.write.mode("overwrite").parquet(s"$outDir/b$batchId"))
    } else Seq.empty
    concurrently(scoreWrite ++ Seq[() => Unit](
      () => nc2.write.mode("overwrite").parquet(s"$stateDir/v$batchId/c2"),
      () => nuni.write.mode("overwrite").parquet(s"$stateDir/v$batchId/uni")): _*)
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Prequential trained-classifier gate — Naive-Bayes quality scoring
    * on arrival off persisted, GROWING class-count state (the [[lmGate]]
    * shape over [[graft.ext.QualityClassifier]]'s model): every
    * microbatch of documents is scored under the classifier trained on
    * all PRIOR batches only, then labels itself with the qualityFilters
    * rule battery (the label bootstrap) and folds its token/doc class
    * counts — additive monoids — into the versioned state. Exactly-once
    * on both sides: per-batch score dirs + the marker flip. The first
    * batch has no model and scores nothing. State is vocabulary-shaped
    * (token class counts + one doc-prior row), never corpus-shaped. */
  def classifierGate(stream: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String, textCol: String = "text"): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyClassifierBatch(batch, batchId, stateDir, outDir, textCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent prequential score + class-count fold (public for
    * direct testing and batch backfills sharing the gate's state). */
  def applyClassifierBatch(batch: DataFrame, batchId: Long, stateDir: String,
      outDir: String, textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    // spread the one-file batch before the per-row tokenize/score work
    // (guide §2.5's unsplittable-input remedy; batch-sized shuffle)
    val spread = batch.repartition(
      spark.sessionState.conf.numShufflePartitions, col("doc_id"))
    // label bootstrap: the rule battery supplies this batch's classes
    val labeled = graft.ext.TextAnalysis.qualityFilters(spread, textCol)
      .select(col("doc_id"), col(textCol), col("keep").as("label"))
    val (tok, doc) = graft.ext.QualityClassifier.train(labeled, textCol = textCol)
    val (ntok, ndoc) = if (current >= 0L)
      (graft.ext.QualityClassifier.mergeTokenCountStates(
        spark.read.parquet(s"$stateDir/v$current/tok"), tok),
        graft.ext.QualityClassifier.mergeDocCountStates(
          spark.read.parquet(s"$stateDir/v$current/doc"), doc))
    else (tok, doc)
    // score output + the two state parts are three INDEPENDENT sinks
    // (scoring reads only the PRIOR state; tok/doc are separate dirs) —
    // concurrent jobs, not three serial driver round-trips; the marker
    // flip below still waits for all three
    val scoreWrite: Seq[() => Unit] = if (current >= 0L) {
      val scored = graft.ext.QualityClassifier.score(spread,
        spark.read.parquet(s"$stateDir/v$current/tok"),
        spark.read.parquet(s"$stateDir/v$current/doc"),
        textCol = textCol)
      Seq(() => scored.write.mode("overwrite").parquet(s"$outDir/b$batchId"))
    } else Seq.empty
    concurrently(scoreWrite ++ Seq[() => Unit](
      () => ntok.write.mode("overwrite").parquet(s"$stateDir/v$batchId/tok"),
      () => ndoc.write.mode("overwrite").parquet(s"$stateDir/v$batchId/doc")): _*)
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Streaming near-dup gate off the persisted MinHash-LSH index —
    * `Dedup.minhashIncremental` run as an ingest gate: every microbatch
    * of documents is checked against the signatures of ALL prior
    * batches (new×old + new×new candidates only — old×old pairs were
    * resolved when their batches arrived and are never recomputed),
    * emits its exact-verified pairs, and folds its own `lshIndexState`
    * rows into the versioned index. Each pair surfaces exactly once —
    * in the batch of its LATER document — so the drained output over a
    * finite replay is the FULL corpus near-dup pair set (the
    * dedup_minhash oracle). Exactly-once via per-batch output dirs +
    * the marker flip; index state is signatures + shingle-hash sets,
    * never document text.
    *
    * Index layout is APPEND-ONLY: each committed batch contributes one
    * immutable delta directory `v{batchId}` holding ONLY that batch's
    * `lshIndexState` rows; the live index is the union of a compaction
    * base (`c{floor}`, see [[compactDedupIndex]]) and every committed
    * delta above the floor. Per-batch write volume is therefore
    * proportional to the BATCH, never the corpus — a year-long ingest
    * writes each signature exactly once plus however many compactions
    * the operator schedules, instead of rewriting the whole index every
    * microbatch. */
  def dedupGate(stream: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String, threshold: Double = 0.8): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDedupBatch(batch, batchId, stateDir, outDir, threshold)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** Compaction floor: versions <= floor live merged in `c{floor}`. */
  private def dedupIndexFloor(stateDir: String): Long =
    StateCommit.readVersion(stateDir, "_COMPACTED")

  /** The directories whose union IS the current dedup index: the
    * compaction base (if any) plus every committed delta above the
    * floor. Empty before the first committed batch. */
  private[streaming] def dedupIndexPaths(stateDir: String): Seq[String] = {
    if (StateCommit.readVersion(stateDir) < 0L) return Seq.empty
    val floor = dedupIndexFloor(stateDir)
    val base = if (floor >= 0L) Seq(s"$stateDir/c$floor") else Seq.empty
    base ++ listSnapshotVersions(stateDir).filter(_ > floor)
      .map(v => s"$stateDir/v$v")
  }

  /** The full persisted LSH index as one frame (for batch backfills
    * sharing the gate's index, audits, or downstream joins). */
  def readDedupIndex(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame =
    readCommittedIndex(spark, stateDir, "dedup index")

  /** Shared committed-index read: compaction base (if any) + every
    * committed delta, resolved from the two markers alone. */
  private def readCommittedIndex(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, what: String): DataFrame = {
    val paths = dedupIndexPaths(stateDir)
    require(paths.nonEmpty, s"no committed $what under $stateDir")
    spark.read.parquet(paths: _*)
  }

  /** One idempotent check-then-index step (public for direct testing
    * and batch backfills sharing the gate's index). Writes ONLY the
    * batch's own delta — O(batch) bytes, not O(corpus). */
  def applyDedupBatch(batch: DataFrame, batchId: Long, stateDir: String,
      outDir: String, threshold: Double): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val indexPaths = dedupIndexPaths(stateDir)
    // the batch delta is persisted FIRST, then read back as the pair
    // check's new-side state: shingling + signatures run once per
    // batch, and the check's lineage reads the same files that will
    // serve every later batch (write-audit for free)
    graft.ext.Dedup.lshIndexState(batch)
      .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    val newState = spark.read.parquet(s"$stateDir/v$batchId")
    val pairs = if (indexPaths.nonEmpty)
      graft.ext.Dedup.minhashIncrementalFromState(newState,
        spark.read.parquet(indexPaths: _*), threshold)
    else graft.ext.Dedup.minhashFromState(newState, threshold)
    pairs.write.mode("overwrite").parquet(s"$outDir/b$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  // --- streaming conformal gate (foreachBatch -> residual-histogram state) ---

  /** Streaming conformal calibration — intervals that tighten as
    * scored outcomes arrive: each microbatch's absolute-residual
    * histogram (`Experiment.conformalResidualHistogram`, a pure count
    * monoid) folds onto the stored state under the versioned-dir +
    * marker commit, so intervals served from the drained state are
    * EXACTLY the one-shot split-conformal q̂ over everything seen.
    * State is distinct-residual-cell sized. */
  def conformalGate(stream: DataFrame, predCol: String, actualCol: String,
      stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyConformalBatch(batch, batchId, predCol, actualCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent residual-histogram merge (public for direct
    * testing and batch backfills sharing the gate's state). */
  def applyConformalBatch(batch: DataFrame, batchId: Long,
      predCol: String, actualCol: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val hist = graft.ops.Experiment.conformalResidualHistogram(
      batch, predCol, actualCol)
    val merged = (if (current >= 0L)
      hist.unionByName(spark.read.parquet(s"$stateDir/v$current"))
    else hist)
      .groupBy("r").agg(sum("c").as("c"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Intervals for a test frame off the gate's committed residual
    * state — the same q̂ code path as the batch face. */
  def conformalGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, test: DataFrame, predCol: String,
      alphaMicro: Long = 100000L, idCol: String = "id"): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "conformal state")
    graft.ops.Experiment.conformalFromHistogram(
      spark.read.parquet(s"$stateDir/v$v"), test, predCol, alphaMicro, idCol)
  }

  /** CQR calibration-on-arrival — [[conformalGate]]'s quantile-band
    * twin: each microbatch folds its SIGNED conformity-score histogram
    * max(lo−y, y−hi) (a count monoid,
    * `Experiment.cqrScoreHistogram`) into the versioned-dir + marker
    * state, so the drained q̂ equals the one-shot CQR quantile
    * exactly. */
  def cqrGate(stream: DataFrame, loCol: String, hiCol: String,
      actualCol: String, stateDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCqrBatch(batch, batchId, loCol, hiCol, actualCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent CQR score-histogram merge (public for direct
    * testing and batch backfills sharing the gate's state). */
  def applyCqrBatch(batch: DataFrame, batchId: Long, loCol: String,
      hiCol: String, actualCol: String, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val hist = graft.ops.Experiment.cqrScoreHistogram(
      batch, loCol, hiCol, actualCol)
    val merged = (if (current >= 0L)
      hist.unionByName(spark.read.parquet(s"$stateDir/v$current"))
    else hist)
      .groupBy("r").agg(sum("c").as("c"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** CQR intervals for a test frame off the gate's committed score
    * state — the same q̂ code path as the batch face. */
  def cqrGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, test: DataFrame, loCol: String, hiCol: String,
      alphaMicro: Long = 100000L, idCol: String = "id"): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "cqr state")
    graft.ops.Experiment.cqrFromHistogram(
      spark.read.parquet(s"$stateDir/v$v"), test, loCol, hiCol,
      alphaMicro, idCol)
  }

  /** Streaming nonparametric drift gate — Mann–Whitney ON ARRIVAL:
    * each microbatch folds its micro-value histogram (vq, t) — a count
    * monoid — into the versioned-dir + marker state, and
    * [[mwGateResult]] ranks the drained LIVE mass against a REFERENCE
    * histogram through `Experiment.mannWhitneyFromState` (reference
    * cells enter as group-A counts, live cells as group-B), so the
    * gate's z equals the one-shot two-sample U statistic exactly. The
    * rank-based complement to the KS drift gate: KS sees the worst
    * CDF point, U sees a location shift, with no distributional
    * assumption. */
  def mwGate(stream: DataFrame, valueCol: String, stateDir: String,
      checkpointDir: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMwBatch(batch, batchId, valueCol, stateDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent micro-value-histogram merge (public for direct
    * testing and batch backfills sharing the gate's state). */
  def applyMwBatch(batch: DataFrame, batchId: Long, valueCol: String,
      stateDir: String): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val hist = graft.ops.Experiment.mwMicroHistogram(batch, valueCol)
    val merged = (if (current >= 0L)
      hist.unionByName(spark.read.parquet(s"$stateDir/v$current"))
    else hist)
      .groupBy("vq").agg(sum("t").as("t"))
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Mann–Whitney U of REFERENCE (group A) vs the gate's committed
    * live mass (group B) — the same from-state code path as the batch
    * face, so drained == one-shot bit-for-bit. `reference` is a
    * (vq, t) histogram from [[graft.ops.Experiment.mwMicroHistogram]]
    * (persist it once; the gate never rescans it). */
  def mwGateResult(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, reference: DataFrame): DataFrame = {
    val v = StateCommit.requireVersion(stateDir, "mw-gate state")
    val live = spark.read.parquet(s"$stateDir/v$v")
    graft.ops.Experiment.mannWhitneyFromState(
      reference.select(col("vq"), col("t").as("ca"), col("t"))
        .unionByName(live.select(col("vq"), lit(0L).as("ca"), col("t"))))
  }

  // --- streaming IVF index-ingest gate (foreachBatch -> postings deltas) ---

  /** Streaming ANN index ingest — IVF postings ON ARRIVAL: the coarse
    * quantizer is trained ONCE (`Similarity.ivfCentroidState`, persisted
    * at `centroidDir` — the zero-fit production discipline) and each
    * arriving microbatch assigns its vectors to their nearest cell in
    * one codegen'd argmin pass, appending the (id, v, cell) postings as
    * an immutable delta under the dedup gate's versioned-dir + marker
    * commit ([[compactDedupIndex]] applies unchanged — the protocol is
    * schema-agnostic). Assignment is a pure function of the FIXED
    * centroids, so the drained index equals the one-shot batch
    * assignment row-for-row and [[ivfSearchFromIngest]] serves queries
    * identically to `ivfTopKFromState` over the full corpus — with
    * exhaustive probing, the exact brute-force top-k (how the driver
    * pins this gate to the SQL oracle). */
  def ivfIngestGate(stream: DataFrame, centroidDir: String, stateDir: String,
      checkpointDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIvfIngestBatch(batch, batchId, centroidDir, stateDir, idCol, vecCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent assign-and-append step (public for direct testing
    * and batch backfills sharing the gate's index). */
  def applyIvfIngestBatch(batch: DataFrame, batchId: Long,
      centroidDir: String, stateDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    graft.ext.Similarity.assignFromCentroidState(batch,
        spark.read.parquet(centroidDir), idCol, vecCol)
      .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** The full committed postings index as one frame (compaction base +
    * committed deltas — one read path shared with the dedup gate, so
    * the two can never diverge on delta/floor resolution). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame =
    readCommittedIndex(spark, stateDir, "IVF index")

  /** Serve a query set from the committed index with ZERO fits — the
    * same probe/re-rank plan as the batch faces. */
  def ivfSearchFromIngest(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, centroidDir: String, queries: DataFrame, k: Int,
      nProbe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = true): DataFrame =
    graft.ext.Similarity.ivfTopKFromAssigned(readIvfIndex(spark, stateDir),
      queries, spark.read.parquet(centroidDir), k, nProbe, idCol, vecCol,
      excludeSelf)

  /** Compact the dedup-gate index: merge the compaction base and every
    * committed delta into one `c{current}` directory, flip the
    * `_COMPACTED` floor marker atomically, then drop the superseded
    * directories. Bounds the state-dir file count under an unbounded
    * ingest (deltas accumulate between compactions only). Crash-safe at
    * every step: readers resolve the index from the two markers alone,
    * the staging directory is published by rename BEFORE the marker
    * flip, and directories left behind by a crash mid-delete are
    * unreferenced (a later compaction sweeps them). NOTE: deltas are
    * NOT snapshots — retention here means merging, never dropping;
    * [[vacuumVersions]] does not apply to this directory. Returns the
    * delta versions folded in (empty when already compact). */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): Seq[Long] = {
    val current = StateCommit.requireVersion(stateDir, "dedup index")
    val floor = dedupIndexFloor(stateDir)
    def sweepUnreferenced(liveFloor: Long): Unit = {
      val live = listSnapshotVersions(stateDir).filter(_ > liveFloor)
        .map(v => s"v$v").toSet + s"c$liveFloor"
      StateCommit.listDirNames(stateDir)
        .filter(n => !live.contains(n) &&
          (n.startsWith("c") ||
            scala.util.Try(n.stripPrefix("v").toLong)
              .toOption.exists(_ <= liveFloor)))
        .foreach(n => StateCommit.deleteDir(s"$stateDir/$n"))
    }
    val doomed = listSnapshotVersions(stateDir).filter(_ > floor)
    if (doomed.isEmpty) { sweepUnreferenced(floor); return Seq.empty }
    val staging = s"$stateDir/c$current.staging"
    spark.read.parquet(dedupIndexPaths(stateDir): _*)
      .write.mode("overwrite").parquet(staging)
    val published = s"$stateDir/c$current"
    StateCommit.deleteDir(published) // crashed prior attempt, if any
    StateCommit.renameDir(staging, published)
    StateCommit.flipVersion(stateDir, current, "_COMPACTED")
    sweepUnreferenced(current)
    doomed
  }

  /** Streaming decontamination gate off the persisted test-set n-gram
    * index — `Curation.contaminationAgainstIndex` run as an ingest
    * gate: the evaluation set is FIXED, so its `contaminationIndex`
    * (8-byte shingle hashes, never benchmark text) is built once and
    * stored; every microbatch of training documents is checked against
    * it on arrival and writes its (test_id, train_id, n_shared)
    * contamination report to `outDir/b{batchId}`. Train documents
    * partition across batches, so each (test, train) pair lives wholly
    * in its train document's batch and the drained union over a finite
    * replay is EXACTLY the batch `contamination` result (with
    * `maxDf = 0`; a positive cap is batch-local by construction —
    * document-frequency pruning across an unbounded stream would
    * itself need unbounded state).
    *
    * Scale shape: the index is immutable and benchmark-sized (an eval
    * suite's distinct 8-grams are millions of 8-byte keys, not corpus-
    * shaped) — AQE broadcasts it under every batch join; per-batch
    * cost is one scan of the batch plus the hash join. Nothing is ever
    * rewritten: the gate's only writes are the per-batch reports, so a
    * crash replay overwrites `b{batchId}` with byte-equal content
    * (the test index being immutable makes the step idempotent with no
    * version marker at all). */
  def decontamGate(stream: DataFrame, testIndexDir: String, outDir: String,
      checkpointDir: String, n: Int = 8, maxDf: Long = 0L,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDecontamBatch(batch, batchId, testIndexDir, outDir, n, maxDf,
          idCol, textCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent decontamination check (public for direct testing
    * and batch backfills sharing the gate's index): the batch against
    * the stored test index, report to `outDir/b{batchId}`. */
  def applyDecontamBatch(batch: DataFrame, batchId: Long,
      testIndexDir: String, outDir: String, n: Int = 8, maxDf: Long = 0L,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    graft.ext.Curation.contaminationAgainstIndex(
      spark.read.parquet(testIndexDir), batch, n, idCol, textCol, maxDf)
      .write.mode("overwrite").parquet(s"$outDir/b$batchId")
  }

  /** Streaming image-dedup gate — the [[dedupGate]] design applied to
    * perceptual hashes: every microbatch of (id, h_hi, h_lo) dHash
    * rows is checked against ALL prior batches (new×new + new×old
    * pigeonhole candidates only, `Dedup.dhashPairsIncremental`), emits
    * its exact-Hamming pairs to `outDir/b{batchId}`, and appends its
    * own rows as an immutable `v{batchId}` index delta. Each pair
    * surfaces exactly once — with its LATER image — so the drained
    * union over a finite replay is the full corpus `dhashPairs` set.
    * The index shares the dedup gate's marker/compaction protocol
    * ([[compactDedupIndex]] works unchanged: it unions parquet deltas
    * without caring about their schema), and state is 2×32 bits per
    * image — the cheapest per-item state of any gate here. */
  def dhashGate(hashStream: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String, maxDist: Int = 3): Unit = {
    val q = hashStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDhashBatch(batch, batchId, stateDir, outDir, maxDist)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent check-then-index step of [[dhashGate]] (public for
    * direct testing and batch backfills sharing the index). */
  def applyDhashBatch(batch: DataFrame, batchId: Long, stateDir: String,
      outDir: String, maxDist: Int = 3): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val indexPaths = dedupIndexPaths(stateDir)
    batch.select("doc_id", "h_hi", "h_lo")
      .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    val newHashes = spark.read.parquet(s"$stateDir/v$batchId")
    val pairs = if (indexPaths.nonEmpty)
      graft.ext.Dedup.dhashPairsIncremental(newHashes,
        spark.read.parquet(indexPaths: _*), maxDist)
    else graft.ext.Dedup.dhashPairs(newHashes, maxDist)
    pairs.write.mode("overwrite").parquet(s"$outDir/b$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Streaming C4 sentence-span gate — the [[dedupGate]] design
    * applied to span hashes: every microbatch of documents splits to
    * its [[graft.ext.Dedup.sentenceSpanState]] rows, appends them as
    * an immutable `v{batchId}` index delta, and reports EACH ARRIVING
    * document's span stats as of everything seen so far (prior deltas
    * plus the batch itself — within-batch repeats count) via
    * [[graft.ext.Dedup.sentenceSpansAgainstState]]. A document's
    * verdict is frozen at arrival — the on-ingest filtering contract —
    * while the folded state stays exactly the one-shot
    * [[graft.ext.Dedup.sentenceSpansFromState]] input for batch
    * revisions. State is (id, n_sentences, 16-byte md5) per span,
    * never document text; the index shares the dedup gate's
    * marker/compaction protocol ([[compactDedupIndex]] unions parquet
    * deltas schema-agnostically). */
  def sentenceSpanGate(stream: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String, n: Int = 3): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySentenceSpanBatch(batch, batchId, stateDir, outDir, n)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent split-then-report step of [[sentenceSpanGate]]
    * (public for direct testing and batch backfills sharing the
    * index). Writes ONLY the batch's own delta — O(batch) bytes. */
  def applySentenceSpanBatch(batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String, n: Int = 3): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val indexPaths = dedupIndexPaths(stateDir)
    graft.ext.Dedup.sentenceSpanState(batch, n)
      .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    val newState = spark.read.parquet(s"$stateDir/v$batchId")
    val full = if (indexPaths.nonEmpty)
      newState.unionByName(spark.read.parquet(indexPaths: _*))
    else newState
    graft.ext.Dedup.sentenceSpansAgainstState(newState, full)
      .write.mode("overwrite").parquet(s"$outDir/b$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Streaming C4 span REMOVAL gate — [[sentenceSpanGate]]'s sibling
    * that rewrites instead of reporting: each microbatch appends its
    * POSITIONAL span state ([[graft.ext.Dedup.spanPosState]] —
    * (id, pos, h), the keep-first rule needs positions) as an
    * immutable delta and emits its own documents' CLEANED text via
    * [[graft.ext.Dedup.removeSpansAgainstState]]. When ingest order
    * respects ascending doc ids (doc-id-tiled replay), first-seen is
    * the global (id, pos) minimum, so the drained union equals the
    * one-shot [[graft.ext.Dedup.removeDuplicateSpans]] rewrite
    * row-for-row — the gate shares its oracle verbatim. */
  def spanRemoveGate(stream: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String, n: Int = 3): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySpanRemoveBatch(batch, batchId, stateDir, outDir, n)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent clean-on-arrival step of [[spanRemoveGate]]
    * (public for direct testing and batch backfills sharing the
    * index). Writes ONLY the batch's own delta — O(batch) bytes. */
  def applySpanRemoveBatch(batch: DataFrame, batchId: Long,
      stateDir: String, outDir: String, n: Int = 3): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val indexPaths = dedupIndexPaths(stateDir)
    graft.ext.Dedup.spanPosState(batch, n)
      .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    val newPos = spark.read.parquet(s"$stateDir/v$batchId")
    val full = if (indexPaths.nonEmpty)
      newPos.unionByName(spark.read.parquet(indexPaths: _*))
    else newPos
    graft.ext.Dedup.removeSpansAgainstState(batch, full, n)
      .write.mode("overwrite").parquet(s"$outDir/b$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** Streaming golden-record maintenance — incremental MDM: each
    * microbatch's keyed `Dedup.survivorshipState` folds into the
    * persisted snapshot ([[graft.ext.Dedup.mergeSurvivorshipState]]),
    * so after any prefix of the stream the state holds EXACTLY the
    * one-shot keyed survivorship of everything ingested (every rule is
    * associative over its persisted form — field picks carry their
    * total-order key, scalars their monoid). State is key-dimension-
    * sized (one row per entity key, one candidate per rule), never
    * corpus-shaped; the per-batch write is the whole snapshot, which
    * IS the served table — the upsertSink copy-on-write shape, with
    * [[vacuumVersions]] bounding retained versions. Exactly-once via
    * the versioned-dir + `_VERSION` marker-flip protocol. */
  def survivorshipSink(stream: DataFrame, stateDir: String,
      checkpointDir: String, keyCol: String,
      rules: Seq[(String, graft.ext.Dedup.SurviveRule)],
      idCol: String = "doc_id"): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySurvivorshipBatch(batch, batchId, stateDir, keyCol, rules, idCol)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One idempotent fold step (public for direct testing and batch
    * backfills sharing the snapshot). */
  def applySurvivorshipBatch(batch: DataFrame, batchId: Long,
      stateDir: String, keyCol: String,
      rules: Seq[(String, graft.ext.Dedup.SurviveRule)],
      idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    val current = StateCommit.readVersion(stateDir)
    if (batchId <= current) return // replay of an already-committed batch
    val delta = graft.ext.Dedup.survivorshipState(batch, keyCol, rules, idCol)
    val merged = if (current >= 0L)
      graft.ext.Dedup.mergeSurvivorshipState(
        spark.read.parquet(s"$stateDir/v$current"), delta, keyCol, rules)
    else delta
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    StateCommit.flipVersion(stateDir, batchId)
  }

  /** The golden records served by the sink's current snapshot. */
  def readGoldenRecords(spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      rules: Seq[(String, graft.ext.Dedup.SurviveRule)]): DataFrame =
    graft.ext.Dedup.goldenFromState(readSnapshot(spark, stateDir), rules)

  /** Read the current committed snapshot maintained by [[upsertSink]]. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession,
      snapshotDir: String): DataFrame = {
    val v = StateCommit.requireVersion(snapshotDir, "snapshot")
    spark.read.parquet(s"$snapshotDir/v$v")
  }

  /** Committed batch versions present under a snapshot dir (ascending).
    * Versions AFTER the marker are uncommitted leftovers of a crashed
    * batch and are excluded — they never became visible. */
  def listSnapshotVersions(snapshotDir: String): Seq[Long] = {
    val committed = StateCommit.readVersion(snapshotDir)
    if (committed < 0L) return Seq.empty
    StateCommit.listDirNames(snapshotDir)
      .filter(_.startsWith("v"))
      .flatMap(n => scala.util.Try(n.stripPrefix("v").toLong).toOption)
      .filter(_ <= committed).sorted
  }

  /** Retention: delete committed versions older than the newest
    * `keepLast`, never touching the current version or uncommitted
    * directories. Time travel shrinks to the retained window; the
    * serving path (marker → newest version) is unaffected even if this
    * crashes mid-delete (old versions are only ever read via explicit
    * time travel). Returns the versions removed. */
  def vacuumSnapshots(snapshotDir: String, keepLast: Int): Seq[Long] =
    vacuumVersions(snapshotDir, keepLast)

  /** Shared retention for every SELF-CONTAINED versioned-state
    * directory — [[upsertSink]] snapshots and the drift / anomaly /
    * hotspot / LM gate states, all of which write the FULL (summary-
    * shaped) state to `v{batchId}` each batch, so any single committed
    * version can serve alone and older versions exist only for time
    * travel. Deletes committed versions older than the newest
    * `keepLast` (recursively — the LM state nests `c2`/`uni` under each
    * version), never the current version or uncommitted directories.
    * The serving path (marker → newest version) and the next batch's
    * fold (reads only `v{current}`) are unaffected even if this crashes
    * mid-delete. NOT for the dedup-gate index, whose `v` directories
    * are DELTAS that all remain live — bound that one with
    * [[compactDedupIndex]] instead. Returns the versions removed. */
  def vacuumVersions(dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current version")
    val versions = listSnapshotVersions(dir)
    val doomed = versions.dropRight(keepLast)
    doomed.foreach(v => StateCommit.deleteDir(s"$dir/v$v"))
    doomed
  }

  /** Time travel: the snapshot as of batch `version` — every versioned
    * directory is immutable once its batch commits, so historical reads
    * are just path picks (the lakehouse time-travel contract at zero
    * extra storage beyond the retained versions). */
  def readSnapshotAt(spark: org.apache.spark.sql.SparkSession,
      snapshotDir: String, version: Long): DataFrame = {
    val versions = listSnapshotVersions(snapshotDir)
    require(versions.contains(version),
      s"version $version not committed under $snapshotDir (have: $versions)")
    spark.read.parquet(s"$snapshotDir/v$version")
  }
}
