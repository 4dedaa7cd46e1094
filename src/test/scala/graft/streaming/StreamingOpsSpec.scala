package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingOpsSpec extends SparkTestBase {
  import StreamingOps._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def sampleEvents = Seq(
    Event(1L, ts(0), 100L, "click", 1.0),
    Event(2L, ts(5), 100L, "click", 2.0),
    Event(3L, ts(10), 200L, "view", 3.0),
    Event(4L, ts(59), 100L, "click", 4.0))

  test("tumbling windows aggregate a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sampleEvents: _*)
    runToMemory(tumbling(mem.toDF(), windowLen = "1 hour"), "tumb_out", OutputMode.Complete())
    val rows = spark.table("tumb_out").collect()
      .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
    assert(rows.toSet === Set(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 3L, 7.0),
      (Timestamp.valueOf("2024-01-01 10:00:00"), "view", 1L, 3.0)))
  }

  test("session windows split on the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sampleEvents: _*)
    runToMemory(sessions(mem.toDF(), gap = "30 minutes"), "sess_out", OutputMode.Complete())
    val rows = spark.table("sess_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events")))
    // user 100: events at :00, :05 in one session; :59 in another
    assert(rows.toSet === Set((100L, 2L), (100L, 1L), (200L, 1L)))
  }

  test("dedupStream drops duplicate keys arriving within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamingOps.dedupStream(mem.toDF(), keyCols = Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData(Event(1L, ts(0), 100L, "click", 1.0), Event(1L, ts(1), 100L, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(1L, ts(2), 100L, "click", 1.0), Event(2L, ts(3), 200L, "view", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq === Seq(1L, 2L)) // the three id=1 copies collapse to one
  }

  test("mapGroupsWithState keeps running totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = runningUserTotals(mem.toDS()).writeStream
      .format("memory").queryName("run_out").outputMode("update").start()
    try {
      mem.addData(sampleEvents.take(2): _*)
      q.processAllAvailable()
      mem.addData(sampleEvents.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("run_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
    assert(last(100L) === ((100L, 3L, 7.0)))
    assert(last(200L) === ((200L, 1L, 3.0)))
  }

  test("sketchDistinct unions theta state across batches: recurring users count once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sketchDistinct(mem.toDS().toDF(), windowSeconds = 3600L, lgK = 12)
      .writeStream.format("memory").queryName("sketch_out").outputMode("update").start()
    try {
      // batch 1: users 100, 200 in the 10:00 window
      mem.addData(Event(1L, ts(0), 100L, "click", 1.0),
        Event(2L, ts(5), 200L, "click", 1.0))
      q.processAllAvailable()
      // batch 2: user 100 AGAIN (must not double-count) + new user 300
      mem.addData(Event(3L, ts(10), 100L, "click", 1.0),
        Event(4L, ts(20), 300L, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val perBatch = spark.table("sketch_out").collect()
      .map(r => r.getAs[Long]("n_distinct")).sorted
    // batch 1 emitted 2; batch 2 emitted 3 (union, not 2+2)
    assert(perBatch === Array(2L, 3L))
  }

  test("sketchDistinct stays exact below capacity at 4x the nominal boundary check") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = sketchDistinct(mem.toDS().toDF(), windowSeconds = 3600L, lgK = 12)
      .writeStream.format("memory").queryName("sketch_cap_out").outputMode("update").start()
    try {
      // 3000 distinct users < 2^12 = 4096: still exact mode
      mem.addData((1 to 3000).map(i => Event(i.toLong, ts(1), i.toLong, "view", 1.0)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val n = spark.table("sketch_cap_out").collect().map(_.getAs[Long]("n_distinct")).max
    assert(n === 3000L)
  }

  test("sketchFreqItems folds counts across batches and evicts closed windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(time: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $time")
    val mem = MemoryStream[Event]
    val q = sketchFreqItems(mem.toDS().toDF(), windowSeconds = 3600L,
        maxMapSize = 64, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("freq_evict_out")
      .outputMode(OutputMode.Update()).start()
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      // batch 1: 10:00 window gets 2 clicks + 1 view
      mem.addData(Event(1L, at("10:00:00"), 100L, "click", 1.0),
        Event(2L, at("10:05:00"), 200L, "click", 1.0),
        Event(3L, at("10:10:00"), 100L, "view", 1.0))
      q.processAllAvailable()
      // batch 2: one MORE click in the same window (state fold, not 1)
      mem.addData(Event(4L, at("10:20:00"), 300L, "click", 1.0))
      q.processAllAvailable()
      assert(stateRows === 1L, "one open window holds one sketch row")
      // batch 3: watermark jumps past the 11:00 window end -> eviction
      mem.addData(Event(5L, at("14:30:00"), 300L, "view", 1.0))
      q.processAllAvailable()
      assert(stateRows === 1L,
        s"closed 10:00 window must evict, got $stateRows state rows")
    } finally q.stop()
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    val h14 = Timestamp.valueOf("2024-01-01 14:00:00").getTime / 1000
    val finalCounts = spark.table("freq_evict_out")
      .groupBy("window_start", "item")
      .agg(org.apache.spark.sql.functions.max("est").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(finalCounts === Map((h10, "click") -> 3L, (h10, "view") -> 1L,
      (h14, "view") -> 1L))
  }

  test("sketchQuantiles folds values across batches; exact below capacity; evicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(time: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $time")
    val mem = MemoryStream[Event]
    val q = sketchQuantiles(mem.toDS().toDF(), windowSeconds = 3600L,
        probs = Seq(0.5, 1.0), k = 256, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("kll_evict_out")
      .outputMode(OutputMode.Update()).start()
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      // batch 1: values 1..4 in the 10:00 click window
      mem.addData((1 to 4).map(i =>
        Event(i.toLong, at("10:00:00"), i.toLong, "click", i.toDouble)): _*)
      q.processAllAvailable()
      // batch 2: values 5..8 fold into the SAME sketch (median moves)
      mem.addData((5 to 8).map(i =>
        Event(i.toLong, at("10:30:00"), i.toLong, "click", i.toDouble)): _*)
      q.processAllAvailable()
      assert(stateRows === 1L)
      // batch 3: watermark jump evicts the closed 10:00 window
      mem.addData(Event(99L, at("14:30:00"), 99L, "view", 42.0))
      q.processAllAvailable()
      assert(stateRows === 1L,
        s"closed window must evict, got $stateRows state rows")
    } finally q.stop()
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    val fin = spark.table("kll_evict_out")
      .groupBy("window_start", "event_type", "p")
      .agg(org.apache.spark.sql.functions.expr("max_by(q, n)").as("q"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)) -> r.getDouble(3)).toMap
    // INCLUSIVE over 1..8: p=0.5 -> ceil(4)=4th order stat; p=1.0 -> 8
    assert(fin((h10, "click", 0.5)) === 4.0)
    assert(fin((h10, "click", 1.0)) === 8.0)
  }

  test("sketchDistinct evicts closed-window state once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(time: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $time")
    val mem = MemoryStream[Event]
    val q = sketchDistinct(mem.toDS().toDF(), windowSeconds = 3600L, lgK = 12,
        watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("sketch_evict_out")
      .outputMode(OutputMode.Update()).start()
    def stateRows: Long = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      // batch 1: two windows open (10:00 click, 11:00 view)
      mem.addData(Event(1L, at("10:00:00"), 100L, "click", 1.0),
        Event(2L, at("10:05:00"), 200L, "click", 1.0),
        Event(3L, at("11:10:00"), 100L, "view", 1.0))
      q.processAllAvailable()
      assert(stateRows === 2L, "both open windows hold state")
      // batch 2: 14:30 event raises the watermark to 13:30 — strictly
      // past both earlier window ends (11:00, 12:00): their state must
      // be EVICTED, leaving only the 14:00 window's group
      mem.addData(Event(4L, at("14:30:00"), 300L, "click", 1.0))
      q.processAllAvailable()
      assert(stateRows === 1L,
        s"closed windows must evict, got $stateRows state rows")
    } finally q.stop()
    // eviction emitted final rows identical to the last update per key:
    // drained max-per-key still equals the exact distinct counts
    val finalCounts = spark.table("sketch_evict_out")
      .groupBy("window_start", "event_type")
      .agg(org.apache.spark.sql.functions.max("n_distinct").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val h10 = Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000
    val h11 = Timestamp.valueOf("2024-01-01 11:00:00").getTime / 1000
    val h14 = Timestamp.valueOf("2024-01-01 14:00:00").getTime / 1000
    assert(finalCounts === Map((h10, "click") -> 2L, (h11, "view") -> 1L,
      (h14, "click") -> 1L))
  }

  test("drift gate folds batches into bins-sized state, idempotent on replay") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("drift_spec_").toString
    // bins: [0,1) [1,2) ... width 1 from 0
    applyDriftBatch(Seq(1.0, 2.0, 9.0).toDF("v"), 0L, "v", 0.0, 1.0, 10, stateDir)
    val b2 = Seq(2.5, 9.5).toDF("v")
    applyDriftBatch(b2, 1L, "v", 0.0, 1.0, 10, stateDir)
    // a foreachBatch REPLAY of batch 1 must be a no-op, not a double count
    applyDriftBatch(b2, 1L, "v", 0.0, 1.0, 10, stateDir)
    def counts = spark.read.parquet(s"$stateDir/v1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 1L, 2L -> 2L, 9L -> 2L))
    // PSI from the gate state vs a reference sketch reads summaries only
    val refHist = graft.ops.DataQuality.histogramState(
      Seq(1.2, 2.7, 9.1, 0.5).toDF("v"), "v", 0.0, 1.0, 10)
    val psi = driftGateResult(spark, refHist, stateDir, 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(psi(2L) === ((1L, 2L)) && psi(0L) === ((1L, 0L)) && psi.size === 10)
  }

  test("cer gate: edit sums fold idempotently; drained corpus CER equals one-shot") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("cer_spec_").toString
    val ref = Seq((1L, "the cat sat"), (2L, "a b"), (3L, "hello world"))
      .toDF("doc_id", "text")
    // candidates arrive split across two batches (pair 3 in batch 1)
    val b0 = Seq((1L, "the bat sat"), (2L, "a b")).toDF("doc_id", "text")
    val b1 = Seq((3L, "hello word"), (9L, "unpaired")).toDF("doc_id", "text")
    applyCerBatch(b0, 0L, ref, "doc_id", "text", stateDir)
    applyCerBatch(b1, 1L, ref, "doc_id", "text", stateDir)
    // a foreachBatch REPLAY of batch 1 must be a no-op, not a double count
    applyCerBatch(b1, 1L, ref, "doc_id", "text", stateDir)
    val got = cerGateResult(spark, stateDir).head()
    // edits: 1 ("cat"->"bat") + 0 + 1 ("world"->"word"); ref chars
    // 11 + 3 + 11 = 25; pair 9 has no reference -> drops (inner join)
    assert(got.getLong(0) === 3L && got.getLong(1) === 2L)
    assert(got.getLong(2) === 25L)
    assert(got.getLong(3) === 80000L) // 2e6/25
    // one-shot batch recompute over the union agrees (sum monoid)
    val oneShot = graft.ext.TextEval.cer(b0.unionByName(b1), ref)
      .agg(org.apache.spark.sql.functions.sum("edits"),
        org.apache.spark.sql.functions.sum("ref_chars")).head()
    assert(oneShot.getLong(0) === 2L && oneShot.getLong(1) === 25L)
  }

  test("bleu gate: n-gram sums fold idempotently; drained corpus BLEU equals one-shot") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("bleu_spec_").toString
    val ref = Seq((1L, "the cat sat on the mat"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
    val b0 = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val b1 = Seq((2L, "a b c d")).toDF("doc_id", "text")
    applyBleuBatch(b0, 0L, ref, "doc_id", "text", stateDir)
    applyBleuBatch(b1, 1L, ref, "doc_id", "text", stateDir)
    // a foreachBatch REPLAY of batch 1 must be a no-op, not a double count
    applyBleuBatch(b1, 1L, ref, "doc_id", "text", stateDir)
    val got = bleuGateResult(spark, stateDir).head()
    // identical to TextEvalSpec's corpus hand case: c=10, r=11, all
    // precisions perfect -> bp 1e8, bleu 904837
    assert(got.getAs[Long]("cand_len") === 10L)
    assert(got.getAs[Long]("ref_len") === 11L)
    assert(got.getAs[Long]("match_4") === 4L && got.getAs[Long]("total_4") === 4L)
    assert(got.getAs[Long]("bp_penalty_nano") === 100000000L)
    assert(got.getAs[Long]("bleu_micro") === 904837L)
    // one-shot recompute over the union agrees bit for bit
    val oneShot = graft.ext.TextEval.corpusBleu(b0.unionByName(b1), ref).head()
    assert(oneShot.getAs[Long]("bleu_micro") === 904837L)
    assert(oneShot.getValuesMap[Any](oneShot.schema.fieldNames.toIndexedSeq) ===
      got.getValuesMap[Any](got.schema.fieldNames.toIndexedSeq))
  }

  test("anomaly gate folds cell counts idempotently; drained state equals batch test") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("anomaly_spec_").toString
    def secs(day: Long, hour: Long, n: Int) =
      Seq.fill(n)(("a", day * 86400L + hour * 3600L + 7L))
    // batch 0: days 0-1 quiet; batch 1: day 2 spikes hour 0
    val b0 = (secs(0, 0, 1) ++ secs(1, 0, 1) ++
      secs(0, 1, 3) ++ secs(1, 1, 3) ++ secs(2, 1, 3)).toDF("k", "sec")
    val b1 = secs(2, 0, 10).toDF("k", "sec")
    applyAnomalyBatch(b0, 0L, "sec", "k", stateDir)
    applyAnomalyBatch(b1, 1L, "sec", "k", stateDir)
    // a foreachBatch REPLAY of batch 1 must be a no-op, not a double count
    applyAnomalyBatch(b1, 1L, "sec", "k", stateDir)
    val got = anomalyGateResult(spark, stateDir, "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // identical to the batch recompute over the union of both batches
    val batch = graft.ops.TimeSeries.seasonalAnomaly(
        b0.unionByName(b1), "sec", "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === batch.toSeq)
    assert(got.toSeq === Seq(("a", 2L, 0L, 10L, 3L, 12L)))
  }

  test("stream-stream interval join matches the batch join across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val joined = intervalJoin(clicks.toDF(), views.toDF(),
        lookback = "10 minutes", watermark = "1 hour")
      .selectExpr("l.event_id AS click_id", "r.event_id AS view_id")
    val q = joined.writeStream.format("memory").queryName("sj_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: a view, then a click 5 min later -> in range
      views.addData(Event(10L, ts(0), 100L, "view", 0.0))
      clicks.addData(Event(1L, ts(5), 100L, "click", 0.0))
      q.processAllAvailable()
      // batch 2: late-arriving view still matches an EARLIER-batch click
      // (that's what makes it a real two-stream join, not an as-of pick);
      // a view 11 min before a click is out of range; other user no match
      views.addData(Event(11L, ts(3), 100L, "view", 0.0))
      clicks.addData(Event(2L, ts(14), 100L, "click", 0.0),
        Event(3L, ts(30), 999L, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // click1(:05) matches views at :00 and :03; click2(:14) matches only
    // :03 + :05-window... view :03 is 11 min before click :14 -> OUT;
    // view :00 is 14 min before -> OUT. click3: no views for user 999.
    assert(got === Set((1L, 10L), (1L, 11L)))
  }

  test("left-outer interval join: null-pads only left rows strictly below the final watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val joined = intervalJoinOuter(clicks.toDF(), views.toDF(),
        lookback = "10 minutes", watermark = "10 minutes")
      .selectExpr("l.event_id AS click_id", "r.event_id AS view_id")
    val q = joined.writeStream.format("memory").queryName("sjo_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: matched pair (user 100) + three unmatched clicks
      views.addData(Event(10L, ts(0), 100L, "view", 0.0))
      clicks.addData(Event(1L, ts(5), 100L, "click", 0.0),
        Event(2L, ts(0), 200L, "click", 0.0),   // < final wm -> null-emit
        Event(3L, ts(20), 300L, "click", 0.0),  // == final wm -> held
        Event(4L, ts(25), 400L, "click", 0.0))  // > final wm -> held
      q.processAllAvailable()
      // batch 2: raise both source watermarks to :30 - 10min = :20
      views.addData(Event(11L, ts(30), 999L, "view", 0.0))
      clicks.addData(Event(5L, ts(30), 999L, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sjo_out").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet
    // matched row emitted eagerly; click 2 (ts :00 < wm :20) null-padded;
    // clicks 3 (:20, NOT strictly below) and 4 (:25) still held in state;
    // click 5 matches view 11 at the same tick.
    assert(got === Set((1L, Some(10L)), (5L, Some(11L)), (2L, None)))
  }

  test("upsert sink maintains a last-wins keyed snapshot, idempotent on replay") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsink_").toString
    def b(rows: (Long, String, Long)*) = rows.toDF("k", "s", "seq")

    // batch 0: dup key 1 collapses last-wins by seq
    StreamingOps.applyUpsertBatch(
      b((1L, "old", 1L), (1L, "new", 2L), (2L, "b", 1L)), 0L, Seq("k"), "seq", dir)
    // batch 1: update key 2, insert key 3
    StreamingOps.applyUpsertBatch(
      b((2L, "b2", 5L), (3L, "c", 1L)), 1L, Seq("k"), "seq", dir)
    val snap = StreamingOps.readSnapshot(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(snap === Map(1L -> "new", 2L -> "b2", 3L -> "c"))

    // replaying batch 1 (crash-retry) changes nothing
    StreamingOps.applyUpsertBatch(
      b((2L, "SHOULD_NOT_APPLY", 9L)), 1L, Seq("k"), "seq", dir)
    val snap2 = StreamingOps.readSnapshot(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(snap2 === snap)
  }

  test("full-outer interval join: right rows null-pad when ts + lookback < watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val joined = intervalJoin(clicks.toDF(), views.toDF(),
        lookback = "5 minutes", watermark = "10 minutes", joinType = "full_outer")
      .selectExpr("l.event_id AS click_id", "r.event_id AS view_id")
    val q = joined.writeStream.format("memory").queryName("sjf_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // final watermark will be :30 - 10min = :20.
      // view at :14: matchable clicks up to :19 < wm -> expired, null-emit
      // view at :15: boundary (15 + 5 == 20, not strictly below) -> held
      // view at :16: held; unmatched click at :00 -> null-emit (strict below)
      views.addData(Event(10L, ts(14), 100L, "view", 0.0),
        Event(11L, ts(15), 200L, "view", 0.0),
        Event(12L, ts(16), 300L, "view", 0.0))
      clicks.addData(Event(1L, ts(0), 400L, "click", 0.0))
      q.processAllAvailable()
      views.addData(Event(13L, ts(30), 999L, "view", 0.0))
      clicks.addData(Event(2L, ts(30), 999L, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sjf_out").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).toSet
    assert(got === Set(
      (Some(2L), Some(13L)), // matched eagerly at the same tick
      (Some(1L), None),      // click :00 strictly below wm :20
      (None, Some(10L))))    // view :14 — the only right row whose window closed
  }

  test("applyLmBatch: prequential scoring, growing state, idempotent replay") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_lmst_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_lmout_").toString
    val b0 = Seq((1L, "x y x y"), (2L, "x y z")).toDF("doc_id", "text")
    val b1 = Seq((10L, "x y q"), (11L, "z z")).toDF("doc_id", "text")
    val b2 = Seq((20L, "x y")).toDF("doc_id", "text")
    StreamingOps.applyLmBatch(b0, 0L, stateDir, outDir)
    // batch 0 trains silently: no scores, state v0 committed
    assert(!new java.io.File(outDir, "b0").exists)
    StreamingOps.applyLmBatch(b1, 1L, stateDir, outDir)
    val got1 = spark.read.parquet(s"$outDir/b1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // prequential: batch 1 scored under the model of batch 0 ONLY
    val exp1 = graft.ext.LangModel.bigramNll(b0, b1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got1 === exp1 && got1.nonEmpty)
    StreamingOps.applyLmBatch(b2, 2L, stateDir, outDir)
    val got2 = spark.read.parquet(s"$outDir/b2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch 2 under batches 0 UNION 1 — the folded state
    val exp2 = graft.ext.LangModel.bigramNll(b0.unionByName(b1), b2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 === exp2)
    // crash replay of a committed batch: marker unchanged, scores intact
    StreamingOps.applyLmBatch(b1, 1L, stateDir, outDir)
    assert(StreamingOps.listSnapshotVersions(stateDir) === Seq(0L, 1L, 2L))
    val again = spark.read.parquet(s"$outDir/b1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === exp1)
  }

  test("applyClassifierBatch: prequential NB scoring, folded state, idempotent replay") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_nbst_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_nbout_").toString
    // texts long/clean enough that qualityFilters yields BOTH labels
    val keepText = Seq.fill(60)("clean prose sentence").mkString(" ") + "."
    val dropText = "short junk {"
    val b0 = Seq((1L, keepText), (2L, dropText)).toDF("doc_id", "text")
    val b1 = Seq((10L, keepText + " extra"), (11L, "tiny {")).toDF("doc_id", "text")
    val b2 = Seq((20L, "clean prose")).toDF("doc_id", "text")
    def nbOf(train: org.apache.spark.sql.DataFrame,
        cand: org.apache.spark.sql.DataFrame) = {
      val lab = graft.ext.TextAnalysis.qualityFilters(train, "text")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"),
          org.apache.spark.sql.functions.col("keep").as("label"))
      graft.ext.QualityClassifier.trainScore(lab, cand)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
    }
    StreamingOps.applyClassifierBatch(b0, 0L, stateDir, outDir)
    // batch 0 trains silently: no scores, state v0 committed
    assert(!new java.io.File(outDir, "b0").exists)
    StreamingOps.applyClassifierBatch(b1, 1L, stateDir, outDir)
    val got1 = spark.read.parquet(s"$outDir/b1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(got1 === nbOf(b0, b1) && got1.nonEmpty)
    StreamingOps.applyClassifierBatch(b2, 2L, stateDir, outDir)
    val got2 = spark.read.parquet(s"$outDir/b2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    // batch 2 under batches 0 UNION 1 — the folded monoid state
    assert(got2 === nbOf(b0.unionByName(b1), b2))
    // crash replay of a committed batch: marker unchanged, scores intact
    StreamingOps.applyClassifierBatch(b1, 1L, stateDir, outDir)
    assert(StreamingOps.listSnapshotVersions(stateDir) === Seq(0L, 1L, 2L))
    assert(spark.read.parquet(s"$outDir/b1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet === got1)
  }

  test("applyDedupBatch: each pair emits once with its later doc; replay idempotent") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ddst_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ddout_").toString
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val b0 = Seq((1L, text), (2L, text + " iota")).toDF("doc_id", "text")
    val b1 = Seq((10L, text), (11L, "unrelated words entirely different tokens here now")).toDF("doc_id", "text")
    StreamingOps.applyDedupBatch(b0, 0L, stateDir, outDir, 0.5)
    val p0 = spark.read.parquet(s"$outDir/b0")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(p0 === Set((1L, 2L))) // within-batch pair
    StreamingOps.applyDedupBatch(b1, 1L, stateDir, outDir, 0.5)
    val p1 = spark.read.parquet(s"$outDir/b1")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // new x old pairs only for the later docs; (1,2) never re-emits
    assert(p1 === Set((1L, 10L), (2L, 10L)))
    // crash replay of batch 1: marker unchanged, output identical
    StreamingOps.applyDedupBatch(b1, 1L, stateDir, outDir, 0.5)
    assert(StreamingOps.listSnapshotVersions(stateDir) === Seq(0L, 1L))
    assert(spark.read.parquet(s"$outDir/b1")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet === p1)
  }

  test("applySentenceSpanBatch: verdict frozen at arrival; within-batch repeats count; replay idempotent") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_sspst_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sspout_").toString
    def rows(dir: String) = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // batch 0: docs 1 and 2 share the (A,B,C) triple (within-batch dup);
    // doc 3 is short (1 sentence) — must surface with zero spans
    val b0 = Seq(
      (1L, "Aa. Bb. Cc. Uu."),
      (2L, "Aa. Bb. Cc."),
      (3L, "Solo.")).toDF("doc_id", "text")
    StreamingOps.applySentenceSpanBatch(b0, 0L, stateDir, outDir)
    assert(rows(s"$outDir/b0") === Set(
      (1L, 4L, 2L, 1L), (2L, 3L, 1L, 1L), (3L, 1L, 0L, 0L)))
    // batch 1: doc 10 repeats doc 1's UNIQUE span (B,C,U) — doc 10's
    // copy flags against the stored state, doc 1's frozen b0 verdict
    // does NOT revise (the gate contract)
    val b1 = Seq((10L, "Bb. Cc. Uu.")).toDF("doc_id", "text")
    StreamingOps.applySentenceSpanBatch(b1, 1L, stateDir, outDir)
    assert(rows(s"$outDir/b1") === Set((10L, 3L, 1L, 1L)))
    assert(rows(s"$outDir/b0") === Set(
      (1L, 4L, 2L, 1L), (2L, 3L, 1L, 1L), (3L, 1L, 0L, 0L)))
    // crash replay of batch 1: marker unchanged, output identical
    StreamingOps.applySentenceSpanBatch(b1, 1L, stateDir, outDir)
    assert(StreamingOps.listSnapshotVersions(stateDir) === Seq(0L, 1L))
    assert(rows(s"$outDir/b1") === Set((10L, 3L, 1L, 1L)))
    // the folded state still serves the REVISING batch face: doc 1's
    // (B,C,U) span is duplicated corpus-wide after batch 1
    val folded = graft.ext.Dedup.sentenceSpansFromState(
      spark.read.parquet(s"$stateDir/v0", s"$stateDir/v1"))
    val d1 = folded.filter($"doc_id" === 1L).collect().head
    assert(d1.getLong(3) === 2L)
  }

  test("applySpanRemoveBatch: drained union == one-shot removeDuplicateSpans under id-ordered tiles") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_sprmst_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sprmout_").toString
    def rows(dir: String) = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // ascending-id tiles: batch 0 = docs 1-2, batch 1 = docs 10-11
    val b0 = Seq(
      (1L, "Aa. Bb. Cc. Uu."),    // first occurrence of (A,B,C)
      (2L, "Aa. Bb. Cc.")).toDF("doc_id", "text") // within-batch copy: drops
    val b1 = Seq(
      (10L, "Aa. Bb. Cc. Zz."),   // cross-batch copy of (A,B,C): drops
      (11L, "Fresh. New. Words. Here.")).toDF("doc_id", "text")
    StreamingOps.applySpanRemoveBatch(b0, 0L, stateDir, outDir)
    StreamingOps.applySpanRemoveBatch(b1, 1L, stateDir, outDir)
    val drained = rows(s"$outDir/b0") ++ rows(s"$outDir/b1")
    val oneShot = graft.ext.Dedup.removeDuplicateSpans(
      b0.unionByName(b1), n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(drained === oneShot)
    assert(drained.contains((2L, "", 3L, 3L)))       // within-batch copy gone
    assert(drained.contains((10L, "Zz.", 4L, 3L)))   // cross-batch copy gone
    // crash replay of batch 1: marker unchanged, output identical
    StreamingOps.applySpanRemoveBatch(b1, 1L, stateDir, outDir)
    assert(StreamingOps.listSnapshotVersions(stateDir) === Seq(0L, 1L))
    assert(rows(s"$outDir/b1") ++ rows(s"$outDir/b0") === oneShot)
  }

  test("dedup index is append-only: per-batch write ∝ batch, compaction bounds dirs") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ddap_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ddap_out_").toString
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    def batch(ids: Long*) = ids.map(i => (i, text)).toDF("doc_id", "text")
    def stateDirs() =
      Option(new java.io.File(stateDir).listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
    // 4 batches of 2 docs each: every committed version dir holds ONLY
    // its own batch's index rows — write volume per batch is batch-
    // sized, never corpus-sized (the O(batches²) rewrite is gone)
    (0L until 4L).foreach { b =>
      StreamingOps.applyDedupBatch(batch(2 * b, 2 * b + 1), b, stateDir, outDir, 0.5)
      assert(spark.read.parquet(s"$stateDir/v$b").count() === 2L,
        s"delta v$b must hold exactly the batch's 2 docs")
    }
    assert(StreamingOps.readDedupIndex(spark, stateDir).count() === 8L)
    // compaction folds all deltas into one base and drops them
    assert(StreamingOps.compactDedupIndex(spark, stateDir) === Seq(0L, 1L, 2L, 3L))
    assert(stateDirs() === Seq("c3"))
    assert(StreamingOps.readDedupIndex(spark, stateDir).count() === 8L)
    // already compact → no-op
    assert(StreamingOps.compactDedupIndex(spark, stateDir) === Seq.empty)
    // the gate keeps pairing new arrivals against the COMPACTED corpus:
    // doc 100 must pair with all 8 prior docs (same text)
    StreamingOps.applyDedupBatch(batch(100L), 4L, stateDir, outDir, 0.5)
    val p4 = spark.read.parquet(s"$outDir/b4")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(p4 === (0L until 8L).map(i => (i, 100L)).toSet)
    assert(stateDirs() === Seq("c3", "v4"))
    // replay after compaction: idempotent, no double-pairs
    StreamingOps.applyDedupBatch(batch(100L), 4L, stateDir, outDir, 0.5)
    assert(spark.read.parquet(s"$outDir/b4")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet === p4)
    // rolling ingest with periodic compaction keeps the dir count
    // bounded by the compaction cadence, not the batch count
    (5L until 11L).foreach { b =>
      StreamingOps.applyDedupBatch(batch(200L + b), b, stateDir, outDir, 0.5)
      if (b % 3L == 0L) StreamingOps.compactDedupIndex(spark, stateDir)
    }
    assert(stateDirs().length <= 4,
      s"state dirs must stay bounded under rolling compaction: ${stateDirs()}")
    assert(StreamingOps.readDedupIndex(spark, stateDir).count() === 15L)
  }

  test("applyDecontamBatch: per-batch reports vs the fixed index; union = one-shot; replay idempotent") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("graft_dcidx_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_dcout_").toString
    val t8 = "one two three four five six seven eight"
    val testSet = Seq((100L, t8 + " nine")).toDF("doc_id", "text")
    graft.ext.Curation.contaminationIndex(testSet, n = 8)
      .write.mode("overwrite").parquet(idxDir)
    val b0 = Seq((1L, t8),
      (2L, "no overlap at all here with anything else listed")).toDF("doc_id", "text")
    val b1 = Seq((3L, t8 + " nine")).toDF("doc_id", "text")
    StreamingOps.applyDecontamBatch(b0, 0L, idxDir, outDir, n = 8)
    StreamingOps.applyDecontamBatch(b1, 1L, idxDir, outDir, n = 8)
    def report(dir: String) = spark.read.parquet(dir)
      .select("test_id", "train_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    // batch 0: doc 1 shares exactly the one 8-gram; doc 2 nothing
    assert(report(s"$outDir/b0") === Set((100L, 1L, 1L)))
    // batch 1: doc 3 is the full test text — both of its 8-grams shared
    assert(report(s"$outDir/b1") === Set((100L, 3L, 2L)))
    // crash replay overwrites byte-equal (index immutable, no marker needed)
    StreamingOps.applyDecontamBatch(b0, 0L, idxDir, outDir, n = 8)
    assert(report(s"$outDir/b0") === Set((100L, 1L, 1L)))
    // drained union over the replay == the one-shot batch check (maxDf=0)
    val oneShot = graft.ext.Curation.contamination(testSet, b0.union(b1), n = 8)
      .select("test_id", "train_id", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    assert(report(s"$outDir/b*") === oneShot)
    // the gate writes ONLY per-batch reports: no state dirs appear
    assert(Option(new java.io.File(idxDir).listFiles()).get
      .forall(f => !f.isDirectory), "test index dir must stay flat/immutable")
  }

  test("applyDhashBatch: pairs emit once with the later image; union == full dhashPairs; replay idempotent") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_dhst_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_dhout_").toString
    // ids 1,2 near-identical (1 bit apart); 3 far; 10 is 2 bits from 1
    val b0 = Seq((1L, 0xAAAA0000L, 0x5555L), (2L, 0xAAAA0000L, 0x5554L),
      (3L, 0x12345678L, 0x0F0FL)).toDF("doc_id", "h_hi", "h_lo")
    val b1 = Seq((10L, 0xAAAA0001L, 0x5554L)).toDF("doc_id", "h_hi", "h_lo")
    StreamingOps.applyDhashBatch(b0, 0L, stateDir, outDir, maxDist = 3)
    val p0 = spark.read.parquet(s"$outDir/b0")
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
    assert(p0 === Set((1L, 2L, 1)))
    StreamingOps.applyDhashBatch(b1, 1L, stateDir, outDir, maxDist = 3)
    val p1 = spark.read.parquet(s"$outDir/b1")
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
    // new x old only for the later image; (1,2) never re-emits
    assert(p1 === Set((1L, 10L, 2), (2L, 10L, 1)))
    // union over the replay == the batch dhashPairs over everything
    val full = graft.ext.Dedup.dhashPairs(b0.union(b1), maxDist = 3)
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
    assert((p0 ++ p1) === full)
    // crash replay: marker unchanged, output byte-equal
    StreamingOps.applyDhashBatch(b1, 1L, stateDir, outDir, maxDist = 3)
    assert(spark.read.parquet(s"$outDir/b1")
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet === p1)
    assert(StreamingOps.listSnapshotVersions(stateDir) === Seq(0L, 1L))
    // compaction (shared dedup-gate machinery) folds the hash deltas too
    assert(StreamingOps.compactDedupIndex(spark, stateDir) === Seq(0L, 1L))
    StreamingOps.applyDhashBatch(
      Seq((20L, 0xAAAA0000L, 0x5555L)).toDF("doc_id", "h_hi", "h_lo"),
      2L, stateDir, outDir, maxDist = 3)
    val p2 = spark.read.parquet(s"$outDir/b2")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(p2 === Set((1L, 20L), (2L, 20L), (10L, 20L)))
  }

  test("applySurvivorshipBatch: folded state == one-shot survivorship; replay idempotent") {
    import spark.implicits._
    import graft.ext.Dedup.SurviveRule._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_gold_").toString
    val rules = Seq("text" -> FieldMaxBy("len"), "len" -> ColMax)
    val b0 = Seq((1L, "en", "aa", 2), (2L, "en", "bbbb", 4), (3L, "fr", "c", 1))
      .toDF("doc_id", "lang", "text", "len")
    val b1 = Seq((4L, "en", "dddd", 4), (5L, "fr", "eee", 3))
      .toDF("doc_id", "lang", "text", "len")
    StreamingOps.applySurvivorshipBatch(b0, 0L, stateDir, "lang", rules)
    StreamingOps.applySurvivorshipBatch(b1, 1L, stateDir, "lang", rules)
    def golden() = StreamingOps.readGoldenRecords(spark, stateDir, rules)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    // en: len tie 4/4 between docs 2 and 4 -> FieldMaxBy takes highest id (doc 4)
    val exp = Set(("en", "dddd", 4, 3L), ("fr", "eee", 3, 2L))
    assert(golden() === exp)
    // one-shot keyed survivorship over the union must agree
    val oneShot = graft.ext.Dedup.goldenFromState(
        graft.ext.Dedup.survivorshipState(b0.union(b1), "lang", rules), rules)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    assert(oneShot === exp)
    // crash replay of batch 1: marker unchanged, state identical
    StreamingOps.applySurvivorshipBatch(b1, 1L, stateDir, "lang", rules)
    assert(golden() === exp)
    assert(StreamingOps.listSnapshotVersions(stateDir) === Seq(0L, 1L))
  }

  test("vacuumVersions: recursive over nested LM state; gate still folds after") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_vvlm_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_vvlm_out_").toString
    def b(ids: Long*) = ids.map(i => (i, "one two three two one")).toDF("doc_id", "text")
    StreamingOps.applyLmBatch(b(1L), 0L, stateDir, outDir)
    StreamingOps.applyLmBatch(b(2L), 1L, stateDir, outDir)
    StreamingOps.applyLmBatch(b(3L), 2L, stateDir, outDir)
    // LM versions nest c2/uni — the old flat delete could not remove them
    assert(StreamingOps.vacuumVersions(stateDir, keepLast = 1) === Seq(0L, 1L))
    assert(!new java.io.File(stateDir, "v0").exists)
    assert(!new java.io.File(stateDir, "v1").exists)
    assert(StreamingOps.listSnapshotVersions(stateDir) === Seq(2L))
    // the next fold reads only v{current}: unaffected by the vacuum
    StreamingOps.applyLmBatch(b(4L), 3L, stateDir, outDir)
    assert(spark.read.parquet(s"$outDir/b3").count() > 0L)
    assert(StreamingOps.listSnapshotVersions(stateDir) === Seq(2L, 3L))
  }

  test("snapshot time travel reads any committed version; uncommitted dirs hidden") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tt_").toString
    def b(rows: (Long, String, Long)*) = rows.toDF("k", "s", "seq")
    StreamingOps.applyUpsertBatch(b((1L, "a", 1L)), 0L, Seq("k"), "seq", dir)
    StreamingOps.applyUpsertBatch(b((1L, "a2", 2L), (2L, "b", 1L)), 1L, Seq("k"), "seq", dir)
    // a crashed batch 5 wrote its dir but never flipped the marker
    b((9L, "ghost", 1L)).write.parquet(s"$dir/v5")
    assert(StreamingOps.listSnapshotVersions(dir) === Seq(0L, 1L))
    val v0 = StreamingOps.readSnapshotAt(spark, dir, 0L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(v0 === Map(1L -> "a"))
    val v1 = StreamingOps.readSnapshotAt(spark, dir, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(v1 === Map(1L -> "a2", 2L -> "b"))
    intercept[IllegalArgumentException] {
      StreamingOps.readSnapshotAt(spark, dir, 5L) // uncommitted
    }
    // retention: keep only the newest committed version
    assert(StreamingOps.vacuumSnapshots(dir, keepLast = 1) === Seq(0L))
    assert(StreamingOps.listSnapshotVersions(dir) === Seq(1L))
    assert(StreamingOps.readSnapshot(spark, dir).count() === 2L) // serving unaffected
    intercept[IllegalArgumentException] {
      StreamingOps.readSnapshotAt(spark, dir, 0L) // vacuumed away
    }
  }

  test("upsert sink drains a stream end-to-end through foreachBatch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsink_s_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_upsink_c_").toString
    val mem = MemoryStream[(Long, String, Long)]
    mem.addData((1L, "a", 1L), (2L, "b", 1L), (1L, "a2", 2L))
    StreamingOps.upsertSink(mem.toDF().toDF("k", "s", "seq"),
      Seq("k"), "seq", dir, ckpt)
    // second drain with the same checkpoint only sees the new rows
    mem.addData((2L, "b9", 3L), (4L, "d", 1L))
    StreamingOps.upsertSink(mem.toDF().toDF("k", "s", "seq"),
      Seq("k"), "seq", dir, ckpt)
    val snap = StreamingOps.readSnapshot(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(snap === Map(1L -> "a2", 2L -> "b9", 4L -> "d"))
  }

  test("stream-static enrichment joins each microbatch against the dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dim = Seq((100L, "GOLD"), (200L, "SILVER")).toDF("user_id", "tier")
    val q = enrichStatic(mem.toDF(), dim, Seq("user_id"))
      .select("event_id", "tier")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(sampleEvents.take(2): _*) // both user 100
      q.processAllAvailable()
      mem.addData(sampleEvents.drop(2): _*) // user 200, then 100 again
      q.processAllAvailable()
      // stateless: the query must carry NO state store rows
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
    val got = spark.table("enrich_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "GOLD"), (2L, "GOLD"), (3L, "SILVER"), (4L, "GOLD")))
  }

  test("association gate: cells fold idempotently; drained V equals one-shot") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("assoc_spec_").toString
    val b0 = Seq(("x", "u"), ("x", "u"), ("y", "w")).toDF("p", "q")
    val b1 = Seq(("x", "u"), ("y", "w"), ("y", "w")).toDF("p", "q")
    applyAssociationBatch(b0, 0L, "p", "q", stateDir)
    applyAssociationBatch(b1, 1L, "p", "q", stateDir)
    // a foreachBatch replay must be a no-op, not a double count
    applyAssociationBatch(b1, 1L, "p", "q", stateDir)
    val gate = associationGateResult(spark, stateDir).head()
    val direct = graft.ops.DataQuality
      .cramersV(b0.unionByName(b1), "p", "q").head()
    assert(gate.toSeq === direct.toSeq)
    assert(gate.getLong(4) === 1000000L) // perfect association
  }

  test("t-closeness gate: cells fold idempotently; drained audit equals one-shot") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("tcl_spec_").toString
    val b0 = Seq(("A", "flu"), ("A", "cold"), ("B", "flu")).toDF("zip", "dx")
    val b1 = Seq(("A", "cold"), ("B", "flu"), ("B", "flu")).toDF("zip", "dx")
    applyTClosenessBatch(b0, 0L, Seq("zip"), "dx", stateDir)
    applyTClosenessBatch(b1, 1L, Seq("zip"), "dx", stateDir)
    // a foreachBatch replay must be a no-op, not a double count
    applyTClosenessBatch(b1, 1L, Seq("zip"), "dx", stateDir)
    val gate = tClosenessGateResult(spark, stateDir, Seq("zip"), 0L)
      .collect().map(_.toSeq).sortBy(_.toString)
    val direct = graft.ops.DataQuality
      .tClosenessRisk(b0.unionByName(b1), Seq("zip"), "dx", 0L)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(gate.nonEmpty && gate === direct)
  }

  test("conformal gate: residual histograms fold idempotently; drained q-hat equals one-shot") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("conf_spec_").toString
    val b0 = Seq((1L, 101.0, 100.0), (2L, 103.0, 100.0), (3L, 105.0, 100.0),
      (4L, 102.0, 100.0), (5L, 104.0, 100.0)).toDF("id", "pred", "actual")
    val b1 = Seq((6L, 106.0, 100.0), (7L, 108.0, 100.0), (8L, 107.0, 100.0),
      (9L, 109.0, 100.0), (10L, 110.0, 100.0)).toDF("id", "pred", "actual")
    applyConformalBatch(b0, 0L, "pred", "actual", stateDir)
    applyConformalBatch(b1, 1L, "pred", "actual", stateDir)
    // a foreachBatch replay must be a no-op, not a double count
    applyConformalBatch(b1, 1L, "pred", "actual", stateDir)
    val test0 = Seq((99L, 50.0)).toDF("id", "pred")
    val gate = conformalGateResult(spark, stateDir, test0, "pred", 200000L).head()
    val direct = graft.ops.Experiment.conformalIntervals(
      b0.unionByName(b1), test0, "pred", "actual", 200000L).head()
    assert(gate.toSeq === direct.toSeq)
    assert(gate.getLong(2) === 9000000L) // k = ceil(11*0.8) = 9 -> 9th residual
  }

  test("cqr gate: signed-score histograms fold idempotently; drained q-hat equals one-shot") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("cqr_spec_").toString
    // fixed band [0, 10]; actuals straddle it so scores carry both signs
    val b0 = (5 to 9).map(i => (i.toLong, 0.0, 10.0, i.toDouble))
      .toDF("id", "lo", "hi", "actual")
    val b1 = (10 to 14).map(i => (i.toLong, 0.0, 10.0, i.toDouble))
      .toDF("id", "lo", "hi", "actual")
    applyCqrBatch(b0, 0L, "lo", "hi", "actual", stateDir)
    applyCqrBatch(b1, 1L, "lo", "hi", "actual", stateDir)
    // a foreachBatch replay must be a no-op, not a double count
    applyCqrBatch(b1, 1L, "lo", "hi", "actual", stateDir)
    val test0 = Seq((99L, 2.0, 8.0)).toDF("id", "lo", "hi")
    val gate = cqrGateResult(spark, stateDir, test0, "lo", "hi", 200000L).head()
    val direct = graft.ops.Experiment.cqrIntervals(
      b0.unionByName(b1), test0, "lo", "hi", "actual", 200000L).head()
    assert(gate.toSeq === direct.toSeq)
    assert(gate.getLong(3) === 3000000L) // k = 9 -> 9th signed score = 3
  }

  test("mw gate: value histograms fold idempotently; drained z equals one-shot two-sample U") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("mwg_spec_").toString
    val b0 = Seq(5.0, 6.0, 7.0).toDF("v")
    val b1 = Seq(6.0, 8.0, 9.0, 10.0).toDF("v")
    applyMwBatch(b0, 0L, "v", stateDir)
    applyMwBatch(b1, 1L, "v", stateDir)
    applyMwBatch(b1, 1L, "v", stateDir) // replay must be a no-op
    val ref = Seq(1.0, 2.0, 3.0, 6.0).toDF("v")
    val gate = mwGateResult(spark, stateDir,
      graft.ops.Experiment.mwMicroHistogram(ref, "v")).head()
    val oneShot = graft.ops.Experiment.mannWhitney(
      (Seq(1.0, 2.0, 3.0, 6.0).map(("A", _)) ++
        Seq(5.0, 6.0, 7.0, 6.0, 8.0, 9.0, 10.0).map(("B", _))).toDF("g", "v"),
      "g", "v", "A", "B").head()
    assert(gate.toSeq === oneShot.toSeq)
  }

  test("coverage gate: open islands splice across seams; drained equals one-shot") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("covg_spec_").toString
    def ns(sec: Long) = sec * 1000000000L
    // user 1's island [0,15) spans the seam: [0,10) in batch 0 extends
    // with [5,15) in batch 1; then a separate island [40,50).
    // user 2 closes an island in batch 0 and opens another in batch 1.
    // user 3 exists only in batch 0 (carry-only key must be unchanged).
    val b0 = Seq((1L, ns(0)), (2L, ns(100)), (3L, ns(7)))
      .toDF("user_id", "ts")
    val b1 = Seq((1L, ns(5)), (1L, ns(40)), (2L, ns(200)), (4L, ns(0)))
      .toDF("user_id", "ts")
    applyCoverageBatch(b0, 0L, "user_id", 10L, stateDir)
    applyCoverageBatch(b1, 1L, "user_id", 10L, stateDir)
    applyCoverageBatch(b1, 1L, "user_id", 10L, stateDir) // replay no-op
    val gate = coverageGateResult(spark, stateDir)
      .orderBy("key").collect().map(_.toSeq)
    val direct = graft.ext.Events.coverage(
        b0.unionByName(b1), "user_id", lenSec = 10L)
      .orderBy("user_id").collect().map(_.toSeq)
    assert(gate.toSeq === direct.toSeq)
    // and the seam case concretely: user 1 covered [0,15)+[40,50) = 25
    assert(gate(0) === Seq(1L, 3L, 2L, 25L, 50L, 25L))
  }

  test("twap gate: bridge across batch seams; drained equals one-shot twap") {
    import spark.implicits._
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val stateDir = java.nio.file.Files.createTempDirectory("twapg_spec_").toString
    // key A: v=10 @0s, v=20 @10s | seam | v=50 @40s  (ts_twap fixture:
    // the 20 must be held 30s ACROSS the seam -> twap 17.5)
    // key B appears only in batch 1 (no earlier state to bridge from)
    val b0 = Seq(("A", t(0), 1L, 10.0), ("A", t(10), 2L, 20.0))
      .toDF("k", "t", "id", "v")
    val b1 = Seq(("A", t(40), 3L, 50.0), ("B", t(40), 4L, 7.0))
      .toDF("k", "t", "id", "v")
    applyTwapBatch(b0, 0L, "k", "t", "id", "v", stateDir)
    applyTwapBatch(b1, 1L, "k", "t", "id", "v", stateDir)
    applyTwapBatch(b1, 1L, "k", "t", "id", "v", stateDir) // replay no-op
    val gate = twapGateResult(spark, stateDir)
      .orderBy("key").collect().map(_.toSeq)
    val direct = graft.ops.TimeSeries
      .twap(b0.unionByName(b1), "k", "t", "id", "v")
      .orderBy("key").collect().map(_.toSeq)
    assert(gate.toSeq === direct.toSeq)
    assert(gate(0) === Seq("A", 3L, 40000000L, 17500000L))
  }

  test("concurrently returns results in order and fails fast, cancelling a running sibling") {
    assert(concurrently(() => 1, () => 2, () => 3) === Seq(1, 2, 3))
    val sc = spark.sparkContext
    def waitFor(cond: => Boolean): Boolean = {
      val end = System.nanoTime() + 20000000000L
      while (!cond && System.nanoTime() < end) Thread.sleep(20)
      cond
    }
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException](concurrently(
      () => sc.parallelize(Seq(1), 1).map { x => Thread.sleep(60000); x }.count(),
      () => {
        // fail only once the sibling's sleeping job is running
        assert(waitFor(sc.statusTracker.getActiveJobIds.nonEmpty))
        throw new IllegalStateException("boom")
      }))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(ex.getMessage === "boom")
    assert(secs < 20, s"rethrown after $secs s")
    // the status store hears of the job's end through the async listener bus
    assert(waitFor(sc.statusTracker.getActiveJobIds.isEmpty),
      s"jobs still active: ${sc.statusTracker.getActiveJobIds.mkString(",")}")
  }
}
