package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ext.Events

/** Randomized batteries for the ordering-sensitive operators:
  * sessionization boundary semantics (a gap of EXACTLY gapSeconds
  * continues the session; only strictly-greater gaps split — the
  * boundary the streaming oracle divergence note warns about) and
  * global row numbering (the distributed range-partition + offset
  * scheme must emit a permutation of 1..n that respects the sort order
  * even when duplicate keys straddle range-partition boundaries).
  */
class OrderingPropertySpec extends SparkTestBase {
  import spark.implicits._

  test("sessionize == brute force incl. exact-gap boundaries over 15 tapes") {
    (0 until 15).foreach { scenario =>
      val rnd = new scala.util.Random(scenario)
      val gap = 10
      // timestamps biased so consecutive deltas hit exactly `gap` often
      val events = (0 until 120).map { i =>
        val user = rnd.nextInt(4).toLong
        val t = rnd.nextInt(12) * gap / 2 + rnd.nextInt(3) // many == gap deltas
        (i.toLong, t.toLong * 1000000000L, user, "e", 1.0)
      }
      val df = events.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_seconds(col("ts") / 1000000000L))
      val got = Events.sessionize(df, gapSeconds = gap)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // brute force: sort per user by (sec, event_id), split on delta > gap
      val brute = events.groupBy(_._3).flatMap { case (user, evs) =>
        val sorted = evs.map(e => (e._2 / 1000000000L, e._1)).sortBy(identity)
        val sessions = scala.collection.mutable.ArrayBuffer(
          scala.collection.mutable.ArrayBuffer(sorted.head))
        sorted.tail.foreach { e =>
          if (e._1 - sessions.last.last._1 > gap)
            sessions += scala.collection.mutable.ArrayBuffer(e)
          else sessions.last += e
        }
        sessions.map(s => (user, s.head._1, s.last._1, s.length.toLong))
      }.toSet
      assert(got === brute, s"scenario $scenario (gap=$gap)")
    }
  }

  test("globalRowNumber: permutation of 1..n respecting sort order, duplicates included") {
    (0 until 10).foreach { scenario =>
      val rnd = new scala.util.Random(scenario)
      // heavy duplication: only 8 distinct keys across 500 rows, so
      // equal keys straddle range-partition boundaries by construction
      val rows = (0 until 500).map(i => (rnd.nextInt(8).toLong, i.toLong))
      val df = rows.toDF("k", "id").repartition(9)
      val out = withShufflePartitions(5)(Relational.globalRowNumber(df, sortCols = Seq("k"))
        .collect()).map(r => (r.getLong(0), r.getLong(2))) // (k, row_num)
      val nums = out.map(_._2).sorted
      assert(nums.toSeq === (1L to 500L), s"scenario $scenario: not a permutation")
      // order-respecting: ascending row numbers never descend in key
      val byNum = out.sortBy(_._2).map(_._1)
      assert(byNum.zip(byNum.tail).forall { case (a, b) => a <= b },
        s"scenario $scenario: row numbers violate the sort order")
      // fully deterministic variant: a unique tiebreak column makes the
      // assignment a pure function of the data
      val a = withShufflePartitions(5)(Relational.globalRowNumber(df, Seq("k", "id"))
        .collect()).map(r => (r.getLong(1), r.getLong(2))).toSet
      val b = withShufflePartitions(7)(Relational.globalRowNumber(df.repartition(3), Seq("k", "id"))
        .collect()).map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(a === b, s"scenario $scenario: unique-key numbering not partitioning-independent")
    }
  }
}
