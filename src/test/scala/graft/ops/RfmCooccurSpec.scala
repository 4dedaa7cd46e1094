package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Round-10 batch: RFM segmentation (hand-checkable quintile splits,
  * incl. the uneven and n < tiles NTILE edges the hand-rolled
  * global-row-number split must match) and item-item co-occurrence
  * ranking (brute-force cosine² equivalence). */
class RfmCooccurSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(day: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")

  test("rfmSegments: hand case with uneven NTILE split (n=7, tiles=3)") {
    // 7 customers, one order each on distinct days with distinct spend:
    // every dimension is a pure permutation, so tiles follow the SQL
    // NTILE split 3|2|2 over each metric's total order.
    val orders = (1 to 7).map { i =>
      (i.toLong, ts(i), i * 100.0) // customer i ordered on day i, spent i*100
    }.toDF("cust", "dt", "amt")
    val got = Relational.rfmSegments(orders, "cust", "dt", "amt", tiles = 3)
      .select("cust", "recency_days", "n_orders", "cents", "r", "f", "m", "rfm")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    // recency: max date = day 7; cust 1 recency 6 (stalest) ... cust 7 = 0
    assert(got.map(_._2).toSeq == Seq(6L, 5L, 4L, 3L, 2L, 1L, 0L))
    // r orders by recency DESC -> custs 1,2,3 tile1 | 4,5 tile2 | 6,7 tile3
    assert(got.map(_._5).toSeq == Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L))
    // f: all have 1 order; ties broken by cust asc -> same 3|2|2 split
    assert(got.map(_._6).toSeq == Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L))
    // m orders by cents asc -> custs 1,2,3 | 4,5 | 6,7
    assert(got.map(_._7).toSeq == Seq(1L, 1L, 1L, 2L, 2L, 3L, 3L))
    assert(got.map(_._8).toSeq == Seq(111L, 111L, 111L, 222L, 222L, 333L, 333L))
  }

  test("rfmSegments: n < tiles degrades to one row per tile") {
    val orders = Seq((1L, ts(1), 10.0), (2L, ts(2), 20.0), (3L, ts(3), 30.0))
      .toDF("cust", "dt", "amt")
    val got = Relational.rfmSegments(orders, "cust", "dt", "amt", tiles = 5)
      .select("cust", "m").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L)) // tiles 4,5 empty
  }

  test("rfmSegments: frequency and monetary aggregate across orders") {
    val orders = Seq(
      (1L, ts(1), 100.0), (1L, ts(5), 100.0), // 2 orders, 20000 cents, recency 4
      (2L, ts(9), 50.0)                       // 1 order, 5000 cents, recency 0
    ).toDF("cust", "dt", "amt")
    val got = Relational.rfmSegments(orders, "cust", "dt", "amt", tiles = 2)
      .select("cust", "recency_days", "n_orders", "cents", "r", "f", "m")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L, 2L, 20000L, 1L, 2L, 2L),
      (2L, 0L, 1L, 5000L, 2L, 1L, 1L)))
  }

  test("rfmSegments' global-row-number split == Spark's own ntile (seeded sizes)") {
    // second reference: the SQL-standard NTILE the oracle uses is also
    // what Spark's window ntile implements — the hand-rolled split off
    // globalRowNumber must agree at every n (incl. n % tiles != 0)
    for (n <- Seq(1, 4, 5, 23, 97)) {
      val orders = (1 to n).map(i => (i.toLong, ts(1 + i % 28), i * 10.0))
        .toDF("cust", "dt", "amt")
      val got = Relational.rfmSegments(orders, "cust", "dt", "amt", tiles = 5)
        .select("cust", "m").as[(Long, Long)].collect().toMap
      val expect = orders
        .select(col("cust"), org.apache.spark.sql.functions.ntile(5).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(round(col("amt") * 100).cast("long"), col("cust"))).as("m"))
        .as[(Long, Int)].collect().map { case (c, m) => c -> m.toLong }.toMap
      assert(got === expect, s"n=$n")
    }
  }

  test("rfmSegments: job count of build + collect") {
    val orders = (1 to 60).map(i => ((i % 23).toLong, ts(1 + i % 28), i * 10.0))
      .toDF("cust", "dt", "amt")
    val (got, jobs) = jobsOf(
      Relational.rfmSegments(orders, "cust", "dt", "amt", tiles = 5).collect())
    assert(got.length === 23)
    // three chained rank paths, their row counts read as literals
    assert(jobs.size === 16, jobs.mkString(", "))
  }

  test("conversionSurvival: hand-checkable KM curve with event + censor mix") {
    def at(day: Int): java.sql.Timestamp =
      new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
          + day * 86400000L)
    // u1, u2 convert on day 1; u4 converts on day 3 (and defines the
    // corpus max); u3 never converts -> censored at day 3.
    // S(1) = (4-2)/4 = 0.5 ; S(3) = 0.5 * (2-1)/2 = 0.25
    val ev = Seq(
      (1L, "start", 0), (1L, "big", 1),
      (2L, "start", 0), (2L, "big", 1),
      (3L, "start", 0), (3L, "idle", 2),
      (4L, "start", 0), (4L, "big", 3)
    ).map { case (u, t, d) => (u, t, at(d)) }.toDF("user_id", "event_type", "ts")
    val got = graft.ext.Events.conversionSurvival(ev, "big")
      .select("t_day", "n_risk", "n_events", "n_censored", "surv_micro")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 4L, 2L, 0L, 500000L), (3L, 2L, 1L, 1L, 250000L)))
  }

  test("survivalCurve: a day where everyone remaining churns pins survival to 0") {
    def at(day: Int): java.sql.Timestamp =
      new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
          + day * 86400000L)
    // corpus max = day 30 (u3 active at the end -> censored under the
    // 7-day gap); u1, u2 churn with 1-day lifetimes: day-1 risk set
    // {u1,u2} all churn -> S(1) = 0 exactly, never via ln(0)
    val ev = Seq(
      (1L, "a", 0), (1L, "a", 1),
      (2L, "a", 0), (2L, "a", 1),
      (3L, "a", 0), (3L, "a", 30)
    ).map { case (u, t, d) => (u, t, at(d)) }.toDF("user_id", "event_type", "ts")
    val got = graft.ext.Events.survivalCurve(ev, censorGapSec = 7L * 86400L)
      .select("t_day", "n_risk", "n_events", "n_censored", "surv_micro")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // day 1: risk 3? No — u3's lifetime is 30 days, so at day 1 risk =
    // {u1,u2,u3} = 3, events 2 -> S = 1/3; day 30: risk 1, censored
    assert(got === Seq(
      (1L, 3L, 2L, 0L, 333333L), (30L, 1L, 0L, 1L, 333333L)))
  }

  test("survival state merge == single-pass state (monoid identity)") {
    def at(day: Int): java.sql.Timestamp =
      new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
          + day * 86400000L)
    val rnd = new scala.util.Random(21L)
    val ev = (0 until 300).map { i =>
      (rnd.nextInt(40).toLong, if (rnd.nextInt(5) == 0) "conv" else "x",
        at(rnd.nextInt(25)), i.toLong)
    }.toDF("user_id", "event_type", "ts", "event_id")
    val merged = graft.ext.Events.mergeSurvivalState(
      graft.ext.Events.survivalState(ev.filter(col("event_id") % 3 === 0), "conv"),
      graft.ext.Events.survivalState(ev.filter(col("event_id") % 3 =!= 0), "conv"))
    val a = graft.ext.Events.survivalFromState(merged)
      .collect().map(_.toSeq).toSet
    val b = graft.ext.Events.conversionSurvival(ev, "conv")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("itemCooccurrenceTopK == brute-force cosine ranking on a seeded basket set") {
    val rnd = new scala.util.Random(5L)
    val rows = (0 until 400).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(25).toLong))
    val df = rows.toDF("basket", "item")
    val k = 3
    val got = Relational.itemCooccurrenceTopK(df, "basket", "item", k, minCo = 2L)
      .select("item", "rank", "nbr", "score_micro")
      .as[(Long, Long, Long, Long)].collect().toSet
    // brute force over the distinct (basket, item) pairs
    val bi = rows.distinct
    val n = bi.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val co = bi.groupBy(_._1).values.flatMap { xs =>
      val items = xs.map(_._2).distinct.sorted
      for (a <- items; b <- items if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sym = co.filter(_._2 >= 2L).toSeq.flatMap { case ((a, b), c) =>
      Seq((a, b, c), (b, a, c)) }
    val expect = sym.groupBy(_._1).toSeq.flatMap { case (item, ns) =>
      ns.map { case (_, nbr, c) =>
          (item, nbr, c * c * 1000000L / (n(item) * n(nbr))) }
        .sortBy { case (_, nbr, sc) => (-sc, -nbr) }
        .take(k).zipWithIndex
        .map { case ((_, nbr, sc), i) => (item, i + 1L, nbr, sc) }
    }.toSet
    assert(got === expect)
    assert(got.nonEmpty)
  }
}
