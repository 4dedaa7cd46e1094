package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Property battery for the round-17 shared machinery:
  * [[Relational.cumBeforeByKey]] — the range-partitioned strictly-before
  * cumulative every rank/quantile/conformal operator rides. Random
  * histograms compare against an in-JVM prefix sum across partition
  * counts, key distributions, and multi-column count sets; the
  * partition-boundary stitching is exactly what a bug would corrupt. */
class CumBeforeByKeySpec extends SparkTestBase {
  import spark.implicits._

  private def reference(rows: Seq[(Long, Long, Long)])
      : Map[Long, (Long, Long)] = {
    // (key, cntA, cntB) -> key -> (cumbA, cumbB): sums over strictly
    // smaller keys
    val sorted = rows.sortBy(_._1)
    var (ca, cb) = (0L, 0L)
    val out = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    sorted.foreach { case (k, a, b) =>
      out(k) = (ca, cb); ca += a; cb += b
    }
    out.toMap
  }

  // distinct key -> the next-smaller key (None on the smallest)
  private def prevReference(keys: Seq[Long]): Map[Long, Option[Long]] = {
    val sorted = keys.distinct.sorted
    sorted.zip(None +: sorted.map(Some(_))).toMap
  }

  private def prevOf(r: org.apache.spark.sql.Row): Option[Long] =
    Option(r.getAs[java.lang.Long]("__prev_k")).map(_.longValue)

  test("random histograms: cumb/tot match the in-JVM prefix sum for every cell") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val n = 50 + rnd.nextInt(400)
      // keys drawn sparse-and-clustered so range partitions land
      // boundaries inside tie-free AND dense regions
      val rows = (1 to n).map { _ =>
        val k = (rnd.nextInt(40) * 1000 + rnd.nextInt(3)).toLong
        (k, rnd.nextInt(5).toLong, rnd.nextInt(100).toLong)
      }.groupBy(_._1).map { case (k, g) =>
        (k, g.map(_._2).sum, g.map(_._3).sum)
      }.toSeq
      val want = reference(rows)
      val wantPrev = prevReference(rows.map(_._1))
      val wantTotA = rows.map(_._2).sum
      val wantTotB = rows.map(_._3).sum
      val (cum, totals) = Relational.cumBeforeByKey(
        rows.toDF("k", "a", "b"), "k", Seq("a", "b"))
      assert(totals === Seq(wantTotA, wantTotB), s"trial $trial returned totals")
      val got = cum.collect().map(r => (r.getAs[Long]("k"),
          r.getAs[Long]("__cumb_a"), r.getAs[Long]("__cumb_b"),
          r.getAs[Long]("__tot_a"), r.getAs[Long]("__tot_b"), prevOf(r)))
      assert(got.length === rows.length, s"trial $trial row count")
      got.foreach { case (k, cba, cbb, ta, tb, prev) =>
        assert((cba, cbb) === want(k), s"trial $trial key $k")
        assert((ta, tb) === (wantTotA, wantTotB), s"trial $trial totals")
        assert(prev === wantPrev(k), s"trial $trial key $k predecessor")
      }
    }
  }

  test("single cell, empty frame, and zero-count columns behave") {
    val one = Relational.cumBeforeByKey(
      Seq((7L, 3L, 0L)).toDF("k", "a", "b"), "k", Seq("a", "b"))._1.head()
    assert((one.getAs[Long]("__cumb_a"), one.getAs[Long]("__cumb_b"),
      one.getAs[Long]("__tot_a"), one.getAs[Long]("__tot_b")) ===
      (0L, 0L, 3L, 0L))
    val (empty, emptyTotals) = Relational.cumBeforeByKey(
      Seq.empty[(Long, Long)].toDF("k", "a"), "k", Seq("a"))
    assert(empty.count() === 0L && emptyTotals === Seq(0L))
  }

  test("duplicate keys: every duplicate row gets the same strictly-before sum") {
    // keys intentionally repeated across rows (NOT pre-aggregated) —
    // the RANGE-frame cumulative must hand every duplicate of a key
    // the identical sum over strictly smaller keys, independent of
    // intra-partition row order among equal keys
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { _ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(5).toLong, rnd.nextInt(9).toLong)
    }
    val byKey = rows.groupBy(_._1).map { case (k, g) =>
      (k, g.map(_._2).sum, g.map(_._3).sum) }.toSeq
    val want = reference(byKey)
    val got = Relational.cumBeforeByKey(
      rows.toDF("k", "a", "b"), "k", Seq("a", "b"))._1
      .collect().map(r => (r.getAs[Long]("k"),
        r.getAs[Long]("__cumb_a"), r.getAs[Long]("__cumb_b")))
    assert(got.length === rows.length)
    got.foreach { case (k, cba, cbb) =>
      assert((cba, cbb) === want(k), s"key $k")
    }
  }

  test("partition-count invariance: 1, 4, and 32 shuffle partitions agree") {
    val rows = (1L to 300L).map(i => (i * 7 % 101, 1L)).groupBy(_._1)
      .map { case (k, g) => (k, g.map(_._2).sum) }.toSeq
    def run(parts: String, data: Seq[(Long, Long)])
        : (Map[Long, (Long, Long, Option[Long])], Seq[Long]) =
      withShufflePartitions(parts.toInt) {
        val (cum, totals) =
          Relational.cumBeforeByKey(data.toDF("k", "a"), "k", Seq("a"))
        (cum.collect().map(r => r.getAs[Long]("k") ->
          (r.getAs[Long]("__cumb_a"), r.getAs[Long]("__tot_a"), prevOf(r)))
          .toMap, totals)
      }
    val want = reference(rows.map { case (k, a) => (k, a, 0L) })
    val wantPrev = prevReference(rows.map(_._1))
    val r1 = run("1", rows)
    assert(r1._2 === Seq(300L))
    r1._1.foreach { case (k, (cb, _, prev)) =>
      assert(cb === want(k)._1 && prev === wantPrev(k), s"key $k")
    }
    assert(run("4", rows) === r1 && run("32", rows) === r1)
    // 32 range partitions over 5 keys: most partitions are empty, so a
    // partition's first row must take its predecessor from the last
    // NON-EMPTY partition before it
    val few = Seq((3L, 2L), (10L, 1L), (11L, 4L), (40L, 1L), (90L, 5L))
    val (got, tot) = run("32", few)
    assert(tot === Seq(13L))
    assert(got === Map(3L -> (0L, 13L, None), 10L -> (2L, 13L, Some(3L)),
      11L -> (3L, 13L, Some(10L)), 40L -> (7L, 13L, Some(11L)),
      90L -> (8L, 13L, Some(40L))))
  }

  test("a __pid filter on cumBeforeByRange is pushed below the window") {
    val rows = (1L to 200L).map(i => (i, 1L))
    withShufflePartitions(4) {
      val (cum, parts) = Relational.cumBeforeByRange(rows.toDF("k", "a"), "k", Seq("a"))
      assert(parts.map(_._2.head).sum === 200L && parts.size > 1)
      val (pid, Vector(sub)) = parts(1)
      val one = cum.filter(col("__pid") === pid)
      // every Window's input is already the one partition
      val windows = one.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
      assert(windows.nonEmpty && windows.forall(_.child.exists {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) =>
          c.references.exists(_.name == "__pid")
        case _ => false
      }), one.queryExecution.optimizedPlan.toString)
      val got = one.collect().map(_.getAs[Long]("__cumb_a")).sorted
      assert(got.length === sub && got.head === parts(0)._2.head)
    }
  }

  test("job counts: KS, W1, ROC-AUC and conformal build + collect") {
    // every Spark job of building AND collecting each operator, counted
    // by a listener (the DedupSpec guard); pinned so an extra
    // control-plane action or an unfenced re-scan shows up
    val rnd = new scala.util.Random(11)
    val ref = Seq.fill(300)(rnd.nextInt(50).toDouble).toDF("v")
    val cur = Seq.fill(200)((rnd.nextInt(50) + rnd.nextInt(10)).toDouble).toDF("v")
    val scored = Seq.fill(300)((rnd.nextInt(40).toDouble, rnd.nextInt(2)))
      .toDF("s", "y")
    val calib = Seq.fill(400)((100.0 + rnd.nextInt(200), 100.0))
      .toDF("pred", "actual")
    val test0 = (1L to 5L).map(i => (i, i.toDouble)).toDF("id", "pred")
    def jobs(body: => Any): Int = jobsOf(body)._2.size
    val got = Seq(
      "ksDrift" -> jobs(DataQuality.ksDrift(ref, cur, "v").collect()),
      "w1Drift" -> jobs(DataQuality.w1Drift(ref, cur, "v").collect()),
      "rocAuc" -> jobs(DataQuality.rocAuc(scored, "s", "y").collect()),
      "conformalIntervals" -> jobs(Experiment.conformalIntervals(
        calib, test0, "pred", "actual").collect()))
    assert(got === Seq("ksDrift" -> 8, "w1Drift" -> 8, "rocAuc" -> 8,
      "conformalIntervals" -> 8))
  }
}
