package graft.ops

import graft.SparkTestBase

class SkylineSpec extends SparkTestBase {
  import spark.implicits._

  private def brute(pts: Seq[(Int, Double)]): Set[(Int, Double, Long)] = {
    def dominated(p: (Int, Double)) = pts.exists(q =>
      q._1 >= p._1 && q._2 >= p._2 && (q._1 > p._1 || q._2 > p._2))
    pts.filterNot(dominated).groupBy(identity).view
      .map { case (p, g) => (p._1, p._2, g.size.toLong) }.toSet
  }

  private def run(pts: Seq[(Int, Double)], parts: Int = 4) =
    withShufflePartitions(parts)(Relational.skylineMax2D(pts.toDF("x", "y"), "x", "y")
      .collect()).map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet

  test("hand case: dominated points drop, ties on the frontier both count") {
    val pts = Seq((1, 9.0), (2, 9.0), (3, 5.0), (3, 5.0), (2, 1.0), (1, 10.0))
    // (1,9) dominated by (2,9); (2,1) by (3,5); frontier: (1,10), (2,9), (3,5)x2
    assert(run(pts) === Set((1, 10.0, 1L), (2, 9.0, 1L), (3, 5.0, 2L)))
    assert(run(pts) === brute(pts))
  }

  test("matches the quadratic dominance definition on random data") {
    val rnd = new scala.util.Random(19)
    val pts = Seq.fill(400)((rnd.nextInt(30), rnd.nextInt(100).toDouble))
    assert(run(pts) === brute(pts))
  }

  test("control-plane floors hold across many range partitions") {
    val rnd = new scala.util.Random(23)
    val pts = Seq.fill(500)((rnd.nextInt(200), rnd.nextInt(1000).toDouble))
    assert(run(pts, parts = 8) === brute(pts))
  }

  test("frontier is a strictly decreasing staircase in y as x ascends") {
    val rnd = new scala.util.Random(29)
    val pts = Seq.fill(300)((rnd.nextInt(50), rnd.nextInt(500).toDouble))
    val f = run(pts).toSeq.sortBy(_._1)
    f.sliding(2).foreach {
      case Seq((x1, y1, _), (x2, y2, _)) => assert(x1 < x2 && y1 > y2)
      case _ =>
    }
  }
}
