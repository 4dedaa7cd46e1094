package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("triangleCounts on a known small graph") {
    // K4 on {1,2,3,4} (every node in C(3,2)=3 triangles) plus a
    // pendant edge 4-5 (node 5 in none) and an isolated edge 6-7
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L)).toDF("u", "v")
    val out = Graph.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts fails loud when a node id breaks the BIGINT pack bound") {
    // the (deg, id) -> d*2^32 + node pack silently reorders past 2^31;
    // the guard must throw, not return wrong counts
    val big = 1L << 31
    val edges = Seq((1L, 2L), (1L, big), (2L, big)).toDF("u", "v")
    val ex = intercept[IllegalArgumentException] {
      Graph.triangleCounts(edges).collect()
    }
    assert(ex.getMessage.contains("2^31"))
    // negative ids break the pack the same way
    val neg = Seq((-1L, 2L), (-1L, 3L), (2L, 3L)).toDF("u", "v")
    intercept[IllegalArgumentException] {
      Graph.triangleCounts(neg).collect()
    }
  }

  test("triangleCounts matches a brute-force enumeration on a random graph") {
    val rnd = new scala.util.Random(42)
    val edgeSet = (1 to 300).map { _ =>
      val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    val expected = {
      val es = edgeSet.toSet
      val counts = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      val nodes = edgeSet.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      for {
        i <- nodes; j <- nodes if j > i && es((i, j))
        k <- nodes if k > j && es((i, k)) && es((j, k))
      } { counts(i) += 1; counts(j) += 1; counts(k) += 1 }
      counts.toMap
    }
    val out = Graph.triangleCounts(edgeSet.toDF("u", "v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === expected)
  }

  test("triangleCounts broadcastEdges=false: identical counts via a shuffled closing join") {
    // the 100 TB configuration — edge list too big for executor memory,
    // so the closing join must run as a SHUFFLE join. Kill broadcast at
    // both plan time and AQE runtime so the only way a
    // BroadcastExchange can appear is the operator's own hint.
    val edgeSet = {
      val rnd = new scala.util.Random(7)
      (1 to 400).map { _ =>
        val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
    }
    val edges = edgeSet.toDF("u", "v")
    val viaBroadcast = Graph.triangleCounts(edges, broadcastEdges = Some(true))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = confs.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach(spark.conf.set(_, "-1"))
    try {
      val df = Graph.triangleCounts(edges, broadcastEdges = Some(false))
      val viaShuffle = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaShuffle === viaBroadcast, "fallback must count the same triangles")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"broadcastEdges=false must not broadcast anything:\n$plan")
      // and the explicit fast path still forces the broadcast under the
      // same thresholds — proving the flag, not the conf, decides
      val hinted = Graph.triangleCounts(edges, broadcastEdges = Some(true))
      hinted.collect()
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("labelPropagation: two triangles with a bridge settle to two communities") {
    // triangles {1,2,3} and {4,5,6} joined by bridge 3-4; synchronous
    // min-tie rounds hand-traced: after round 3 the left triangle
    // carries label 1 and the right carries label 3
    // the (5,5) self-loop and (2,3) duplicate must not distort votes
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 3L), (5L, 5L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("u", "v")
    val got = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation matches a naive synchronous reference on a random graph") {
    // seeded sparse graph; reference replays the same min-tie
    // synchronous rounds in plain Scala
    val rnd = new scala.util.Random(7)
    val edges0 = (1 to 120).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = edges0.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    var lab = adj.keys.map(n => n -> n).toMap
    (1 to 4).foreach { _ =>
      lab = adj.map { case (n, ns) =>
        val counts = ns.map(lab).groupBy(identity).view.mapValues(_.size)
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val got = Graph.labelPropagation(edges0.toDF("u", "v"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === lab)
  }

  test("bfsDistances: layered distances with early drain") {
    // path 1-2-3-4-5 plus shortcut 1-4: dist(4)=1, dist(5)=2, dist(3)=2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L)).toDF("u", "v")
    val out = Graph.bfsDistances(edges, source = 1L, maxHops = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
  }

  test("bfsDistances respects the hop bound and skips unreachable nodes") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L)).toDF("u", "v")
    val out = Graph.bfsDistances(edges, source = 1L, maxHops = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4 beyond bound; 8,9 disconnected
  }

  test("ssspDistances prefers a cheap multi-hop route over a direct edge") {
    // 1-4 direct costs 10; 1-2-3-4 costs 1+1+1 = 3
    val edges = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("u", "v", "w")
    val out = Graph.ssspDistances(edges, source = 1L, maxRounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("ssspDistances after k rounds is the exact min over <= k-edge paths") {
    val edges = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("u", "v", "w")
    // 1 round: only direct edges from the source
    val r1 = Graph.ssspDistances(edges, source = 1L, maxRounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
    // 2 rounds: node 4 still best via the direct edge (1-2-3-4 needs 3)
    val r2 = Graph.ssspDistances(edges, source = 1L, maxRounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 10L))
  }

  test("ssspDistances: a settled node re-enters the frontier on improvement") {
    // 1-5 cost 100 settles round 1; chain 1-2-3-4-5 (cost 4) improves it
    // at round 4, and 5's neighbor 6 must then improve at round 5
    val edges = Seq((1L, 5L, 100L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L)).toDF("u", "v", "w")
    val out = Graph.ssspDistances(edges, source = 1L, maxRounds = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) === 4L && out(6L) === 5L)
  }

  test("iterative operators: Spark jobs for build + collect (job-count guard)") {
    // small fixed graphs; each count is build + collect in the test
    // session (local[4], 4 shuffle partitions, AQE on)
    val kc = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("u", "v")
    val (core, kJobs) = jobsOf(Graph.kCore(kc, 2).collect())
    assert(core.map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    // the edge count, three peel rounds (edge 5-6, edge 4-5, then none)
    // and the collect
    assert(kJobs.size === 16, s"kCore: ${kJobs.size} jobs")
    val bfs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L)).toDF("u", "v")
    val (_, bJobs) = jobsOf(Graph.bfsDistances(bfs, source = 1L, maxHops = 10).collect())
    // the one-row seed is used unfenced: 15 jobs with its eager fence
    assert(bJobs.size === 14, s"bfsDistances: ${bJobs.size} jobs")
    val sssp = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)).toDF("u", "v", "w")
    val (_, sJobs) = jobsOf(Graph.ssspDistances(sssp, source = 1L, maxRounds = 5).collect())
    // 27 with the eager seed fence: the fence's job, and one more the
    // first round's joins pay over a checkpointed seed
    assert(sJobs.size === 25, s"ssspDistances: ${sJobs.size} jobs")
    val lpa = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 3L), (5L, 5L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("u", "v")
    val (_, lJobs) = jobsOf(Graph.labelPropagation(lpa, rounds = 3).collect())
    assert(lJobs.size === 13, s"labelPropagation: ${lJobs.size} jobs")
  }

  test("kCore over no edges runs no peel round (job-count guard)") {
    val (core, jobs) = jobsOf(Graph.kCore(Seq.empty[(Long, Long)].toDF("u", "v"), 2).collect())
    assert(core.isEmpty)
    // the edge count only: a round over zero edges cost one more job
    assert(jobs.size === 1, s"kCore: ${jobs.size} jobs")
  }

  test("kCore past maxRounds throws IllegalArgumentException with its message") {
    // a 10-node path loses its two end edges per round: 2 rounds are too few
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("u", "v")
    val ex = intercept[IllegalArgumentException](Graph.kCore(path, 2, maxRounds = 2).collect())
    assert(ex.getMessage === "requirement failed: k-core peel did not converge in 2 " +
      "rounds (pathological chain?) — raise maxRounds")
  }
}
