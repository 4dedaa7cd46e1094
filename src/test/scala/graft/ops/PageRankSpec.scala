package graft.ops

import graft.SparkTestBase

class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  /** Driver-side reference of the identical integer recurrence. */
  private def reference(edges: Seq[(Long, Long)], iters: Int, r0: Long): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = 15L * r0 / 100
    var rank = nodes.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val inbound = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      nodes.foreach(n => inbound(n) += 0L) // self-loop keeps every node
      e.foreach { case (s, d) => inbound(d) += rank(s) / deg(s) }
      rank = inbound.map { case (n, s) => n -> (base + 85L * s / 100) }.toMap
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.run(edges.toDF("src", "dst"), iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches the integer recurrence on a hub-and-spoke graph") {
    // spokes all point at the hub; hub points back at one spoke
    val edges = (2L to 10L).map(_ -> 1L) :+ (1L -> 2L)
    assert(run(edges, 5) === reference(edges, 5, 1000000000L))
  }

  test("a no-inbound node survives every round at base-rank decay") {
    val edges = Seq(7L -> 1L, 1L -> 2L, 2L -> 1L)
    val got = run(edges, 4)
    val ref = reference(edges, 4, 1000000000L)
    assert(got === ref)
    assert(got.contains(7L), "dangling-source node must stay in the frame")
    // node 7 receives nothing: rank = base after round 1, then fixed
    assert(got(7L) === 150000000L)
  }

  test("duplicate edge rows do not double-count (distinct contract)") {
    val once = run(Seq(1L -> 2L, 2L -> 1L), 3)
    val dup = run(Seq(1L -> 2L, 1L -> 2L, 2L -> 1L), 3)
    assert(once === dup)
  }

  test("resume from persisted state equals the one-session two-phase schedule") {
    // phase 1: 3 rounds on the base graph; phase 2: 2 rounds on the
    // union after a delta batch adds node 9 and rewires 4
    val base = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L)
    val delta = Seq(9L -> 1L, 1L -> 9L, 4L -> 3L)
    val all = base ++ delta
    val dir = java.nio.file.Files.createTempDirectory("pr_state_").toString
    val stateDf = PageRank.run(base.toDF("src", "dst"), iterations = 3)
    graft.etl.Sinks.parquetDir(stateDf, dir)
    val got = PageRank.resume(all.toDF("src", "dst"),
      spark.read.parquet(dir), iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: the same schedule without any persistence round-trip
    val r0 = 1000000000L
    val phase1 = reference(base, 3, r0)
    val e = all.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = nodes.map(n => n -> phase1.getOrElse(n, r0)).toMap
    for (_ <- 1 to 2) {
      val inbound = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      nodes.foreach(n => inbound(n) += 0L)
      e.foreach { case (s, d) => inbound(d) += rank(s) / deg(s) }
      rank = inbound.map { case (n, s) => n -> (150000000L + 85L * s / 100) }.toMap
    }
    assert(got === rank)
    assert(got.contains(9L), "delta-born node must enter at r0 and iterate")
  }

  /** Driver-side personalized reference: init and base only on seeds. */
  private def referencePpr(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int, r0: Long): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = 15L * r0 / 100
    var rank = nodes.map(n => n -> (if (seeds(n)) r0 else 0L)).toMap
    for (_ <- 1 to iters) {
      val inbound = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      nodes.foreach(n => inbound(n) += 0L)
      e.foreach { case (s, d) => inbound(d) += rank(s) / deg(s) }
      rank = inbound.map { case (n, s) =>
        n -> ((if (seeds(n)) base else 0L) + 85L * s / 100)
      }.toMap
    }
    rank
  }

  private def runPpr(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int): Map[Long, Long] =
    PageRank.personalized(edges.toDF("src", "dst"),
        seeds.map(Tuple1(_)).toDF("node"), iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("personalized matches its integer recurrence; unreachable component stays 0") {
    // two components: 1<->2<->3 (seeded at 1) and 10<->11 (unseeded)
    val edges = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 10L -> 11L, 11L -> 10L)
    val got = runPpr(edges, Seq(1L), 5)
    assert(got === referencePpr(edges, Set(1L), 5, 1000000000L))
    assert(got(10L) === 0L && got(11L) === 0L,
      "mass must never reach a component with no seed")
    assert(got(1L) > got(3L), "closer to the seed must outrank farther")
  }

  test("personalized with seeds = all nodes degenerates to run()") {
    val edges = (2L to 8L).map(_ -> 1L) :+ (1L -> 2L)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    assert(runPpr(edges, nodes, 4) === run(edges, 4))
  }

  test("personalized ignores seeds absent from the graph") {
    val edges = Seq(1L -> 2L, 2L -> 1L)
    assert(runPpr(edges, Seq(1L, 999L), 3) === runPpr(edges, Seq(1L), 3))
  }

  test("personalized resume equals the one-session two-phase schedule; delta non-seed enters at 0") {
    val seeds = Set(1L)
    val base = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val delta = Seq(9L -> 1L, 1L -> 9L)
    val all = base ++ delta
    val dir = java.nio.file.Files.createTempDirectory("ppr_state_").toString
    graft.etl.Sinks.parquetDir(
      PageRank.personalized(base.toDF("src", "dst"),
        seeds.toSeq.map(Tuple1(_)).toDF("node"), iterations = 3), dir)
    val got = PageRank.resumePersonalized(all.toDF("src", "dst"),
      seeds.toSeq.map(Tuple1(_)).toDF("node"),
      spark.read.parquet(dir), iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r0 = 1000000000L
    val phase1 = referencePpr(base, seeds, 3, r0)
    val e = all.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = nodes.map(n =>
      n -> phase1.getOrElse(n, if (seeds(n)) r0 else 0L)).toMap
    for (_ <- 1 to 2) {
      val inbound = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      nodes.foreach(n => inbound(n) += 0L)
      e.foreach { case (s, d) => inbound(d) += rank(s) / deg(s) }
      rank = inbound.map { case (n, s) =>
        n -> ((if (seeds(n)) 150000000L else 0L) + 85L * s / 100)
      }.toMap
    }
    assert(got === rank)
    assert(got.contains(9L), "delta-born node must join the frame")
  }

  test("resumeDelta (patched static frame) is bit-identical to resume (full rebuild)") {
    // delta exercises every patch branch: a duplicate of a base edge
    // (must not change degrees), a rewire of an existing src (degree
    // +1), a brand-new node on both endpoints, and a new dangling src
    val base = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L, 5L -> 2L)
    val delta = Seq(1L -> 2L, 4L -> 3L, 9L -> 1L, 1L -> 9L, 8L -> 9L)
    val all = base ++ delta
    val dir = java.nio.file.Files.createTempDirectory("pr_delta_state_").toString
    val (ranks, static0, deg) =
      PageRank.runWithState(base.toDF("src", "dst"), iterations = 3)
    graft.etl.Sinks.parquetDir(ranks, dir + "/ranks")
    graft.etl.Sinks.parquetDir(static0, dir + "/static")
    graft.etl.Sinks.parquetDir(deg, dir + "/deg")
    val viaPatch = PageRank.resumeDelta(
      spark.read.parquet(dir + "/static"), spark.read.parquet(dir + "/deg"),
      spark.read.parquet(dir + "/ranks"), delta.toDF("src", "dst"), iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaRebuild = PageRank.resume(all.toDF("src", "dst"),
      spark.read.parquet(dir + "/ranks"), iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaPatch === viaRebuild)
    assert(viaPatch.contains(8L) && viaPatch.contains(9L),
      "delta-born nodes must enter the patched frame")
  }

  test("resumeDeltaPersonalized is bit-identical to resumePersonalized (incl. new seed node)") {
    val seeds = Seq(1L, 9L) // 9 is delta-born: enters at is_seed*r0
    val base = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L)
    val delta = Seq(2L -> 3L, 9L -> 1L, 1L -> 9L, 8L -> 2L)
    val all = base ++ delta
    val seedDf = seeds.map(Tuple1(_)).toDF("node")
    val dir = java.nio.file.Files.createTempDirectory("ppr_delta_state_").toString
    val (ranks, static0, deg) = PageRank.personalizedWithState(
      base.toDF("src", "dst"), seedDf, iterations = 3)
    graft.etl.Sinks.parquetDir(ranks, dir + "/ranks")
    graft.etl.Sinks.parquetDir(static0, dir + "/static")
    graft.etl.Sinks.parquetDir(deg, dir + "/deg")
    val viaPatch = PageRank.resumeDeltaPersonalized(
      spark.read.parquet(dir + "/static"), spark.read.parquet(dir + "/deg"),
      spark.read.parquet(dir + "/ranks"), delta.toDF("src", "dst"), seedDf,
      iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaRebuild = PageRank.resumePersonalized(all.toDF("src", "dst"), seedDf,
      spark.read.parquet(dir + "/ranks"), iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaPatch === viaRebuild)
    assert(viaPatch.contains(8L) && viaPatch.contains(9L))
    assert(viaPatch(9L) > 0L, "delta-born seed must carry teleport mass")
  }

  test("run, personalized and resumeDelta: Spark jobs for build + collect (job-count guard)") {
    val hub = ((2L to 10L).map(_ -> 1L) :+ (1L -> 2L)).toDF("src", "dst")
    val (_, runJobs) = jobsOf(PageRank.run(hub, iterations = 3).collect())
    assert(runJobs.size === 13, s"run: ${runJobs.size} jobs")
    val (_, pprJobs) = jobsOf(
      PageRank.personalized(hub, Seq(1L).toDF("node"), iterations = 3).collect())
    assert(pprJobs.size === 15, s"personalized: ${pprJobs.size} jobs")
    val base = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L, 5L -> 2L)
    val delta = Seq(1L -> 2L, 4L -> 3L, 9L -> 1L, 1L -> 9L, 8L -> 9L)
    val dir = java.nio.file.Files.createTempDirectory("pr_jobs_state_").toString
    val (ranks, static0, deg) = PageRank.runWithState(base.toDF("src", "dst"), iterations = 3)
    graft.etl.Sinks.parquetDir(ranks, dir + "/ranks")
    graft.etl.Sinks.parquetDir(static0, dir + "/static")
    graft.etl.Sinks.parquetDir(deg, dir + "/deg")
    val (_, deltaJobs) = jobsOf(PageRank.resumeDelta(
      spark.read.parquet(dir + "/static"), spark.read.parquet(dir + "/deg"),
      spark.read.parquet(dir + "/ranks"), delta.toDF("src", "dst"), iterations = 2).collect())
    assert(deltaJobs.size === 27, s"resumeDelta: ${deltaJobs.size} jobs")
  }
}
