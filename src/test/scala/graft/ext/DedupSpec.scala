package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {

  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near dup
      (3L, "completely different words about spark engines and data pipelines here"),
      (4L, "tiny"),
      (5L, "")).toDF("doc_id", "text")
  }

  test("exact: min id survives, copies counted") {
    val got = Dedup.exact(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) === 2L) // docs 0 and 1 collapse to id 0
    assert(got.keySet === Set(0L, 2L, 3L, 4L, 5L))
  }

  test("exactRows keeps whole first-id rows") {
    val got = Dedup.exactRows(docs)
    assert(got.count() === 5)
    assert(!got.select("doc_id").collect().map(_.getLong(0)).contains(1L))
  }

  test("ngramJaccard finds exact+near dup pairs, nothing else") {
    val got = Dedup.ngramJaccard(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs === Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(got.find(t => t._1 == 0L && t._2 == 1L).get._3 === 1.0)
  }

  test("containment: a doc embedded in a longer one is found directionally") {
    import spark.implicits._
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val short = "gamma delta epsilon zeta eta theta" // contiguous slice of `long`
    val corpus = Seq((10L, long), (11L, short),
      (12L, "totally unrelated words about completely other topics entirely here now"))
      .toDF("doc_id", "text")
    val got = Dedup.containment(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every shingle of `short` appears in `long` -> containment 1.0 that
    // direction only; the reverse direction is far below threshold
    assert(got.toSeq === Seq((11L, 10L, 1.0)))
  }

  test("containment matches a brute-force reference at several thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val corpus = (0L until 30L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    def shingles(s: String): Set[Seq[String]] =
      s.trim.split("\\s+").toSeq.sliding(3).filter(_.size == 3).map(_.toSeq).toSet
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val want = (for {
        (a, ta) <- corpus; (b, tb) <- corpus
        if a != b
        sa = shingles(ta); sb = shingles(tb)
        if sa.nonEmpty
        c = (sa & sb).size
        if c.toDouble / sa.size >= t
      } yield (a, b)).toSet
      val got = Dedup.containment(df, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"threshold $t")
    }
  }

  test("minhash agrees with exact ngramJaccard on verified pairs") {
    val exact = Dedup.ngramJaccard(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhash(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === exact)
  }

  test("minhash jaccard values are exact (verification pass)") {
    val mh = Dedup.minhash(docs, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(mh((0L, 1L)) === 1.0)
    assert(mh((0L, 2L)) > 0.5 && mh((0L, 2L)) < 1.0)
  }

  test("simhash: identical docs at distance 0, near dups within 3, distinct docs out") {
    val got = Dedup.simhash(docs, maxDist = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got((0L, 1L)) === 0)
    assert(!got.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("prefix filtering: one ubiquitous shingle does not blow up candidates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 200 docs all opening with the same boilerplate 3-gram, otherwise
    // fully distinct, plus one planted exact dup of doc 0. The naive
    // inverted-index self-join would emit 201*200/2 = 20100 candidate
    // pairs on the hot shingle alone; prefix filtering orders shingles
    // rarest-first, so the ubiquitous shingle never lands in a prefix.
    val base = (0 until 200).map { i =>
      (i.toLong, s"common boiler plate u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")
    }
    val skewed = (base :+ (200L, base.head._2)).toDF("doc_id", "text")
    val withSh = skewed
      .select(col("doc_id").as("id"),
        graft.functions.texthash.shingle_hashes(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
    val nCand = Dedup.prefixCandidates(withSh, 0.8).count()
    assert(nCand <= 10, s"prefix filtering failed to bound candidates: $nCand")
    val pairs = Dedup.ngramJaccard(skewed, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((0L, 200L)))
    assert(pairs.head._3 === 1.0)
  }

  test("components: random pair graph matches a BFS reference; path graph converges") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // random sparse graph + a guaranteed long path (worst-case diameter)
    val randomPairs = (1 to 60).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    val path = (100L until 120L).map(i => (i, i + 1)) // diameter 20 chain
    val pairs = (randomPairs ++ path).toDF("a_id", "b_id")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // BFS reference
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    (randomPairs ++ path).foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
    }
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { v =>
      if (!expected.contains(v)) {
        val seen = scala.collection.mutable.Set(v)
        val queue = scala.collection.mutable.Queue(v)
        while (queue.nonEmpty) {
          val u = queue.dequeue()
          adj(u).foreach(w => if (seen.add(w)) queue.enqueue(w))
        }
        val label = seen.min
        seen.foreach(w => expected(w) = label)
      }
    }
    assert(got.size === expected.size)
    expected.foreach { case (v, l) => assert(got(v) === l, s"vertex $v") }
    // the chain must collapse to its min id despite diameter > 1 round
    assert((100L to 120L).forall(v => got(v) == expected(v)))
  }

  test("components: empty pair graph yields empty output; over-diameter fails loud") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.components(empty).count() === 0L)
    val chain = (0L until 10L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Dedup.components(chain, maxRounds = 2).count()
    }
  }

  test("components over no pairs runs no round (job-count guard)") {
    import spark.implicits._
    val (out, jobs) = jobsOf(Dedup.components(Seq.empty[(Long, Long)].toDF("a_id", "b_id")).collect())
    assert(out.isEmpty)
    // the edge count and the collect: a round over zero edges cost one more job
    assert(jobs.size === 2, s"components: ${jobs.size} jobs")
  }

  test("components: adversarial 1000-edge chain converges in O(log diameter) rounds") {
    import spark.implicits._
    // a single path 0-1-2-...-1000: diameter 1000. Plain min-label
    // propagation needs ~1000 rounds; pointer jumping must finish well
    // inside 20 (≈ log2 growth of per-round reach).
    val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.components(chain, maxRounds = 20).as[(Long, Long)].collect()
    assert(got.length === 1001)
    assert(got.forall(_._2 == 0L), "every chain vertex must label to the min id 0")
  }

  test("components: reliable checkpoint path when a checkpoint dir is configured") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (12L, 11L)).toDF("a_id", "b_id")
      val got = Dedup.components(pairs).as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
      // proof the RELIABLE path actually ran: checkpoint blocks landed on
      // the (durable) filesystem, not in executor-local storage
      val files = java.nio.file.Files.walk(dir).filter(java.nio.file.Files.isRegularFile(_))
        .count()
      assert(files > 0, "no reliable checkpoint files were written")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      scala.util.Try {
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("components: never mutates session shuffle.partitions (concurrent-query safety)") {
    import spark.implicits._
    // A shared-session service may run other queries WHILE the
    // components loop iterates; the loop's edge-sized parallelism must
    // live in its own frames (explicit repartition), never in the
    // session conf where a concurrent query would silently inherit it.
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    @volatile var running = true
    val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val poller = new Thread(() => {
      while (running) { observed.add(spark.conf.get(key)); Thread.sleep(1) }
    })
    poller.start()
    try {
      val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val got = Dedup.components(pairs, maxRounds = 20).as[(Long, Long)].collect()
      assert(got.length === 201 && got.forall(_._2 == 0L))
    } finally { running = false; poller.join() }
    assert(spark.conf.get(key) === before)
    assert(observed.size === 1 && observed.contains(before),
      s"session $key changed mid-loop: saw $observed")
  }

  test("components: integer ids keep their type in doc_id and cluster_id") {
    import spark.implicits._
    val pairs = Seq((2, 1), (2, 3), (10, 11), (12, 11)).toDF("a_id", "b_id")
    val out = Dedup.components(pairs)
    assert(out.schema.simpleString === "struct<doc_id:int,cluster_id:int>")
    assert(out.as[(Int, Int)].collect().toMap ===
      Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10, 12 -> 10))
  }

  test("components: pairs with a null endpoint are dropped") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (None, Some(3L)), (Some(3L), Some(4L))).toDF("a_id", "b_id")
    val got = Dedup.components(pairs).collect()
    assert(got.forall(r => !r.isNullAt(0) && !r.isNullAt(1)), got.mkString(","))
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("components: one Spark job per round (job-count guard)") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (12L, 11L)).toDF("a_id", "b_id")
    // maxRounds bounds the rounds; the graph needs 2 (one hook, one
    // confirming round)
    val maxRounds = 3
    val (got, jobs) =
      jobsOf(Dedup.components(pairs, maxRounds = maxRounds).as[(Long, Long)].collect())
    assert(got.length === 6)
    // edge count + one action per round + the caller's collect; a
    // DataFrame round costs ~10 jobs (one per AQE stage) instead
    assert(jobs.size <= maxRounds + 3, s"${jobs.size} jobs")
  }

  test("components past maxRounds throws IllegalStateException with its message") {
    import spark.implicits._
    val chain = (0L until 10L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ex = intercept[IllegalStateException](Dedup.components(chain, maxRounds = 1).collect())
    assert(ex.getMessage === "components did not converge in 1 rounds — raise maxRounds " +
      "(component diameter exceeds it) or switch to large-star/small-star")
  }

  test("shingle sets hash each document once, above the barrier (plan-shape guard)") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val dir = java.nio.file.Files.createTempDirectory("shingle_plan_").toString
    docs.write.mode("overwrite").parquet(dir)
    val plan = Dedup.lshIndexState(spark.read.parquet(dir)).queryExecution.optimizedPlan
    assert("shingle_hashes\\(".r.findAllIn(plan.toString).size === 1, plan.toString)
    val below = plan.collectFirst { case r: Repartition => r.child }
    assert(below.exists(!_.toString.contains("shingle_hashes")), plan.toString)
  }

  test("minhash fences once; components reads its fenced pairs (job-count guard)") {
    val ((pairs, got), mhJobs) = jobsOf {
      val p = Dedup.minhash(docs, threshold = 0.5)
      (p, p.collect())
    }
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((0L, 1L), (0L, 2L), (1L, 2L)))
    val (clusters, ccJobs) = jobsOf(Dedup.components(pairs).collect())
    assert(clusters.length === 3)
    // minhash: one eager fence of the index state (its barrier stage
    // included), the verify's stages planned by the lazy pair fence, and
    // the collect that fills it; a second state fence costs one more
    assert(mhJobs.size === 6, s"minhash build + collect: ${mhJobs.size} jobs")
    // components reads the fenced pairs: the edge count, one round and
    // the collect. Over an unfenced pair plan the edge count re-runs the
    // candidate join and verify (6 jobs)
    assert(ccJobs.size === 3, s"components: ${ccJobs.size} jobs")
  }

  test("determinism: same input, same signatures across runs") {
    val r1 = Dedup.minhash(docs, threshold = 0.5).collect().toSet
    val r2 = Dedup.minhash(docs, threshold = 0.5).collect().toSet
    assert(r1 === r2)
  }

  test("minhashIncremental over stored state = full minhash restricted to pairs touching the batch") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    // seeded corpus with planted near-dup families crossing the old/new split
    val base = (0L until 40L).map { i =>
      (i, Seq.fill(8 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // +101 flips parity, so each planted near-dup crosses the old/new split
    val planted = base.take(6).map { case (i, t) => (i + 101L, t + " zeta") }
    val corpus = (base ++ planted).toDF("doc_id", "text")
    val old = corpus.filter("doc_id % 2 = 0")
    val nw = corpus.filter("doc_id % 2 = 1")
    val stateDir = java.nio.file.Files.createTempDirectory("lsh_state_").toString
    Dedup.lshIndexState(old).write.mode("overwrite").parquet(stateDir)
    val inc = Dedup.minhashIncremental(nw, spark.read.parquet(stateDir), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhash(corpus, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(t => t._1 % 2 == 1 || t._2 % 2 == 1).toSet
    assert(inc === full)
    assert(inc.nonEmpty) // fixture must actually exercise cross-split pairs
    assert(inc.exists(t => t._1 % 2 != t._2 % 2)) // ...including new-old ones
  }

  test("minhashIncremental with empty state = minhash within the batch") {
    import spark.implicits._
    val emptyState = Dedup.lshIndexState(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val inc = Dedup.minhashIncremental(docs, emptyState, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhash(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full)
  }

  test("canonicalPerCluster keeps the best-scored doc, lowest id on ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L),   // cluster {1,2,3}: 2 and 3 tie -> keep 2
      (4L, 5L),                          // singleton -> keeps itself
      (5L, 7L), (6L, 9L)                 // cluster {5,6} -> keep 6
    ).toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.canonicalPerCluster(docs, clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 3L), (4L, 4L, 1L), (5L, 6L, 2L)))
  }

  test("canonicalPerCluster: null scores lose contested picks but still count") {
    import spark.implicits._
    val docs = Seq((1L, Some(5L)), (2L, None), (3L, None))
      .toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    val got = Dedup.canonicalPerCluster(docs, clusters).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L, 3L)))
  }

  test("survivorship: field-wise picks with total-order ties; nulls lose; singletons pass through") {
    import spark.implicits._
    import Dedup.SurviveRule._
    val recs = Seq(
      // cluster {1,2,3}: text longest = doc2/doc3 tie at len 30 -> FieldMaxBy
      // takes the HIGHEST id (doc3); source first-seen = doc1; max len 30
      (1L, Some("a"), Some("web"), 10L),
      (2L, Some("bb"), Some("pdf"), 30L),
      (3L, Some("cc"), None, 30L),
      // singleton 4: its own values verbatim
      (4L, Some("solo"), Some("mail"), 5L),
      // cluster {5,6}: doc6 has the longer length but NULL text -> the
      // non-null text from doc5 must win despite the smaller key
      (5L, Some("short"), Some("web"), 7L),
      (6L, None, Some("pdf"), 99L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.survivorship(recs, clusters,
        Seq("text" -> FieldMaxBy("n_chars"), "source" -> FieldMinBy("doc_id"),
          "n_chars" -> ColMax))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got === Set(
      (1L, "cc", "web", 30L, 3L),
      (4L, "solo", "mail", 5L, 1L),
      (5L, "short", "web", 99L, 2L)))
  }

  test("survivorship: ColMin/ColSum rules aggregate per cluster") {
    import spark.implicits._
    import Dedup.SurviveRule._
    val recs = Seq((1L, 10L), (2L, 4L), (3L, 6L)).toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    val got = Dedup.survivorship(recs, clusters,
        Seq("n_chars" -> ColSum), idCol = "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 20L, 3L)))
    val gotMin = Dedup.survivorship(recs, clusters, Seq("n_chars" -> ColMin))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotMin === Seq((1L, 4L)))
  }

  test("sortedNeighborhood equals the brute-force window definition") {
    import spark.implicits._
    val recs = Seq(
      (1L, "apple pie recipe with cinnamon"),
      (2L, "apple pie recipes with cinnamon"), // 1 edit from doc 1
      (3L, "apple tart recipe with cinnamon"), // close key, larger distance
      (4L, "banana bread for breakfast"),
      (5L, "banana bread for breakfasts"),     // 1 edit from doc 4
      (6L, "zebra crossing safety rules"))
    val window = 2
    val maxDist = 5
    val got = Dedup.sortedNeighborhood(recs.toDF("doc_id", "text"),
        window = window, maxDist = maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force: sort by (24-char key, id), compare each to its
    // `window` successors on 40-char prefixes
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i.max(j))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val sorted = recs.map { case (id, t) => (id, t.trim.take(24), t.trim.take(40)) }
      .sortBy(t => (t._2, t._1))
    val expect = (for {
      i <- sorted.indices
      j <- (i + 1) to math.min(i + window, sorted.length - 1)
      d = lev(sorted(i)._3, sorted(j)._3) if d <= maxDist
    } yield (sorted(i)._1, sorted(j)._1, d)).toSet
    assert(got === expect)
    assert(got.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 1)) // non-vacuous
    assert(got.exists(t => Set(t._1, t._2) == Set(4L, 5L)))
  }

  test("editDistanceJoin: complete against brute force on randomly mutated strings") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i.max(j))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // 12 base strings, each with 3 mutated twins at 1..4 random edits
    // (some past maxDist — the join must find exactly the <= tau ones)
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefgh"
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (0 until edits).foreach { _ =>
        val op = rnd.nextInt(3)
        val p = if (cur.isEmpty) 0 else rnd.nextInt(cur.length)
        cur = op match {
          case 0 if cur.nonEmpty => // substitute
            cur.updated(p, alpha(rnd.nextInt(alpha.length)))
          case 1 => cur.take(p) + alpha(rnd.nextInt(alpha.length)) + cur.drop(p)
          case _ if cur.nonEmpty => cur.take(p) + cur.drop(p + 1)
          case _ => cur + alpha(rnd.nextInt(alpha.length))
        }
      }
      cur
    }
    val docs = (0 until 12).flatMap { b =>
      val base = Seq.fill(12 + rnd.nextInt(10))(alpha(rnd.nextInt(alpha.length))).mkString
      (base +: Seq.fill(3)(mutate(base, 1 + rnd.nextInt(4)))).zipWithIndex
        .map { case (s, i) => (b * 10L + i, s) }
    }
    val maxDist = 2
    val got = Dedup.editDistanceJoin(docs.toDF("doc_id", "text"),
        maxDist = maxDist, keyLen = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val keys = docs.map { case (id, t) => (id, t.trim.toLowerCase.take(32)) }
    val expect = (for {
      (ai, ak) <- keys; (bi, bk) <- keys
      if ak.length < bk.length || (ak.length == bk.length && ai < bi)
      d = lev(ak, bk) if d <= maxDist
    } yield (ai, bi, d.toLong)).toSet
    assert(got === expect)
    assert(got.nonEmpty, "fixture produced no qualifying pairs") // non-vacuous
  }

  test("editDistanceJoin: canonical order, exact duplicates, empty strings, guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefgh"), (2L, "abcdefgh"),       // dist 0, id order
      (3L, "abcdefghx"),                        // dist 1 from 1 and 2 (longer)
      (4L, ""), (5L, " "),                      // both normalize to ''
      (6L, "zzzzzzzzzz")).toDF("doc_id", "text")
    val got = Dedup.editDistanceJoin(docs, maxDist = 1, keyLen = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // shorter first; equal length -> lower id first
    assert(got === Set((1L, 2L, 0L), (1L, 3L, 1L), (2L, 3L, 1L), (4L, 5L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.editDistanceJoin(docs, maxDist = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.editDistanceJoin(docs, maxDist = 3, keyLen = 3)
    }
  }

  test("symspellCorrect: matches brute-force best pick; ties by freq then term; no-match is NULL") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i.max(j))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(19)
    val alpha = "abcdef"
    val vocab = (0 until 40).map { i =>
      (Seq.fill(4 + rnd.nextInt(5))(alpha(rnd.nextInt(alpha.length))).mkString,
        1L + rnd.nextInt(100))
    }.distinct
    // queries: vocab terms mutated by 0..3 random char ops (some out of range)
    val queries = (0 until 60).map { _ =>
      val (t, _) = vocab(rnd.nextInt(vocab.size))
      var cur = t
      (0 until rnd.nextInt(4)).foreach { _ =>
        val p = rnd.nextInt(math.max(cur.length, 1))
        cur = rnd.nextInt(3) match {
          case 0 if cur.nonEmpty => cur.updated(p, alpha(rnd.nextInt(alpha.length)))
          case 1 => cur.take(p) + alpha(rnd.nextInt(alpha.length)) + cur.drop(p)
          case _ if cur.nonEmpty => cur.take(p) + cur.drop(p + 1)
          case _ => cur
        }
      }
      cur
    }.distinct
    val got = Dedup.symspellCorrect(queries.toDF("token"),
        vocab.toDF("term", "freq"), maxDist = 2)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    assert(got.keySet === queries.toSet)
    queries.foreach { q =>
      val inRange = vocab.map { case (t, f) => (lev(q, t), -f, t) }
        .filter(_._1 <= 2)
      val expect = if (inRange.isEmpty) (None, None)
        else { val b = inRange.min; (Some(b._3), Some(b._1.toLong)) }
      assert(got(q) === expect, s"token '$q'")
    }
    assert(got.values.exists(_._2.contains(1L)), "no distance-1 correction in fixture")
    assert(got.values.exists(_._1.isEmpty), "no out-of-range token in fixture")
  }

  test("phoneticBlocking: same-soundex pairs with graded distance; independent soundex reference") {
    import spark.implicits._
    // independent Russell/Odell soundex — no shared code with Spark's
    // builtin: h/w transparent to the collapse, vowels+y reset, first
    // letter participates ("pfister" -> P236)
    def cls(c: Char): Int =
      if ("bfpv".contains(c)) 1 else if ("cgjkqsxz".contains(c)) 2
      else if ("dt".contains(c)) 3 else if (c == 'l') 4
      else if ("mn".contains(c)) 5 else if (c == 'r') 6 else 0
    def sdx(w: String): String = {
      var out = w.head.toUpper.toString
      var prev = cls(w.head)
      w.tail.foreach { c =>
        if (out.length < 4 && !"hw".contains(c)) {
          val k = cls(c)
          if (k != 0 && k != prev) out += k.toString
          prev = k
        }
      }
      (out + "000").take(4)
    }
    val recs = Seq((1L, "philips"), (2L, "filips"), (3L, "phillips"),
      (4L, "roberts"), (5L, "rupert"), (6L, "ashcroft"), (7L, "pfister"),
      (8L, "tymczak"), (9L, "gizmo"))
    val got = Dedup.phoneticBlocking(recs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i.max(j))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      (ai, at) <- recs; (bi, bt) <- recs
      if ai < bi && sdx(at) == sdx(bt)
    } yield (ai, bi, sdx(at), lev(at, bt).toLong)).toSet
    assert(got === expect)
    // the phonetic win: "philips"/"filips" block together (F412 vs
    // P412? no — first LETTER differs, so they do NOT block; the pair
    // that does is philips/phillips, edit distance 1)
    assert(got.contains((1L, 3L, "P412", 1L)))
    assert(!got.exists(t => Set(t._1, t._2) == Set(1L, 2L)))
    // every Spark builtin code equals the independent reference
    val codes = recs.toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.soundex($"text")).as[String].collect()
    assert(codes.toSeq === recs.map(r => sdx(r._2)))
    // maxDist prunes
    val pruned = Dedup.phoneticBlocking(recs.toDF("doc_id", "text"), maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned === expect.filter(_._4 <= 1L).map(t => (t._1, t._2)))
  }

  test("crossLingualMinhash: translated twins found, surface minhash blind") {
    import spark.implicits._
    // 'xx' docs are word-for-word translations of the en docs through
    // the lexicon; doc 3 shares no concepts with doc 1. Surface 3-gram
    // minhash sees zero overlap between 1 and 2 (disjoint surfaces) —
    // the lexicon-normalized op must see jaccard 1.0.
    val docs = Seq(
      (1L, "en", "big data table scan runs fast on spark"),
      (2L, "xx", "GROS DONNEES TABLEAU BALAYAGE COURT VITE SUR ETINCELLE"),
      (3L, "en", "tiny model trains slow off cluster nodes here"),
      (4L, "xx", "GROS DONNEES TABLEAU BALAYAGE COURT VITE SUR AUTRE")
    ).toDF("doc_id", "lang", "text")
    val lexicon = Seq(
      ("big", "c_big"), ("gros", "c_big"), ("data", "c_data"), ("donnees", "c_data"),
      ("table", "c_table"), ("tableau", "c_table"), ("scan", "c_scan"),
      ("balayage", "c_scan"), ("runs", "c_run"), ("court", "c_run"),
      ("fast", "c_fast"), ("vite", "c_fast"), ("on", "c_on"), ("sur", "c_on"),
      ("spark", "c_spark"), ("etincelle", "c_spark"), ("autre", "c_other"),
      ("tiny", "c_tiny"), ("model", "c_model"), ("trains", "c_train"),
      ("slow", "c_slow"), ("off", "c_off"), ("cluster", "c_cluster"),
      ("nodes", "c_node"), ("here", "c_here")
    ).toDF("surface", "concept")
    val got = Dedup.crossLingualMinhash(docs, lexicon, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toList
      .sortBy(t => (t._1, t._2))
    // (1,2) exact translation: jaccard 1.0; (1,4) differs in the last
    // concept only: 5 shared of the 6 shingles per side -> 5/7; (3, *)
    // concept-disjoint -> absent
    assert(got === List((1L, 2L, 1.0), (1L, 4L, 5.0 / 7.0)))
    // and the surface-level minhash is blind to the same pair
    val surface = Dedup.minhash(docs, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!surface.contains((1L, 2L)))
  }

  test("crossLingualMinhash with the identity lexicon == surface minhash cross-lang") {
    import spark.implicits._
    // under a surface==concept lexicon the concept shingles ARE the
    // surface shingles, so the op must reproduce minhash()'s pairs and
    // jaccard values exactly, restricted to lang_a != lang_b
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("lang"), lower(col("text")).as("text"))
    val identity = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .filter(length(col("t")) > 0).distinct()
      .select(col("t").as("surface"), col("t").as("concept"))
    val got = Dedup.crossLingualMinhash(docs, identity, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(4) * 1e9))).toSet
    val langOf = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = Dedup.minhash(docs, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9)))
      .filter(t => langOf(t._1) != langOf(t._2)).toSet
    assert(got === expect)
    assert(got.nonEmpty, "fixture must contain cross-lang near-dups at 0.6")
  }
}
