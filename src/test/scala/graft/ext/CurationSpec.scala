package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class CurationSpec extends SparkTestBase {

  import spark.implicits._

  test("chunk: overlapping windows, short tail, single-chunk short doc") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"), // shorter than one window
      (3L, null.asInstanceOf[String]),
      (4L, "   ")
    ).toDF("doc_id", "text")
    val out = Curation.chunk(docs, window = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: starts 0,3,6,9 -> nc = ceil((10-4)/3)+1 = 3 -> starts 0,3,6
    assert(out.filter(_._1 == 1L).map(_._3).toSeq === Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(out.filter(_._1 == 1L).map(_._4).toSeq === Seq(4, 4, 4))
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, "a b c", 3)))
    assert(!out.exists(t => t._1 == 3L || t._1 == 4L)) // null/blank dropped
  }

  test("chunkBySentences: sentence windows with overlap, never mid-sentence") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a one. b two! c three. d four? e five."), // 5 sentences -> 2 chunks
      (1L, "only one  sentence."),                    // 1 -> single chunk (ws normalized)
      (2L, "unterminated text no punct"),             // 0 sentences -> dropped
      (3L, "s1. s2. s3. s4.")                         // 4 -> short-tail second chunk
    ).toDF("doc_id", "text")
    val got = Curation.chunkBySentences(docs, window = 3, stride = 2)
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getString(2), r.getInt(3), r.getInt(4))))
      .toMap
    assert(got((0L, 0)) === (("a one. b two! c three.", 3, 6)))
    assert(got((0L, 1)) === (("c three. d four? e five.", 3, 6))) // 1-sentence overlap
    assert(got((1L, 0)) === (("only one sentence.", 1, 3)))
    assert(got((3L, 0)) === (("s1. s2. s3.", 3, 3)))
    assert(got((3L, 1)) === (("s3. s4.", 2, 2)))
    assert(!got.keySet.exists(_._1 == 2L))
    assert(got.size === 5)
  }

  test("temperatureScore: overflow past 2^63 fails loud, never a silent negative quota") {
    // m^tau*1e6 past Long.MaxValue (m = 1e13 at tau = 1.0 -> 1e19)
    // must raise, independent of the session's ANSI setting; in-range
    // masses keep the exact rounded score
    val masses = Seq(10_000_000_000_000L).toDF("m")
    val e = intercept[Exception] {
      masses.select(Curation.temperatureScore(col("m"), 1.0).as("s")).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("overflows long"),
      s"wrong failure: ${e.getMessage}")
    val ok = masses.select(Curation.temperatureScore(col("m"), 0.5).as("s")).head()
    // sqrt(1e13)*1e6 = 3162277660168.38 -> rounds to ...168
    assert(ok.getLong(0) === 3162277660168L)
  }

  test("tokenBudgetQuota: whole-doc take-until-budget, at most one overshoot per group") {
    import spark.implicits._
    // group a: 4 docs x 10 tokens (mass 40); group b: 4 docs x 30 (mass 120)
    def words(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = (0L until 4L).map(i => (i, "a", words(10, "x"))) ++
      (10L until 14L).map(i => (i, "b", words(30, "y")))
    val df = docs.toDF("doc_id", "lang", "text")
    val got = Curation.tokenBudgetQuota(df, "lang", "doc_id",
      totalTokens = 80L, tau = 1.0)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    // tau=1: quotas proportional to mass -> a: 20 tokens, b: 60
    val quotaByLang = rows.map(r => (r._2, r._5)).toMap
    assert(quotaByLang === Map("a" -> 20L, "b" -> 60L))
    // whole docs, running-count-before-doc rule: a takes 2 docs
    // (cum_before 0, 10 < 20), b takes 2 (0, 30 < 60; 60 is NOT < 60)
    val byLang = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang === Map("a" -> 2, "b" -> 2))
    rows.foreach(r => assert(r._4 < r._5))
    // overshoot bound: selected mass < quota + one doc's tokens
    val massA = rows.filter(_._2 == "a").map(_._3).sum
    val massB = rows.filter(_._2 == "b").map(_._3).sum
    assert(massA === 20 && massB === 60)
    // deterministic across runs
    val again = Curation.tokenBudgetQuota(df, "lang", "doc_id", 80L, 1.0)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(again === got.collect().map(_.toSeq).sortBy(_.toString))
    // null/blank text counts zero tokens: with a budget covering every
    // token, the null-text doc MUST surface (cum_before < quota) and
    // report n_tokens = 0 — a regression to size(null) = -1/null would
    // either drop the row or fail the 0 check
    val withNull = (df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq :+
      ((99L, "a", null.asInstanceOf[String]))).toDF("doc_id", "lang", "text")
    val g2 = Curation.tokenBudgetQuota(withNull, "lang", "doc_id", 200L, 1.0)
      .filter(col("doc_id") === 99L).collect()
    assert(g2.length === 1 && g2(0).getInt(2) === 0)
  }

  test("chunk: stride not covering the tail still reaches the last token") {
    val docs = Seq((1L, (1 to 11).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val out = Curation.chunk(docs, window = 4, stride = 4).collect()
    // nc = ceil((11-4)/4)+1 = 3; last chunk = tokens 9..11 (short)
    assert(out.length === 3)
    val last = out.map(r => (r.getInt(1), r.getString(2))).maxBy(_._1)
    assert(last._2 === "t9 t10 t11")
  }

  test("weightedSample: picks the k smallest u/w keys per group, deterministically") {
    val docs = (1L to 40L).map(i => (i, if (i % 2 == 0) "even" else "odd", "x" * (i.toInt % 7 + 1)))
      .toDF("doc_id", "lang", "text")
    def run() = Curation.weightedSample(docs, groupCol = "lang", idCol = "doc_id",
      weight = length(col("text")) + lit(1), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._2, t._4))
    val out = run()
    // reference: replay the exact key construction per row
    val P = 1000000007L
    def key(id: Long) = ((id % P) * 751234567L % P).toDouble / ((id.toInt % 7 + 1) + 1)
    for (g <- Seq("even", "odd")) {
      val expect = (1L to 40L).filter(i => (i % 2 == 0) == (g == "even"))
        .sortBy(i => (key(i), i)).take(3)
      assert(out.filter(_._2 == g).map(_._1).toSeq === expect, s"group $g")
      assert(out.filter(_._2 == g).map(_._4).toSeq === Seq(1, 2, 3))
    }
    assert(run() === out) // rerun is bit-identical
  }

  test("weightedSample: a dominant weight is effectively always selected") {
    // one doc with weight 1e9 vs 99 docs with weight 1 -> key ~0 wins
    val docs = (1L to 100L).map(i => (i, "g", if (i == 42L) 1000000000.0 else 1.0))
      .toDF("doc_id", "lang", "w")
    val out = Curation.weightedSample(docs, "lang", "doc_id", col("w"), k = 1).collect()
    assert(out.length === 1 && out(0).getLong(0) === 42L)
  }

  test("weightedSample: NULL, zero and negative weights are ineligible, never auto-winners") {
    // w = 0 -> Infinity priority, w < 0 -> negative (always-first) priority,
    // NULL -> NULL priority sorting first under nulls-first ASC: before the
    // eligibility filter each of these silently hijacked selection
    val docs = Seq(
      (1L, "g", java.lang.Double.valueOf(-5.0)),
      (2L, "g", java.lang.Double.valueOf(0.0)),
      (3L, "g", null.asInstanceOf[java.lang.Double]),
      (4L, "g", java.lang.Double.valueOf(1.0)),
      (5L, "g", java.lang.Double.valueOf(2.0)),
      (6L, "g", java.lang.Double.valueOf(3.0))
    ).toDF("doc_id", "lang", "w")
    val picked = Curation.weightedSample(docs, "lang", "doc_id", col("w"), k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(picked === Set(4L, 5L, 6L), s"ineligible weights leaked into $picked")
  }

  test("packSequences: concat-and-cut boundaries, straddling doc offsets") {
    // one shard, budget 10; tokens 4,4,4,4 -> cum-prev 0,4,8,12:
    // doc 3 starts at offset 8 (straddles packs 0/1), doc 4 in pack 1
    val docs = Seq((1L, 0L, 4L), (2L, 0L, 4L), (3L, 0L, 4L), (4L, 0L, 4L))
      .toDF("doc_id", "shard", "n_tokens")
    val out = Curation.packSequences(docs, "shard", "doc_id", "n_tokens", budget = 10L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq((1L, 0L, 0L), (2L, 0L, 4L), (3L, 0L, 8L), (4L, 1L, 2L)))
  }

  test("packSequences: shards pack independently; token counts conserve") {
    val docs = (1L to 100L).map(i => (i, i % 4, (i % 7) + 1)).toDF("doc_id", "shard", "n_tokens")
    val out = Curation.packSequences(docs, "shard", "doc_id", "n_tokens", budget = 16L)
    // within each shard, (pack_id, offset) strictly increases with doc_id
    val rows = out.orderBy("shard", "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(3) * 16L + r.getLong(4)))
    rows.groupBy(_._1).values.foreach { g =>
      val pos = g.sortBy(_._2).map(_._3)
      assert(pos.zip(pos.tail).forall { case (a, b) => a < b })
    }
  }

  test("mixQuota: largest-remainder apportionment hits the exact total") {
    val docs = (1L to 1000L).map(i => (i, "g" + (i % 3))).toDF("doc_id", "lang")
    // 100 * (0.5, 0.3, 0.2) = 50/30/20 exactly
    val out = Curation.mixQuota(docs, "lang", "doc_id", total = 100L,
      weights = Map("g0" -> 0.5, "g1" -> 0.3, "g2" -> 0.2))
    val byG = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG === Map("g0" -> 50L, "g1" -> 30L, "g2" -> 20L))
    // remainder seats: total 101 -> one extra seat to the largest remainder
    val out2 = Curation.mixQuota(docs, "lang", "doc_id", total = 101L,
      weights = Map("g0" -> 0.5, "g1" -> 0.3, "g2" -> 0.2))
    assert(out2.count() === 101L)
    // deterministic: same picks on rerun
    assert(out.orderBy("doc_id").collect().map(_.getLong(0)).toSeq ===
      Curation.mixQuota(docs, "lang", "doc_id", 100L,
        Map("g0" -> 0.5, "g1" -> 0.3, "g2" -> 0.2))
        .orderBy("doc_id").collect().map(_.getLong(0)).toSeq)
  }

  test("boundedLevenshtein: equals full DP when <= k, caps at k+1 beyond") {
    val rnd = new scala.util.Random(31)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def randStr(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    for (_ <- 1 to 500; k <- Seq(0, 1, 2, 4)) {
      val a = randStr(rnd.nextInt(12)); val b = randStr(rnd.nextInt(12))
      val full = lev(a, b)
      val bounded = graft.functions.TextHashing.boundedLevenshtein(a, b, k)
      if (full <= k) assert(bounded === full, s"a=$a b=$b k=$k")
      else assert(bounded === k + 1, s"a=$a b=$b k=$k full=$full")
    }
  }

  test("fuzzyJoin: randomized strings match a brute-force Levenshtein reference") {
    val rnd = new scala.util.Random(21)
    val alphabet = "abcd"
    def randStr(n: Int) = (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    // mix of short (exercises the short block + boundary) and long
    // strings, plus planted 1-edit neighbors of earlier strings
    val base = (1L to 60L).map { i =>
      val n = if (i % 3 == 0) 2 + rnd.nextInt(8) else 12 + rnd.nextInt(20)
      (i, randStr(n))
    }
    val edited = base.take(15).map { case (i, s0) =>
      val pos = if (s0.isEmpty) 0 else rnd.nextInt(s0.length)
      (i + 1000L, s0.updated(math.min(pos, s0.length - 1), 'z'))
    }
    val all = base ++ edited
    val df = all.toDF("doc_id", "s")
    val k = 2
    val got = Curation.fuzzyJoin(df, k = k, idCol = "doc_id", strCol = "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, sa) <- all; (ib, sb) <- all
      if ia < ib
      dist = lev(sa, sb)
      if dist <= k
    } yield (ia, ib, dist)).sorted
    assert(got === expected)
    assert(expected.nonEmpty) // planted neighbors guarantee real coverage
  }

  test("deletion neighborhoods: pairs within distance k always share a variant hash") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdef"
    def randStr(n: Int) = (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    def edit(s: String): String = rnd.nextInt(3) match {
      case 0 if s.nonEmpty => s.patch(rnd.nextInt(s.length), "", 1) // delete
      case 1 if s.nonEmpty => s.updated(rnd.nextInt(s.length), 'z') // substitute
      case _ => s.patch(rnd.nextInt(s.length + 1), "z", 0) // insert
    }
    val k = 2
    (1 to 300).foreach { _ =>
      val a = randStr(2 + rnd.nextInt(12))
      var b = a
      (1 to k).foreach(_ => b = edit(b))
      val na = graft.functions.TextHashing.deletionHashes(a, k).toSet
      val nb = graft.functions.TextHashing.deletionHashes(b, k).toSet
      assert(na.intersect(nb).nonEmpty, s"no shared variant for '$a' ~ '$b'")
    }
  }

  test("fuzzyJoin short block: 5k short strings stay near-linear, not all-pairs") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    val n = 5000
    // distinct short strings (username/SKU shape) — the corpus the old
    // length-band block degenerated to ~n²/2 candidate pairs on
    val strs = (1 to 20000).map(_ =>
      (1 to (5 + rnd.nextInt(4))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      .distinct.take(n)
    assert(strs.size === n)
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s, s.length) }
      .toDF("id", "s", "len")
    val cand = Curation.deletionCandidates(df, k = 2).count()
    val allPairs = n.toLong * (n - 1) / 2 // 12,497,500
    assert(cand < allPairs / 100, s"candidate volume $cand is not ≪ n²=$allPairs")
  }

  test("leakageSafeSplit: same cluster same split, singletons keep per-doc hash") {
    val docs = (1L to 1000L).toDF("doc_id")
    // two multi-doc clusters; everything else singleton
    val clusters = Seq(
      (10L, 10L), (20L, 10L), (30L, 10L), // cluster 10
      (40L, 40L), (41L, 40L)) // cluster 40
      .toDF("doc_id", "cluster_id")
    val out = Curation.leakageSafeSplit(docs, clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length === 1000)
    val byDoc = out.map(t => t._1 -> t._3).toMap
    // same cluster -> same split
    assert(Set(byDoc(10L), byDoc(20L), byDoc(30L)).size === 1)
    assert(Set(byDoc(40L), byDoc(41L)).size === 1)
    // singleton buckets match the per-doc hash split exactly
    out.filter(t => t._1 == t._2).foreach { case (id, _, split) =>
      val b = ((id % 100) * 61) % 100
      val expected = if (b < 80) "train" else if (b < 90) "val" else "test"
      assert(split === expected, s"doc $id")
    }
    // distribution sanity: roughly 80/10/10
    val n = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(n("train") > 700 && n("val") > 50 && n("test") > 50)
  }

  test("contamination finds planted n-gram overlap, exact count") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val train = Seq(
      (1L, s"intro words $shared closing remarks"),
      (2L, "completely unrelated text with nothing shared here at all ok")
    ).toDF("doc_id", "text")
    val test = Seq(
      (10L, s"evaluation prompt $shared and an answer"),
      (11L, "another clean evaluation row with no overlap present whatsoever")
    ).toDF("doc_id", "text")
    val out = Curation.contamination(test, train, n = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((10L, 1L, 1L))) // exactly the planted 8-gram
  }

  test("contamination maxDf cap drops boilerplate-driven candidates") {
    val boiler = "this footer appears on every single page of the corpus"
    val train = (1L to 20L).map(i => (i, s"doc $i body $boiler")).toDF("doc_id", "text")
    val test = Seq((100L, s"test doc with $boiler inside")).toDF("doc_id", "text")
    val uncapped = Curation.contamination(test, train, n = 8).count()
    assert(uncapped === 20L) // boilerplate links the test doc to all 20
    val capped = Curation.contamination(test, train, n = 8, maxDf = 5L).count()
    assert(capped === 0L)
  }

  test("chunk invariant: stride-aligned prefixes reassemble every document exactly") {
    // pseudo-random docs (fixed seed); dropping each chunk's overlap tail
    // (keeping the first `stride` tokens, all of the last chunk) must
    // reconstruct the original token stream for any window/stride combo
    val rnd = new scala.util.Random(7)
    val docs = (1L to 30L).map { id =>
      val n = 1 + rnd.nextInt(40)
      (id, (1 to n).map(_ => s"t${rnd.nextInt(9)}").mkString(" "))
    }.toDF("doc_id", "text")
    for ((w, st) <- Seq((8, 8), (8, 5), (5, 2), (1, 1))) {
      val chunks = Curation.chunk(docs, window = w, stride = st)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .groupBy(_._1).map { case (id, cs) =>
          val sorted = cs.sortBy(_._2)
          id -> sorted.zipWithIndex.map { case ((_, _, txt), i) =>
            val toks = txt.split(" ").toSeq
            if (i == sorted.length - 1) toks else toks.take(st)
          }.flatten.mkString(" ")
        }
      val expected = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      expected.foreach { case (id, txt) =>
        assert(chunks(id) === txt.trim.split("\\s+").mkString(" "),
          s"doc $id not reassembled for window=$w stride=$st")
      }
    }
  }

  test("quantize invariant: dequantization error bounded by half a step") {
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 50L).map(id =>
      (id, Array.fill(16)((rnd.nextFloat() - 0.5f) * 10f)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Embeddings.quantizeInt8(df).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Int](2)))).toMap
    vecs.foreach { case (id, v) =>
      val (scale, q) = out(id)
      v.zip(q).foreach { case (orig, qi) =>
        assert(qi >= -127 && qi <= 127)
        val deq = qi.toDouble * scale / 127.0
        assert(math.abs(deq - orig) <= scale / 127.0 / 2 + 1e-9,
          s"vec $id: $orig -> $qi -> $deq exceeds half-step")
      }
    }
  }

  test("emb quantize: exact int8 values, zero-vector guard, scale") {
    val emb = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Embeddings.quantizeInt8(emb).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2))).sortBy(_._1)
    assert(out(0)._2 === 1.0)
    assert(out(0)._3 === Seq(64, -127, 32)) // floor(63.5+.5), floor(-126.5), floor(32.25)
    assert(out(1)._2 === 0.0 && out(1)._3 === Seq(0, 0, 0))
  }

  test("l2Normalize produces unit vectors and keeps zeros") {
    val emb = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Embeddings.l2Normalize(emb).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(out(0)._2 === Seq(0.6, 0.8))
    assert(out(1)._2 === Seq(0.0, 0.0))
  }

  test("dropFrequentSegments removes corpus-frequent segments, keeps order") {
    // segment length 2; "aa bb" appears in docs 1-4 (> maxDocs=3) ->
    // dropped everywhere; doc 4 is ONLY boilerplate -> disappears;
    // unique segments survive in their original order
    val docs = Seq(
      (1L, "aa bb xx yy zz qq"),
      (2L, "aa bb cc dd"),
      (3L, "ee ff aa bb"),
      (4L, "aa bb"),
      (5L, "gg hh ii")
    ).toDF("doc_id", "text")
    val out = Curation.dropFrequentSegments(docs, segLen = 2, maxDocs = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) === (("xx yy zz qq", 2L)))
    assert(out(2L) === (("cc dd", 1L)))
    assert(out(3L) === (("ee ff", 1L)))
    assert(!out.contains(4L)) // fully boilerplate
    assert(out(5L) === (("gg hh ii", 2L))) // tail segment "ii" kept
  }

  test("dropFrequentSegments counts document frequency, not occurrences") {
    // "aa bb" occurs 3 times in ONE doc: document frequency is 1, so at
    // maxDocs=2 it must survive (occurrence-counting would drop it)
    val docs = Seq(
      (1L, "aa bb aa bb aa bb"),
      (2L, "cc dd")
    ).toDF("doc_id", "text")
    val out = Curation.dropFrequentSegments(docs, segLen = 2, maxDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "aa bb aa bb aa bb")
  }

  test("shardByMd5 matches the published md5 vectors and balances") {
    import spark.implicits._
    // RFC 1321 test-suite vector: md5("abc") = 900150983cd24fb0...
    val v = Curation.shardByMd5(Seq("abc").toDF("k"), "k", nibbles = 4)
      .select("shard").as[String].head()
    assert(v === "9001")
    // assignment is a pure function of the key: identical keys agree
    // across frames, and 1-nibble shards over sequential ids balance
    val ids = (1L to 4096L).toDF("id")
    val byShard = Curation.shardByMd5(ids, "id")
      .groupBy("shard").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byShard.keySet.subsetOf("0123456789abcdef".map(_.toString).toSet))
    assert(byShard.size === 16)
    assert(byShard.values.min > 4096 / 16 / 2 && byShard.values.max < 4096 / 16 * 2)
    val again = Curation.shardByMd5(ids, "id")
      .groupBy("shard").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === byShard)
  }

  test("shardByMd5 nibble bounds fail loud") {
    import spark.implicits._
    val df = Seq("x").toDF("k")
    intercept[IllegalArgumentException](Curation.shardByMd5(df, "k", nibbles = 0))
    intercept[IllegalArgumentException](Curation.shardByMd5(df, "k", nibbles = 9))
  }

  test("contamination via a persisted index equals the direct path") {
    import spark.implicits._
    val test = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "totally unrelated evaluation text with other tokens here now"))
      .toDF("doc_id", "text")
    val train = Seq((10L, "xx alpha beta gamma delta epsilon zeta eta theta iota yy"),
      (11L, "no overlap whatsoever in this training document at all okay"))
      .toDF("doc_id", "text")
    val stateDir = java.nio.file.Files.createTempDirectory("contam_state_").toString
    Curation.contaminationIndex(test, n = 8).write.mode("overwrite").parquet(stateDir)
    val viaState = Curation.contaminationAgainstIndex(
      spark.read.parquet(stateDir), train, n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Curation.contamination(test, train, n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaState === direct)
    assert(viaState.exists(t => t._1 == 1L && t._2 == 10L && t._3 >= 2L))
  }

  test("stratifiedKFold: exact per-stratum balance and pure-function folds") {
    import spark.implicits._
    // 7-row and 3-row strata, k=3: fold sizes must differ by <= 1 per stratum
    val rows = (1L to 7L).map(i => ("big", i * 10L)) ++
      (1L to 3L).map(i => ("small", i))
    val out = Curation.stratifiedKFold(rows.toDF("lang", "id"), "lang", "id", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // balance
    val sizes = out.groupBy(t => (t._1, t._3)).view.mapValues(_.size).toMap
    assert(sizes.filter(_._1._1 == "big").values.toSeq.sorted === Seq(2, 2, 3))
    assert(sizes.filter(_._1._1 == "small").values.toSeq.sorted === Seq(1, 1, 1))
    // fold = (rank by id within stratum - 1) % k, exactly
    for ((lang, id, fold) <- out) {
      val rank = rows.filter(_._1 == lang).map(_._2).sorted.indexOf(id) + 1
      assert(fold === (rank - 1) % 3, s"($lang, $id)")
    }
  }

  test("stratifiedKFold survives strata split across range partitions") {
    import spark.implicits._
    // force many range partitions so a stratum spans several: the
    // control-plane offsets must keep ranks contiguous across them
    val rows = (1L to 500L).map(i => (if (i % 2 == 0) "a" else "b", i))
    val out = withShufflePartitions(8)(Curation.stratifiedKFold(rows.toDF("lang", "id"),
        "lang", "id", k = 4).collect())
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((lang, id, fold) <- out) {
      val rank = rows.filter(_._1 == lang).map(_._2).sorted.indexOf(id) + 1
      assert(fold === (rank - 1) % 4, s"($lang, $id)")
    }
    val sizes = out.groupBy(t => (t._1, t._3)).view.mapValues(_.size).values
    assert(sizes.max - sizes.min <= 1)
  }

  test("stratifiedKFold: job count of build + collect") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => (if (i % 3 == 0) "a" else "b", i))
    val (got, jobs) = jobsOf(
      Curation.stratifiedKFold(rows.toDF("lang", "id"), "lang", "id", k = 4).collect())
    assert(got.length === 200)
    // globalRowNumber's 5 (GlobalRowNumberSpec) plus the exchange of
    // the grouped row_number window
    assert(jobs.size === 6, jobs.mkString(", "))
  }

  test("stratifiedKFold fails loud on k < 2") {
    import spark.implicits._
    intercept[IllegalArgumentException](Curation.stratifiedKFold(
      Seq(("a", 1L)).toDF("lang", "id"), "lang", "id", k = 1))
  }
}
