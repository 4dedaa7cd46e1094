package graft.ops

import graft.SparkTestBase
import graft.ops.DataQuality._

class DataQualitySpec extends SparkTestBase {
  import spark.implicits._

  private def report(df: org.apache.spark.sql.DataFrame, checks: Seq[Check]) =
    validate(df, checks).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap

  test("each check counts exactly its own violations") {
    val df = Seq(
      (Some(1L), Some(10.0), "A", "ok"),
      (Some(2L), Some(-5.0), "B", "ok"),   // range violation
      (None, Some(20.0), "A", "bad!"),     // null key + regex violation
      (Some(2L), None, "C", "ok"),         // duplicate key + set violation
      (Some(3L), Some(999.0), "A", "ok")   // range violation
    ).toDF("k", "v", "s", "w")
    val r = report(df, Seq(
      NotNull("k"), InRange("v", 0.0, 100.0), InSet("s", Seq("A", "B")),
      Matches("w", "^[a-z]+$"), Unique(Seq("k"))))
    assert(r(("not_null", "k")) === ((1L, 5L, false)))
    assert(r(("in_range", "v")) === ((2L, 5L, false)))
    assert(r(("in_set", "s")) === ((1L, 5L, false)))
    assert(r(("matches", "w")) === ((1L, 5L, false)))
    // 4 non-distinct k values over 5 rows (NULL is its own key value)
    assert(r(("unique", "k"))._3 === false)
  }

  test("referential integrity counts probe values missing from the dimension") {
    val facts = Seq((1L, "a"), (2L, "b"), (9L, "c"), (9L, "d")).toDF("fk", "x")
    val dim = Seq(1L, 2L, 3L).toDF("id")
    val r = report(facts, Seq(RefIntegrity("fk", dim, "id")))
    assert(r(("ref_integrity", "fk")) === ((2L, 4L, false)))
  }

  test("clean data passes everything") {
    val df = Seq((1L, 5.0), (2L, 6.0)).toDF("k", "v")
    val rows = validate(df, Seq(NotNull("k"), Unique(Seq("k")), InRange("v", 0, 10)))
      .collect()
    assert(rows.length === 3 && rows.forall(_.getBoolean(4)))
  }

  test("k-anonymity audit returns exactly the under-k quasi-id groups") {
    val df = Seq(
      ("NY", 1980), ("NY", 1980), ("NY", 1980), // size 3: safe at k=3
      ("SF", 1990), ("SF", 1990),               // size 2: risky
      ("LA", 2000)                              // size 1: risky
    ).toDF("city", "birth_year")
    val risky = DataQuality.kAnonymityRisk(df, Seq("city", "birth_year"), k = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(risky === Set(("SF", 1990, 2L), ("LA", 2000, 1L)))
  }

  test("l-diversity audit flags homogeneous quasi-id groups") {
    val df = Seq(
      ("NY", "flu"), ("NY", "flu"), ("NY", "flu"),        // 1 distinct dx
      ("SF", "flu"), ("SF", "cold"),                      // 2 distinct
      ("LA", "flu"), ("LA", "cold"), ("LA", "covid")      // 3 distinct
    ).toDF("zip", "dx")
    val atL2 = DataQuality.lDiversityRisk(df, Seq("zip"), "dx", l = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(atL2 === Set(("NY", 3L, 1L)))
    val atL3 = DataQuality.lDiversityRisk(df, Seq("zip"), "dx", l = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(atL3 === Set(("NY", 3L, 1L), ("SF", 2L, 2L)))
  }

  test("t-closeness flags skewed groups a homogeneity audit clears") {
    // Global: flu 6, cold 6 (50/50). A is 1:5, B is 5:1 — both
    // l-diverse at l=2 yet both skewed by TVD
    // = ½(|5/6 − 1/2| + |1/6 − 1/2|) = 1/3 -> 333_333_333 nano (floored).
    val df = Seq(
      ("A", "flu"), ("A", "cold"), ("A", "cold"), ("A", "cold"),
      ("A", "cold"), ("A", "cold"),
      ("B", "flu"), ("B", "flu"), ("B", "flu"), ("B", "flu"),
      ("B", "flu"), ("B", "cold")).toDF("zip", "dx")
    // both groups clear l-diversity at l=2...
    assert(DataQuality.lDiversityRisk(df, Seq("zip"), "dx", l = 2).isEmpty)
    // ...but both fail t-closeness at t=0.2
    val flagged = DataQuality.tClosenessRisk(df, Seq("zip"), "dx", tNano = 200000000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(flagged === Set(("A", 6L, 333333333L), ("B", 6L, 333333333L)))
    // a category ABSENT from a group is distance: all-flu group C vs
    // the 50/50 corpus has TVD 1/2 exactly
    val df2 = Seq(("C", "flu"), ("C", "flu"), ("D", "cold"), ("D", "cold"))
      .toDF("zip", "dx")
    val f2 = DataQuality.tClosenessRisk(df2, Seq("zip"), "dx", tNano = 0L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(f2 === Set(("C", 500000000L), ("D", 500000000L)))
    // identical distributions -> zero TVD -> nothing flagged at t=0
    val even = Seq(("X", "a"), ("X", "b"), ("Y", "a"), ("Y", "b")).toDF("zip", "dx")
    assert(DataQuality.tClosenessRisk(even, Seq("zip"), "dx", tNano = 0L).isEmpty)
    // NULL sensitive values are a real category
    val withNull = Seq(("X", "a"), ("X", null), ("Y", "a"), ("Y", "a"))
      .toDF("zip", "dx")
    val f3 = DataQuality.tClosenessRisk(withNull, Seq("zip"), "dx", tNano = 100000000L)
      .collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(f3 === Set(("X", 250000000L), ("Y", 250000000L)))
  }

  test("t-closeness from merged cell states equals the direct audit") {
    import org.apache.spark.sql.functions.{col, expr}
    val df = spark.read.parquet(s"${sf()}/orders.parquet").select(
      col("o_orderpriority"), col("o_orderstatus"),
      expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 604800").as("w"))
    val quasi = Seq("o_orderpriority", "w")
    val direct = DataQuality.tClosenessRisk(df, quasi, "o_orderstatus", 150000000L)
      .collect().map(_.toSeq).sortBy(_.toString)
    val half = expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) % 2")
    val base = spark.read.parquet(s"${sf()}/orders.parquet")
    def state(p: Int) = DataQuality.tClosenessCellState(
      base.filter(half === p).select(col("o_orderpriority"), col("o_orderstatus"),
        expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 604800").as("w")),
      quasi, "o_orderstatus")
    val merged = DataQuality.tClosenessFromCells(
      state(0).union(state(1)), quasi, 150000000L)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(direct.nonEmpty && merged === direct)
  }

  test("row-local checks and uniqueness share a single scan of the input") {
    val df = spark.read.parquet(s"${sf()}/orders.parquet")
    val rep = validate(df, Seq(
      NotNull("o_custkey"), InRange("o_totalprice", 0, 1e9),
      Matches("o_orderpriority", "^[0-9]"), Unique(Seq("o_orderkey"))))
    rep.collect()
    val plan = rep.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one scan for all row-local checks, got $scans:\n$plan")
  }

  test("volumeAnomalies flags a spike against the trailing baseline, exactly") {
    import spark.implicits._
    // periods 0..6: ~100 rows each (slight jitter); period 7 normal;
    // period 8 a 5x spike; period 9 back to normal
    val rows = (0 to 9).flatMap { p =>
      val n = p match {
        case 8 => 500
        case x => 100 + (x % 3) // 100..102 jitter
      }
      (0 until n).map(i => (p.toLong, i.toLong))
    }.toDF("period", "x")
    val got = DataQuality.volumeAnomalies(rows, "period", trailingN = 7)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(got.keySet === Set(7L, 8L, 9L)) // first 7 periods lack a full baseline
    assert(!got(7L))
    assert(got(8L)) // the spike
    // period 9's baseline CONTAINS the spike, inflating mean and
    // variance together — assert the exact integer rule, not intuition
    val base9 = Seq(102L, 100L, 101L, 102L, 100L, 101L, 500L) // periods 2..8
    val (n, s1, s2) = (base9.size.toLong, base9.sum, base9.map(x => x * x).sum)
    val c9 = 100L
    val lhs = (n * c9 - s1) * (n * c9 - s1)
    val rhs = 9L * (n * s2 - s1 * s1)
    assert(got(9L) === (lhs > rhs))
  }

  test("psiDrift: identical snapshots score exactly zero in every bin") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i % 97).toDouble * 1.5 + 2.0).toDF("v")
    val out = DataQuality.psiDrift(df, df, "v", bins = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 10)
    // same counts per bin on both sides -> p == q -> (p-q)ln(p/q) == 0 exactly
    assert(out.forall { case (_, nr, nc, psi) => nr === nc && psi === 0L })
    assert(out.map(_._2).sum === 1000L)
  }

  test("psiDrift: a shifted distribution scores above the 0.25 alarm line") {
    import spark.implicits._
    val ref = (0 until 1000).map(i => (i % 100).toDouble).toDF("v")
    // current mass pushed into the top decile of the reference range
    val cur = (0 until 1000).map(i => 90.0 + (i % 10)).toDF("v")
    val psi = DataQuality.psiDrift(ref, cur, "v", bins = 10)
      .agg(org.apache.spark.sql.functions.sum("psi_nano")).head().getLong(0)
    assert(psi > 250000000L, s"PSI=$psi nano should exceed the 0.25 line")
  }

  test("psiDrift: empty bins stay in the sum and out-of-range values clamp") {
    import spark.implicits._
    val ref = (0 until 100).map(_.toDouble).toDF("v")
    // current values all BELOW the reference range -> clamp into bin 0;
    // bins 1-9 are empty on the current side yet still contribute
    val cur = (0 until 50).map(i => -10.0 - i).toDF("v")
    val rows = DataQuality.psiDrift(ref, cur, "v", bins = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 10)
    assert(rows.find(_._1 == 0L).get._3 === 50L)
    assert(rows.count(_._3 == 0L) === 9)
    // every empty bin contributes a non-zero (positive) PSI term
    assert(rows.filter(_._3 == 0L).forall(_._4 > 0L))
  }

  test("cohensKappa: hand-computed, perfect, chance-level, and degenerate tapes") {
    import spark.implicits._
    // la=[x,x,y,y] lb=[x,y,y,y]: po=3/4, pe=(2*1+2*3)/16 -> kappa=0.5
    val hand = DataQuality.cohensKappa(
      Seq(("x", "x"), ("x", "y"), ("y", "y"), ("y", "y")).toDF("a", "b"), "a", "b").head()
    assert((hand.getLong(0), hand.getLong(1), hand.getLong(2), hand.getLong(3)) ===
      ((4L, 3L, 8L, 500000L)))
    // perfect agreement over >1 label: kappa = 1 exactly
    val perfect = DataQuality.cohensKappa(
      (0 until 100).map(i => (s"l${i % 3}", s"l${i % 3}")).toDF("a", "b"), "a", "b").head()
    assert(perfect.getLong(3) === 1000000L)
    // independent annotators (every combination equally often): kappa = 0
    val chance = DataQuality.cohensKappa(
      (for (i <- 0 until 2; j <- 0 until 2; _ <- 0 until 25)
        yield (s"l$i", s"l$j")).toDF("a", "b"), "a", "b").head()
    assert(chance.getLong(3) === 0L)
    // degenerate: both annotators constant on the same label -> pe = 1,
    // po = 1 -> the 1.0 convention, not a division by zero
    val const = DataQuality.cohensKappa(
      Seq.fill(10)(("x", "x")).toDF("a", "b"), "a", "b").head()
    assert(const.getLong(3) === 1000000L)
    // NULL labels are excluded, not counted as disagreement
    val withNulls = DataQuality.cohensKappa(
      (Seq(("x", "x"), ("y", "y")) ++ Seq((null, "x"), ("x", null)))
        .toDF("a", "b"), "a", "b").head()
    assert(withNulls.getLong(0) === 2L && withNulls.getLong(3) === 1000000L)
  }

  test("psiFromState over merged per-day histograms equals the batch PSI exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 3000).map(i => (i % 4, rnd.nextGaussian() * (1 + i % 4)))
    val df = rows.toDF("day", "v")
    val ref = df.filter($"day" < 2)
    val cur = df.filter($"day" >= 2)
    val (mn, width) = DataQuality.histogramEdges(ref, "v", 10)
    // per-day states persisted and re-read, then merged by psiFromState:
    // counts are the monoid, so stored-state PSI == raw-rows PSI exactly
    val stateDir = java.nio.file.Files.createTempDirectory("psi_state_spec_")
    (0 until 4).foreach { d =>
      DataQuality.histogramState(df.filter($"day" === d), "v", mn, width, 10)
        .write.mode("overwrite").parquet(s"$stateDir/day=$d")
    }
    val fromState = DataQuality.psiFromState(
      spark.read.parquet(s"$stateDir/day=0", s"$stateDir/day=1"),
      spark.read.parquet(s"$stateDir/day=2", s"$stateDir/day=3"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val batch = DataQuality.psiDrift(ref, cur, "v", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(fromState === batch)
    // and the from-state result never re-scans the raw frame: every
    // leaf of its plan is a parquet scan of the bins-sized state
    val leaves = DataQuality.psiFromState(
      spark.read.parquet(s"$stateDir/day=0"),
      spark.read.parquet(s"$stateDir/day=1"), 10)
      .queryExecution.optimizedPlan.collectLeaves()
    val rels = leaves.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.output.map(_.name)
    }
    assert(rels.nonEmpty && rels.forall(_ == Seq("bin", "n")),
      s"state PSI must scan only (bin, n) state relations, got leaves: $leaves")
  }

  test("fleissKappa: hand-computed, perfect, degenerate, and ragged tapes") {
    import spark.implicits._
    // 2 items x 2 raters: i1 = {A,A}, i2 = {A,B}.
    // A = 2^2 + (1+1) = 6, S = 3^2 + 1^2 = 10, T = 4:
    // kappa = [4*(6-4) - 10*1] / [1*(16-10)] = -2/6 -> micro -333333
    val hand = DataQuality.fleissKappa(
      Seq((1L, "A"), (1L, "A"), (2L, "A"), (2L, "B")).toDF("item", "label"),
      "item", "label").head()
    assert((hand.getLong(0), hand.getLong(1), hand.getLong(2),
      hand.getLong(3), hand.getLong(4)) === ((2L, 2L, 6L, 10L, -333333L)))
    // per-item unanimity across >1 category: kappa = 1 exactly
    val perfect = DataQuality.fleissKappa(
      (for (i <- 0 until 30; _ <- 0 until 3) yield (i.toLong, s"l${i % 3}"))
        .toDF("item", "label"), "item", "label").head()
    assert(perfect.getLong(4) === 1000000L)
    // every rating in ONE category: S = T^2 -> the 1.0 convention
    val const = DataQuality.fleissKappa(
      (for (i <- 0 until 10; _ <- 0 until 4) yield (i.toLong, "x"))
        .toDF("item", "label"), "item", "label").head()
    assert(const.getLong(4) === 1000000L)
    // n=2 raters must agree with cohensKappa on the same tape (Fleiss
    // reduces to Scott's pi at n=2, which equals kappa when both
    // marginals coincide — symmetric disagreements keep them equal)
    val pairs = Seq(("x", "x"), ("x", "y"), ("y", "x"), ("y", "y"), ("x", "x"))
    val ck = DataQuality.cohensKappa(pairs.toDF("a", "b"), "a", "b")
      .head().getLong(3)
    val fk = DataQuality.fleissKappa(
      pairs.zipWithIndex.flatMap { case ((a, b), i) =>
        Seq((i.toLong, a), (i.toLong, b)) }.toDF("item", "label"),
      "item", "label").head().getLong(4)
    assert(fk === ck)
    // ragged panel (an item with fewer ratings) fails loud
    val e = intercept[IllegalArgumentException] {
      DataQuality.fleissKappa(
        Seq((1L, "A"), (1L, "B"), (2L, "A")).toDF("item", "label"),
        "item", "label")
    }
    assert(e.getMessage.contains("fixed rater panel"))
    // NULL items/labels are excluded as missing data
    val withNulls = DataQuality.fleissKappa(
      (Seq((1L, "A"), (1L, "A"), (2L, "B"), (2L, "B")) ++
        Seq((3L, null), (3L, null))).toDF("item", "label"), "item", "label").head()
    assert(withNulls.getLong(0) === 2L && withNulls.getLong(4) === 1000000L)
  }

  test("psiDriftCategorical: identical snapshots zero; vanished categories contribute") {
    import spark.implicits._
    val a = (0 until 600).map(i => s"cat${i % 5}").toDF("c")
    val same = DataQuality.psiDriftCategorical(a, a, "c")
      .collect().map(r => (r.getString(0), r.getLong(3)))
    assert(same.length === 5 && same.forall(_._2 === 0L))
    // category cat4 exists only in the reference; catX only in current —
    // the union spine must carry BOTH with a positive contribution
    val ref = (0 until 500).map(i => s"cat${i % 5}").toDF("c")
    val cur = ((0 until 400).map(i => s"cat${i % 4}") ++ Seq.fill(100)("catX")).toDF("c")
    val byCat = DataQuality.psiDriftCategorical(ref, cur, "c")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byCat.keySet === Set("cat0", "cat1", "cat2", "cat3", "cat4", "catX"))
    assert(byCat("cat4")._1 > 0L && byCat("cat4")._2 === 0L && byCat("cat4")._3 > 0L)
    assert(byCat("catX")._1 === 0L && byCat("catX")._2 > 0L && byCat("catX")._3 > 0L)
  }

  test("ksDrift: hand-computed distance on a tiny tape") {
    import spark.implicits._
    // ref=[1,2,3], cur=[2,3,4]: D = 1/3 -> d_num=3 over nr*nc=9
    val ref = Seq(1.0, 2.0, 3.0).toDF("v")
    val cur = Seq(2.0, 3.0, 4.0).toDF("v")
    val r = DataQuality.ksDrift(ref, cur, "v").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 3L, 3L, 333333L)))
  }

  test("ksDrift: identical snapshots score zero; disjoint supports score one") {
    import spark.implicits._
    val a = (0 until 500).map(i => (i % 37).toDouble).toDF("v")
    val same = DataQuality.ksDrift(a, a, "v").head()
    assert(same.getLong(2) === 0L && same.getLong(3) === 0L)
    val lo = (0 until 300).map(_.toDouble).toDF("v")
    val hi = (1000 until 1200).map(_.toDouble).toDF("v")
    val far = DataQuality.ksDrift(lo, hi, "v").head()
    assert(far.getLong(2) === 300L * 200L && far.getLong(3) === 1000000L)
  }

  test("ksDrift agrees with a brute-force reference on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val refV = Seq.fill(400)(rnd.nextInt(60).toDouble)
    val curV = Seq.fill(300)((rnd.nextInt(60) + rnd.nextInt(10)).toDouble)
    val got = withShufflePartitions(7)(
      DataQuality.ksDrift(refV.toDF("v"), curV.toDF("v"), "v").head())
    val values = (refV ++ curV).distinct.sorted
    val want = values.map { x =>
      val cr = refV.count(_ <= x).toLong
      val cc = curV.count(_ <= x).toLong
      math.abs(cr * curV.size - cc * refV.size)
    }.max
    assert(got.getLong(2) === want)
    assert(got.getLong(0) === 400L && got.getLong(1) === 300L)
  }

  test("ksDrift plans no single-reducer window") {
    import spark.implicits._
    val a = (0 until 200).map(_.toDouble).toDF("v")
    val plan = DataQuality.ksDrift(a, a, "v").queryExecution.executedPlan.toString
    // the cumulative window must be partitioned by the range-partition id
    // (parallel), never a bare global ORDER BY (one reducer for all rows);
    // the final scalar max's SinglePartition exchange is inherent and
    // partial-aggregated — only the window shape matters here
    assert(plan.contains("windowspecdefinition(__pid"),
      s"cumulative window not partitioned by __pid:\n$plan")
    assert(!plan.contains("windowspecdefinition(v#"),
      s"unpartitioned (single-reducer) cumulative window:\n$plan")
  }

  test("psiDrift fails loud on a constant reference") {
    import spark.implicits._
    val const = Seq.fill(10)(7.0).toDF("v")
    val e = intercept[IllegalArgumentException] {
      DataQuality.psiDrift(const, const, "v")
    }
    assert(e.getMessage.contains("constant"))
  }

  test("volumeAnomalies: zero-variance baseline flags any deviation, not equality") {
    import spark.implicits._
    val rows = ((0 to 7).flatMap(p => (0 until 50).map(i => (p.toLong, i.toLong)))
      ++ (0 until 51).map(i => (8L, i.toLong)))
      .toDF("period", "x")
    val got = DataQuality.volumeAnomalies(rows, "period", trailingN = 7)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(!got(7L)) // equal to the constant baseline: dev = 0, not flagged
    assert(got(8L))  // 51 vs constant 50: any deviation exceeds zero variance
  }

  test("mutualInfo: per-cell nano PMI matches a hand reference; marginals exact") {
    import spark.implicits._
    val df = Seq(("a", "p"), ("a", "p"), ("a", "q"), ("b", "q"))
      .toDF("x", "y")
    val got = DataQuality.mutualInfo(df, "x", "y")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    def nano(nxy: Long, nx: Long, ny: Long, n: Long) =
      math.round((nxy.toDouble / n) * math.log(nxy.toDouble * n / (nx.toDouble * ny)) * 1e9)
    assert(got === Map(
      ("a", "p") -> ((2L, 3L, 2L, nano(2, 3, 2, 4))),
      ("a", "q") -> ((1L, 3L, 2L, nano(1, 3, 2, 4))),
      ("b", "q") -> ((1L, 1L, 2L, nano(1, 1, 2, 4)))))
    // headline MI (sum of cells) is non-negative up to quantization
    assert(got.values.map(_._4).sum >= -3L)
  }

  test("w1Drift: hand-computed earth mover distance, exact integers") {
    import spark.implicits._
    def run(ref: Seq[Double], cur: Seq[Double]) =
      DataQuality.w1Drift(ref.toDF("v"), cur.toDF("v"), "v", scale = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Any]("w1_micro").toString.toDouble)).head
    // {1,2} vs {2,3}: every point moves by 1 -> W1 = 1.0
    assert(run(Seq(1.0, 2.0), Seq(2.0, 3.0)) === ((2L, 2L, 4L, 1000000.0)))
    // identical snapshots -> 0
    assert(run(Seq(5.0, 7.0, 9.0), Seq(5.0, 7.0, 9.0))._3 === 0L)
    // uniform +1 shift of {0,10} -> W1 exactly 1 even though KS is tiny
    assert(run(Seq(0.0, 10.0), Seq(1.0, 11.0))._4 === 1000000.0)
  }

  test("w1Drift equals the sorted-sample formula on equal-size random snapshots") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 200
    val xs = Seq.fill(n)(rnd.nextInt(1000).toDouble)
    val ys = Seq.fill(n)(rnd.nextInt(1000).toDouble)
    val got = DataQuality.w1Drift(xs.toDF("v"), ys.toDF("v"), "v", scale = 1L)
      .collect().head.getLong(2)
    // for equal sizes, W1 = (1/n) sum |x_(i) - y_(i)| -> w1_num = n * sum
    val expected = n.toLong * xs.sorted.zip(ys.sorted)
      .map { case (a, b) => math.abs(a - b).toLong }.sum
    assert(got === expected)
  }

  test("w1Drift fails loud on an empty side") {
    import spark.implicits._
    intercept[IllegalArgumentException](
      DataQuality.w1Drift(Seq.empty[Double].toDF("v"), Seq(1.0).toDF("v"), "v"))
  }

  test("mutualInfo: independent columns give ~zero MI cells") {
    import spark.implicits._
    // perfectly independent 2x2: every cell n_xy*n == n_x*n_y -> ln 1 = 0
    val df = Seq(("a", "p"), ("a", "q"), ("b", "p"), ("b", "q")).toDF("x", "y")
    val cells = DataQuality.mutualInfo(df, "x", "y").collect()
    assert(cells.length === 4 && cells.forall(_.getAs[Long]("mi_nano") === 0L))
  }

  test("rocAuc: perfect / reversed / tied separation, exact integers") {
    import spark.implicits._
    def run(rows: Seq[(Double, Int)]) =
      DataQuality.rocAuc(rows.toDF("score", "label"), "score", "label")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Any]("auc_micro").toString.toLong)).head
    // positives strictly above negatives -> AUC = 1
    assert(run(Seq((3.0, 1), (4.0, 1), (1.0, 0), (2.0, 0))) ===
      ((2L, 2L, 8L, 1000000L)))
    // positives strictly below -> AUC = 0
    assert(run(Seq((1.0, 1), (2.0, 1), (3.0, 0), (4.0, 0)))._4 === 0L)
    // full ties at every score -> AUC = 1/2 with the half-tie rule
    assert(run(Seq((1.0, 1), (2.0, 1), (1.0, 0), (2.0, 0))) ===
      ((2L, 2L, 4L, 500000L)))
  }

  test("rocAuc matches the O(n^2) pair-counting definition on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(150)((rnd.nextInt(20).toDouble, rnd.nextInt(2)))
    val got = DataQuality.rocAuc(rows.toDF("score", "label"), "score", "label")
      .collect().head.getLong(2)
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    // 2U = #(pos>neg)*2 + #(pos==neg)  over all cross pairs
    val u2 = pos.iterator.map(p =>
      2L * neg.count(p > _) + neg.count(p == _)).sum
    assert(got === u2)
  }

  test("rocAuc fails loud when a class is missing") {
    import spark.implicits._
    intercept[IllegalArgumentException](DataQuality.rocAuc(
      Seq((1.0, 1), (2.0, 1)).toDF("score", "label"), "score", "label"))
  }

  test("chi2Drift: hand-computed 2x2 homogeneity cells, exact integers") {
    import spark.implicits._
    // ref: A,A,A,B  cur: A,B,B,B -> classic chi2 = 2.0, split 1.0 + 1.0
    val ref = Seq("A", "A", "A", "B").toDF("c")
    val cur = Seq("A", "B", "B", "B").toDF("c")
    val got = DataQuality.chi2Drift(ref, cur, "c")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      "A" -> ((3L, 1L, 1000000L)),
      "B" -> ((1L, 3L, 1000000L))))
    // identical snapshots -> all cells exactly 0
    val same = DataQuality.chi2Drift(ref, ref, "c").collect()
    assert(same.forall(_.getLong(3) === 0L))
  }

  test("chi2Drift: NULL category is one spine row, counted on both sides") {
    import spark.implicits._
    val ref = Seq(Some("A"), None, None).toDF("c")
    val cur = Seq(Some("A"), None).toDF("c")
    val rows = DataQuality.chi2Drift(ref, cur, "c").collect()
    assert(rows.length === 2)
    val nullRow = rows.find(_.isNullAt(0)).get
    assert((nullRow.getLong(1), nullRow.getLong(2)) === ((2L, 1L)))
  }

  test("benford: digit extraction is integer-exact; expected mass hand-checked") {
    import spark.implicits._
    // cents: 100, 150, 200; zero/negative/null excluded
    val df = Seq(Some(1.0), Some(1.5), Some(2.0), Some(0.0), Some(-3.0), None)
      .toDF("v")
    val rows = DataQuality.benford(df, "v").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(rows.keySet === (1 to 9).toSet)
    assert(rows(1)._1 === 2L && rows(2)._1 === 1L && rows(3)._1 === 0L)
    assert(rows.values.forall(_._2 === 3L))
    // expected_micro(1) = round(3 * log10(2) * 1e6) = 903090
    assert(rows(1)._3 === 903090L)
    assert(rows(1)._4 === 2000000L - 903090L)
    // expected masses decrease in d and sum to ~n*1e6
    val exp = (1 to 9).map(d => rows(d)._3)
    assert(exp === exp.sortBy(-_))
    assert(math.abs(exp.sum - 3000000L) <= 5L)
  }

  test("categoryEntropy: per-cell nano terms match the hand formula") {
    import spark.implicits._
    val df = Seq("a", "a", "b", "c").toDF("v")
    val got = DataQuality.categoryEntropy(df, "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def nano(p: Double) = math.round(-p * math.log(p) * 1e9)
    assert(got === Map(
      "a" -> ((2L, 4L, nano(0.5))),
      "b" -> ((1L, 4L, nano(0.25))),
      "c" -> ((1L, 4L, nano(0.25)))))
    // single category: p = 1 -> entropy exactly 0
    val one = DataQuality.categoryEntropy(Seq("x", "x").toDF("v"), "v").collect()
    assert(one.length === 1 && one.head.getLong(3) === 0L)
  }

  test("ksFromState over merged day states is bit-identical to the recompute") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(300)((rnd.nextInt(5), rnd.nextInt(40).toDouble))
      .toDF("day", "v")
    // per-day states, then group {0,1} vs {2,3,4} from state only
    val states = (0 until 5).map(d =>
      DataQuality.valueCountState(rows.filter($"day" === d), "v"))
    val viaState = DataQuality.ksFromState(
      states(0).unionByName(states(1)),
      states(2).unionByName(states(3)).unionByName(states(4))).collect().head
    val direct = DataQuality.ksDrift(
      rows.filter($"day" < 2), rows.filter($"day" >= 2), "v").collect().head
    assert(viaState === direct)
    assert(viaState.getLong(2) > 0L) // non-vacuous fixture
  }

  test("w1FromState over the shared count state is bit-identical to the recompute") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(250)((rnd.nextInt(5), rnd.nextInt(30) / 2.0)).toDF("day", "v")
    val states = (0 until 5).map(d =>
      DataQuality.valueCountState(rows.filter($"day" === d), "v"))
    val viaState = DataQuality.w1FromState(
      states(0).unionByName(states(1)),
      states(2).unionByName(states(3)).unionByName(states(4)),
      scale = 2L).collect().head
    val direct = DataQuality.w1Drift(
      rows.filter($"day" < 2), rows.filter($"day" >= 2), "v",
      scale = 2L).collect().head
    assert(viaState === direct)
    assert(viaState.getLong(2) > 0L)
  }

  test("calibration: per-bin exact positive rates on a hand-built score") {
    import spark.implicits._
    // scores 0..9 (bins of width 0.9 over [0,9]); labels positive for
    // score >= 5 -> low bins rate 0, high bins rate 1e6
    val rows = (0 until 10).map(i => (i.toDouble, if (i >= 5) 1 else 0))
    val got = DataQuality.calibration(rows.toDF("s", "y"), "s", "y", bins = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // width 1.8: bins get scores {0,1},{2,3},{4,5},{6,7},{8,9}
    assert(got === Map(
      0L -> ((2L, 0L, 0L)), 1L -> ((2L, 0L, 0L)),
      2L -> ((2L, 1L, 500000L)),
      3L -> ((2L, 2L, 1000000L)), 4L -> ((2L, 2L, 1000000L))))
  }

  test("fdViolations: only determinant values with >1 dependent surface") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("x")), (1L, Some("x")),              // clean key
      (2L, Some("x")), (2L, Some("y")), (2L, Some("y")), // violation: 2 values
      (3L, Some("x")), (3L, None)                    // NULL dependent ignored
    ).toDF("k", "v")
    val got = DataQuality.fdViolations(df, Seq("k"), "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((2L, 3L, 2L)))
  }
}
