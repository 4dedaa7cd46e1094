package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's one k-means (`Similarity.kmeansFit`): planted-centre
  * recovery across sample partitions, determinism, the sample cap, the
  * loud width errors, and the Spark jobs of every operator that fits. */
class KMeansFitSpec extends SparkTestBase {
  import spark.implicits._

  private val Dim = 16
  private val Centres = 16
  private val PerCentre = 64

  /** Centre c is 10·e_c (pairwise distance ≈ 14.1); each point adds
    * σ = 0.05 Gaussian noise per component. Returns (id, v) and the
    * planted centres. */
  private def planted(seed: Long): (DataFrame, Seq[Array[Double]]) = {
    val rnd = new scala.util.Random(seed)
    val centres = (0 until Centres).map(c => Array.tabulate(Dim)(t => if (t == c) 10.0 else 0.0))
    val rows = for (c <- 0 until Centres; i <- 0 until PerCentre)
      yield ((c * PerCentre + i).toLong, centres(c).map(_ + 0.05 * rnd.nextGaussian()).toSeq)
    (rows.toDF("id", "v").repartition(4, col("id")), centres)
  }

  private def fit(df: DataFrame, k: Int = Centres, m: Int = 1,
      maxFitVectors: Long = 1000000L): Similarity.Fit =
    Similarity.kmeansFit(df, df.count(), Seq(Similarity.Quantizer(k, m)), 42L,
      maxFitVectors)

  /** Task counts of the stages of the last fit job `body` starts, in
    * stage-id order: the sampling scan, then the fit. */
  private def fitStages(body: => Any): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    @volatile var stages = Seq.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") ==
            "ext.Similarity.kmeans")) stages = e.stageInfos.sortBy(_.stageId).map(_.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try jobsOf(body) finally spark.sparkContext.removeSparkListener(listener)
    stages
  }

  test("fit recovers 16 planted centres from several sample partitions, deterministically") {
    val (df, centres) = planted(11L)
    // a sample this small is fitted whole, so split it by hand
    val sample = spark.sparkContext.parallelize(df.select("v").as[Array[Double]].collect().toSeq, 4)
    def fitSplit() = Similarity.fitPartitions(sample, Seq(Similarity.Quantizer(Centres, 1)), 42L)
    val got = fitSplit()
    assert(got.dim === Dim)
    val ctrs = got.centroids.head.head.grouped(Dim).toSeq
    assert(ctrs.length === Centres)
    // each centre's mean of 64 points lies within ~0.05·√(16/64) of it
    centres.foreach { c =>
      val d = ctrs.map(x => math.sqrt(x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      assert(d < 0.1, s"planted centre ${c.indexOf(10.0)} recovered only within $d")
    }
    assert(fitSplit().centroids.head.head.toSeq === got.centroids.head.head.toSeq,
      "same seed and layout, same centroids")
  }

  test("the sample holds at most min(maxFitVectors, k × 256) vectors") {
    val (df, _) = planted(12L)
    val n = df.count()
    def points(k: Int, maxFitVectors: Long): Long =
      Similarity.fitSample(df, n, k, 42L, maxFitVectors).count()
    val byMax = points(Centres, 200L)
    assert(byMax > 0 && byMax <= 200, s"$byMax points read")
    val byK = points(2, 1000000L)
    assert(byK > 0 && byK <= 2 * 256, s"$byK points read")
    assert(points(Centres, 1000000L) === n)
  }

  test("the fit scans with the corpus's parallelism; only the sample shuffles") {
    val (df, _) = planted(14L)
    val dir = java.nio.file.Files.createTempDirectory("kmeans_scan").toString + "/t"
    df.repartition(16).write.parquet(dir)
    // one file per scan partition: a partition holds at most one small
    // file plus its open cost
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", spark.conf.get("spark.sql.files.openCostInBytes"))
    try {
      val corpus = spark.read.parquet(dir)
      assert(corpus.rdd.getNumPartitions === 16)
      val stages = fitStages(fit(corpus))
      // 1024 points × 16 cells is one partition's worth of fit
      assert(stages === Seq(16, 1), "scan tasks, then fit tasks")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("a vector of another width fails the fit loud") {
    val df = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0)), (2L, Seq(1.0, 2.0, 3.0)),
      (3L, Seq(0.0, 1.0, 0.0, 1.0))).toDF("id", "v").coalesce(1)
    val e = intercept[Exception](fit(df, k = 2))
    assert(e.getMessage.contains("centroid_argmin: vector dim 3 != centroid dim 4"), e.getMessage)
    val (pl, _) = planted(13L)
    val odd = intercept[IllegalArgumentException](fit(pl, k = 4, m = 5))
    assert(odd.getMessage.contains("vector dim 16 must divide into m=5 subspaces"))
  }

  test("every fitting operator: Spark jobs for build + collect (job-count guard)") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val twins = emb.select(col("vec_id"), col("embedding"))
    def jobs(body: => Any): Seq[String] = jobsOf(body)._2
    val counts = Seq(
      "ivfTopK" -> jobs(Similarity.ivfTopK(emb, q, k = 10).collect()),
      "ivfCentroidState" -> jobs(Similarity.ivfCentroidState(emb, nCells = 8).collect()),
      "pqCodebookState" -> jobs(Similarity.pqCodebookState(emb).collect()),
      "ivfPqTopK" -> jobs(Similarity.ivfPqTopK(emb, q, k = 10, refine = 50).collect()),
      "semdedup" -> jobs(Dedup.semdedup(twins, threshold = 0.9).collect()))
    counts.foreach { case (name, descs) =>
      info(s"$name: ${descs.size} jobs")
      // semdedup samples behind its repartition barrier, whose shuffle
      // map stage AQE runs as a job of its own inside the fit phase
      assert(descs.count(_ == "ext.Similarity.kmeans") === (if (name == "semdedup") 2 else 1),
        s"$name: named fit jobs")
    }
    // with spark.ml k-means: 20, 19, 134, 156 and 30 jobs
    assert(counts.map { case (n, d) => n -> d.size } ===
      Seq("ivfTopK" -> 8, "ivfCentroidState" -> 3, "pqCodebookState" -> 3,
        "ivfPqTopK" -> 10, "semdedup" -> 13))
  }
}
