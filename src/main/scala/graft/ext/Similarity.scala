package graft.ext

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Centroids

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - bruteForceTopK: exact cosine top-k. The query set is broadcast, so
  *    the corpus is scanned once with no shuffle of the vectors; the only
  *    shuffle carries (query, id, sim) triples for the per-query top-k.
  *    At 100 TB this is the correct shape when |queries| is small.
  *    Every path also takes broadcastQueries=false for CORPUS-SIZED
  *    query tables (batch scoring): the query side then shuffles like
  *    the corpus side instead of being copied to every executor.
  *  - lshTopK: sign-random-projection LSH. Each vector hashes to a B-bit
  *    bucket via fixed pseudo-random hyperplanes; search touches only the
  *    query's bucket (plus optional 1-bit probes), trading exact recall
  *    for a corpus-size-independent candidate set per bucket.
  *
  * All arithmetic is double-precision sequential fold (`zip_with` +
  * `aggregate`), codegen'd, no UDF.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns (kept for
    * composition; the hot path uses the fused native expression). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-pass cosine (native expression; same left-to-right
    * accumulation order as the declarative form, so results are
    * bit-identical — the DuckDB oracle depends on that). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.sketches.cosine_similarity(a, b)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** The query-side distribution switch shared by every search path:
    * hint a broadcast when the query set is dimension-sized (one corpus
    * scan, zero query shuffle — the default), or leave the join to
    * shuffle both sides when the query set is itself corpus-sized
    * (dedup-style batch scoring: broadcasting it would OOM every
    * executor at scale, while a shuffle join partitions BOTH sides by
    * the join key and streams). */
  private def hinted(queries: DataFrame, broadcastQueries: Boolean): DataFrame =
    if (broadcastQueries) broadcast(queries) else queries

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol) table — arbitrarily large
    * @param queries (idCol, vecCol) table — broadcast while
    *                dimension-sized; pass broadcastQueries=false for a
    *                corpus-sized query table (partitioned cartesian
    *                block join, no driver-sized copy)
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true, broadcastQueries: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val joined = c.crossJoin(hinted(q, broadcastQueries))
    val scored = (if (excludeSelf) joined.filter(col("id") =!= col("query_id")) else joined)
      .select(col("query_id"), col("id"),
        cosine(col("qv"), col("v")).as("sim"))
    // deterministic: ties broken by neighbor id
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * k most similar corpus vectors whose LABEL DIFFERS — the near-miss
    * negatives that sharpen an embedding model, mined with the exact
    * same one-corpus-scan topology as [[bruteForceTopK]]. The label
    * exclusion runs BEFORE the top-k cut (a query surrounded by its own
    * positives still yields k true negatives), and ties break on
    * neighbor id, so output is partitioning-independent. Swap in the
    * IVF candidate set upstream when the corpus outgrows a full scan. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", broadcastQueries: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      col(labelCol).as("__cl"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"),
      col(labelCol).as("__ql"))
    val scored = c.crossJoin(hinted(q, broadcastQueries))
      .filter(!(col("__cl") <=> col("__ql")))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("v")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
  }

  /** B pseudo-random hyperplanes with Rademacher (+1/-1) components,
    * derived deterministically from splitmix64(plane, dim): reproducible
    * across runs and machines with zero stored model state. Native
    * Catalyst expression (graft.functions.SrpSignature) — the planes×dim
    * loop stays out of interpreted lambda dispatch. */
  def srpSignature(vec: Column, planes: Int): Column =
    graft.functions.sketches.srp_signature(vec, planes)

  /** Training points per centroid at most (FAISS's
    * `max_points_per_centroid`): a fit reads no more than
    * `min(maxFitVectors, k × PointsPerCentroid)` sampled vectors. */
  private final val PointsPerCentroid = 256
  /** Point-centroid pairs of one Lloyd's round per fit partition (about
    * 0.07 s of one core at d = 64). A sample with fewer pairs is fitted
    * by ONE Lloyd's over all of it: splitting it saves little time, and
    * a merged fit is no longer fitted to the points it was trained on,
    * which splits more near-duplicate pairs across cells. */
  private final val PairsPerPartition = 1L << 20
  /** Lloyd's rounds of every fit, partition-local and driver merge. */
  private final val Iterations = 10

  /** One quantizer of a fit: the vector splits into `m` equal subspaces
    * (1 = the whole vector, the IVF coarse quantizer; m = the PQ
    * subspaces) and each subspace gets `k` centroids. */
  private[ext] final case class Quantizer(k: Int, m: Int)

  /** A [[kmeansFit]] result: the vector width and, per quantizer and
    * subspace, the row-major centroid matrix. */
  private[ext] final case class Fit(dim: Int, centroids: Seq[IndexedSeq[Array[Double]]])

  /** The bounded training sample of a fit over `prepared` (`id`, `v`
    * array<double>, `total` rows) for quantizers of at most `kMax`
    * centroids: a Bernoulli sample of about S = `min(maxFitVectors, kMax
    * × 256)` non-null vectors. The scan and the sample run with the
    * corpus's own parallelism; only the sampled vectors shuffle, keyed by
    * a hash of the row id, onto ⌈S × kMax / 2^20⌉ partitions, at most
    * ⌊√(S / kMax)⌋ (so the driver's merge input, ≤ partitions × k
    * points, is no larger than one partition's share). Each partition
    * keeps its lowest-hash vectors up to its share of the cap, so which
    * rows train depends neither on scan or fetch order nor on file
    * order. Lazy: the shuffle runs inside the job that reads it. */
  private[ext] def fitSample(prepared: DataFrame, total: Long, kMax: Int, seed: Long,
      maxFitVectors: Long): RDD[Array[Double]] = {
    val cap = math.max(1L, math.min(maxFitVectors, kMax.toLong * PointsPerCentroid))
    val frac = cap.toDouble / math.max(total, 1L)
    val size = math.min(cap, total)
    val nParts = math.max(1L, math.min((size * kMax + PairsPerPartition - 1) / PairsPerPartition,
      math.sqrt(size.toDouble / kMax).toLong)).toInt
    val quota = (cap / nParts).toInt
    (if (frac < 1.0) prepared.sample(withReplacement = false, frac, seed) else prepared)
      .filter(col("v").isNotNull)
      .select(xxhash64(col("id")).as("h"), col("v"))
      .queryExecution.toRdd
      .map(r => (r.getLong(0), r.getArray(1).toDoubleArray()))
      .repartitionAndSortWithinPartitions(new HashPartitioner(nParts))
      .mapPartitions(_.take(quota).map(_._2))
  }

  /** The engine's one k-means: fits every quantizer of `qs` over the
    * [[fitSample]] of `prepared` (`id`, `v` array<double>, `total` rows)
    * with [[fitPartitions]], in ONE Spark job named
    * `ext.Similarity.kmeans`: the job's map stage scans and samples the
    * corpus, its result stage fits. */
  private[ext] def kmeansFit(prepared: DataFrame, total: Long, qs: Seq[Quantizer],
      seed: Long, maxFitVectors: Long): Fit =
    graft.Obs.phase(prepared.sparkSession.sparkContext, "ext.Similarity.kmeans") {
      fitPartitions(fitSample(prepared, total, qs.map(_.k).max, seed, maxFitVectors), qs, seed)
    }

  /** Divide-and-conquer clustering (Guha et al., TKDE 2003) of the
    * vectors of `sample`, in one `runJob`: each partition runs a seeded
    * weighted Lloyd's ([[lloyd]]) on every subspace of every quantizer
    * of `qs` and returns weighted centroids; the driver reclusters their
    * union per subspace with the same Lloyd's (the weighted recluster of
    * k-means||, Bahmani et al., VLDB 2012). Subspace j seeds from `seed
    * + j` (plus the partition index in the tasks). One partition is one
    * plain Lloyd's: its ≤ k centroids come back from the merge
    * unchanged.
    *
    * Cost: a task's Lloyd's is O(share × k × d × 11) and the driver's
    * merge O(partitions × k² × d × 11); at the √ partition bound the two
    * are equal. There the fit's critical path (one task, then the
    * merge) is about 2 × √(S × k) × k × d × 11 point-component steps for
    * a sample of S points, however many cores there are, where a
    * distributed Lloyd's (spark.ml) divides its S × k × d × 10 among all
    * cores. Each centroid matrix has k rows, or fewer when the sample
    * holds fewer than k points. Fails loud on a vector of another
    * width (the `centroid_argmin` message, against the most common width
    * of its partition) and on a width that does not divide into a
    * quantizer's m subspaces. */
  private[ext] def fitPartitions(sample: RDD[Array[Double]], qs: Seq[Quantizer],
      seed: Long): Fit = {
    val parts = sample.sparkContext.runJob(sample, {
        (task: TaskContext, rows: Iterator[Array[Double]]) =>
      val vecs = rows.toArray
      val dim = if (vecs.isEmpty) -1 else vecs.groupBy(_.length).maxBy(_._2.length)._1
      vecs.find(_.length != dim).foreach(v => throw Centroids.dimMismatch(v.length, dim))
      val n = vecs.length
      if (n == 0 || dim == 0 || qs.exists(dim % _.m != 0)) (dim, Seq.empty)
      else {
        val flat = vecs.flatten
        val ones = Array.fill(n)(1.0)
        (dim, qs.map { q =>
          val width = dim / q.m
          (0 until q.m).map(j => lloyd(flat, dim, j * width, width, ones, n, q.k,
            seed + j + task.partitionId()))
        })
      }
    })
    val fitted = parts.filter(_._2.nonEmpty)
    val dims = parts.map(_._1).filter(_ >= 0).distinct
    if (dims.length > 1) throw Centroids.dimMismatch(dims(1), dims(0))
    require(dims.nonEmpty, "k-means fit: the sample holds no vectors")
    val dim = dims.head
    qs.foreach(q => require(dim > 0 && dim % q.m == 0,
      s"vector dim $dim must divide into m=${q.m} subspaces"))
    Fit(dim, qs.indices.map { qi =>
      val q = qs(qi)
      val width = dim / q.m
      (0 until q.m).map { j =>
        // the union of every partition's non-empty weighted centroids
        val local = fitted.flatMap { case (_, fits) =>
          val (ctrs, ws) = fits(qi)(j)
          ws.indices.filter(ws(_) > 0.0).map(c => (ctrs.slice(c * width, (c + 1) * width), ws(c)))
        }
        lloyd(local.flatMap(_._1).toArray, width, 0, width, local.map(_._2).toArray,
          local.length, q.k, seed + j)._1
      }
    })
  }

  /** Weighted Lloyd's over `n` points of `width` components, point i at
    * `pts(i * stride + off)` with weight `w(i)`: k-means++ seeding
    * (Arthur & Vassilvitskii, SODA 2007: each next centre drawn with
    * probability ∝ weight × squared distance to the nearest chosen one,
    * from `seed`), then [[Iterations]] rounds of assign-and-average. No
    * more than `k` points come back unchanged; an empty cell keeps its
    * centroid. Returns the row-major centroid matrix and each cell's
    * weight in the last assignment. Deterministic for a given input. */
  private def lloyd(pts: Array[Double], stride: Int, off: Int, width: Int,
      w: Array[Double], n: Int, k: Int, seed: Long): (Array[Double], Array[Double]) = {
    if (n <= k) {
      val flat = new Array[Double](n * width)
      (0 until n).foreach(i => System.arraycopy(pts, i * stride + off, flat, i * width, width))
      return (flat, w.take(n))
    }
    val rng = new java.util.Random(seed)
    val cent = new Array[Double](k * width)
    // mass(i) = w(i) × squared distance to the nearest chosen centre
    val mass = w.take(n)
    var total = mass.foldLeft(0.0)(_ + _)
    (0 until k).foreach { c =>
      val r = rng.nextDouble() * total
      var pick = 0
      var acc = mass(0)
      while (acc <= r && pick < n - 1) { pick += 1; acc += mass(pick) }
      if (acc <= r) pick = c
      System.arraycopy(pts, pick * stride + off, cent, c * width, width)
      total = 0.0
      var i = 0
      while (i < n) {
        val m = w(i) * Centroids.sqDist(pts, i * stride + off, cent, c * width, width)
        if (c == 0 || m < mass(i)) mass(i) = m
        total += mass(i)
        i += 1
      }
    }
    val sums = new Array[Double](k * width)
    val cnt = new Array[Double](k)
    (0 until Iterations).foreach { _ =>
      java.util.Arrays.fill(sums, 0.0)
      java.util.Arrays.fill(cnt, 0.0)
      var i = 0
      while (i < n) {
        val p = i * stride + off
        val c = Centroids.nearest(pts, p, cent, 0, k, width)
        cnt(c) += w(i)
        var t = 0
        while (t < width) { sums(c * width + t) += w(i) * pts(p + t); t += 1 }
        i += 1
      }
      (0 until k).filter(cnt(_) > 0.0).foreach { c =>
        (0 until width).foreach(t => cent(c * width + t) = sums(c * width + t) / cnt(c))
      }
    }
    (cent, cnt)
  }

  /** The √N cell-count rule of the coarse quantizer: `nCells`, or when
    * `nCells <= 0` √N clamped to [16, 4096]; always in [2, total]. */
  private def cellCount(nCells: Int, total: Long): Int =
    math.max(2, math.min(
      if (nCells > 0) nCells.toLong
      else math.max(16L, math.min(4096L, math.sqrt(total.toDouble).toLong)),
      total).toInt)

  /** Assigns every vector of `prepared` (`id`, `v`) to its nearest row of
    * the flat centroid matrix in one map-side pass: the codegen'd
    * `centroid_argmin` over a BROADCAST matrix, no shuffle. Returns the
    * (id, v, cell) frame and the (cell, centroid) list (cells-sized —
    * control plane). */
  private def assignCells(prepared: DataFrame, flat: Array[Double], dim: Int)
      : (DataFrame, Seq[(Int, Array[Double])]) = {
    val bcCentroids = prepared.sparkSession.sparkContext.broadcast(flat)
    val assigned = prepared
      .withColumn("cell", graft.functions.sketches.centroid_argmin(col("v"), bcCentroids, dim))
      .select("id", "v", "cell")
    (assigned, (0 until flat.length / dim).map(c => (c, flat.slice(c * dim, (c + 1) * dim))))
  }

  /** Shared coarse quantizer: fit K-Means on a bounded sample
    * ([[kmeansFit]]: one count, one fit job), assign every vector to its
    * nearest centroid ([[assignCells]]). Powers [[ivfTopK]],
    * [[ivfCentroidState]] and [[graft.ext.Dedup.semdedup]].
    *
    * 100 TB shape: the quantizer trains on at most `maxFitVectors`
    * sampled rows (and 256 per cell), nothing is cached, and the full
    * corpus is touched by one count, the fit job's sampling scan (at
    * the corpus's parallelism) and one assignment pass. `nCells <=
    * 0` auto-sizes by the √N rule (clamped to [16, 4096]) so cell
    * population stays ~√N as the corpus grows. */
  private[ext] def kmeansCells(prepared: DataFrame, nCells: Int, seed: Long,
      maxFitVectors: Long): (DataFrame, Seq[(Int, Array[Double])]) = {
    // parquet-backed count is a metadata-cheap pass; it sizes both the
    // fit sample fraction and the auto cell count
    val total = prepared.count()
    val fit = kmeansFit(prepared, total,
      Seq(Quantizer(cellCount(nCells, total), 1)), seed, maxFitVectors)
    assignCells(prepared, fit.centroids.head.head, fit.dim)
  }

  /** IVF (inverted-file) approximate top-k: K-Means centroids partition
    * the corpus into cells; each query searches only its `nProbe` nearest
    * cells, re-ranked by exact cosine. The classic ANN scale path when a
    * trained coarse quantizer is acceptable: candidate count is
    * corpus/k × nProbe regardless of corpus size. Deterministic via fixed
    * seed. The quantizer is the engine's own k-means ([[kmeansFit]]),
    * fitted in one Spark job.
    *
    * 100 TB shape: the quantizer trains on a bounded sample (at most
    * `maxFitVectors` rows and 256 per cell, never cached); the full
    * corpus is touched by one count, the fit job's sampling scan and one
    * assignment pass feeding the candidate join. `nCells <= 0`
    * auto-sizes cells by the √N rule (clamped to [16, 4096]) so cell
    * population stays ~√N as the corpus grows. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int = 0,
      nProbe: Int = 4, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true, maxFitVectors: Long = 1000000L,
      broadcastQueries: Boolean = true): DataFrame = {
    val prepared = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val (assigned, centroids) = kmeansCells(prepared, nCells, seed, maxFitVectors)
    val centDf = corpus.sparkSession.createDataFrame(centroids).toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    ivfSearch(assigned, centDf, q, k, nProbe, excludeSelf, broadcastQueries)
  }

  /** Persisted IVF coarse-quantizer state: one (cell, centroid) row per
    * K-Means cell — the train-once discipline ([[pqCodebookState]]'s
    * twin for the coarse quantizer). Fit on ingest, persist the frame,
    * and every later search assigns + probes via [[ivfTopKFromState]]
    * with ZERO fits. Control-plane sized (cells rows). */
  def ivfCentroidState(corpus: DataFrame, nCells: Int = 0, seed: Long = 42L,
      maxFitVectors: Long = 1000000L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val prepared = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val (_, centroids) = kmeansCells(prepared, nCells, seed, maxFitVectors)
    corpus.sparkSession.createDataFrame(centroids).toDF("cell", "centroid")
  }

  /** [[ivfTopK]] off a persisted [[ivfCentroidState]] frame — search
    * with ZERO K-Means fits: the stored centroids rebuild the broadcast
    * flat matrix (control-plane collect), the corpus assigns in one
    * codegen'd argmin pass, and probing/re-ranking run identically to
    * the fresh-fit path (same centroids ⇒ bit-identical results,
    * pinned by spec). */
  def ivfTopKFromState(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true,
      broadcastQueries: Boolean = true): DataFrame =
    ivfTopKFromAssigned(
      assignFromCentroidState(corpus, centroids, idCol, vecCol),
      queries, centroids, k, nProbe, idCol, vecCol,
      excludeSelf, broadcastQueries)

  /** Cell assignment off a persisted [[ivfCentroidState]] frame: the
    * stored centroids rebuild the broadcast flat matrix (control-plane
    * collect) and the corpus assigns in ONE codegen'd argmin pass.
    * Returns the (id, v, cell) postings frame — the IVF index's
    * append-only unit (same centroids ⇒ same cells, so per-batch
    * assignments union into exactly the one-shot assignment). */
  def assignFromCentroidState(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val prepared = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val rows = centroids.select(col("cell").cast("int"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    require(rows.nonEmpty, "empty IVF centroid state")
    val cells = rows.map(_._1).max + 1
    require(rows.length == cells && rows.map(_._1).toSet.size == cells,
      s"centroid state must carry contiguous cells 0..${cells - 1}")
    val dim = rows.head._2.length
    require(rows.forall(_._2.length == dim), "ragged centroid widths in state")
    val flat = new Array[Double](cells * dim)
    rows.foreach { case (c, ctr) => System.arraycopy(ctr, 0, flat, c * dim, dim) }
    assignCells(prepared, flat, dim)._1
  }

  /** IVF search over an already-assigned (id, v, cell) postings frame —
    * the face a persisted/streamed index serves queries from (probing
    * and re-ranking identical to the fresh-fit path). */
  def ivfTopKFromAssigned(assigned: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true,
      broadcastQueries: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    ivfSearch(assigned.select(col("id"), col("v"), col("cell")),
      centroids.select(col("cell"), col("centroid")), q,
      k, nProbe, excludeSelf, broadcastQueries)
  }

  /** Shared IVF search tail: probe each query's nProbe nearest cells by
    * centroid cosine, exact-cosine re-rank within the probed cells. */
  private def ivfSearch(assigned: DataFrame, centDf: DataFrame, q: DataFrame,
      k: Int, nProbe: Int, excludeSelf: Boolean,
      broadcastQueries: Boolean): DataFrame = {
    // corpus-sized query sets shuffle-join on cell id instead of
    // broadcasting the probe set (cell is the natural co-location key)
    val cand = assigned.join(hinted(probeCells(centDf, q, nProbe), broadcastQueries), "cell")
    val scored = (if (excludeSelf) cand.filter(col("id") =!= col("query_id")) else cand)
      .select(col("query_id"), col("id"), cosine(col("qv"), col("v")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
  }

  /** Each query's `nProbe` nearest cells by centroid cosine, ties by
    * cell id: (query_id, qv, cell). */
  private def probeCells(centDf: DataFrame, q: DataFrame, nProbe: Int): DataFrame = {
    val wCell = Window.partitionBy("query_id").orderBy(col("cell_sim").desc, col("cell").asc)
    q.crossJoin(broadcast(centDf))
      .withColumn("cell_sim", cosine(col("qv"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= nProbe)
      .select("query_id", "qv", "cell")
  }

  /** Approximate top-k via SRP-LSH bucketing: candidates are corpus
    * vectors whose `planes`-bit signature matches the query's exactly
    * (multi-probe over all 1-bit flips when `probe1` is set), re-ranked by
    * exact cosine.
    *
    * `probeAll` probes EVERY one of the 2^planes buckets — the
    * candidate set is then the whole corpus and the result provably
    * equals [[bruteForceTopK]]: the approximation in the default
    * configuration is ONLY probe selection, and the exhaustive face
    * pins the signature/bucket-join/re-rank machinery against the SQL
    * oracle (the `sim_topk_ivf_exact` trick). Diagnostic-scale only
    * (2^planes probe rows per query). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 12,
      probe1: Boolean = true, probeAll: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true, broadcastQueries: Boolean = true): DataFrame = {
    require(!probeAll || planes <= 16,
      s"probeAll explodes 2^planes buckets per query; planes=$planes is too wide")
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("sig", srpSignature(col("v"), planes))
    val qBase = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qsig", srpSignature(col("qv"), planes))
    // probe buckets: every bucket (exhaustive face), or the exact
    // signature plus optionally all 1-bit flips
    val probes =
      if (probeAll)
        qBase.select(col("query_id"), col("qv"),
          explode(sequence(lit(0L), lit((1L << planes) - 1L))).as("sig"))
      else if (probe1)
        qBase.select(col("query_id"), col("qv"), explode(
          array_union(
            array(col("qsig")),
            transform(sequence(lit(0), lit(planes - 1)),
              p => col("qsig").bitwiseXOR(call_function("shiftleft", lit(1L), p)))))
          .as("sig"))
      else qBase.withColumnRenamed("qsig", "sig")
    // corpus-sized query sets bucket by signature exactly like the
    // corpus side: an equi-join on sig shuffles both sides by the same
    // key — batch scoring without a driver-sized broadcast
    val cand = c.join(hinted(probes, broadcastQueries), "sig")
    val scored = (if (excludeSelf) cand.filter(col("id") =!= col("query_id")) else cand)
      .select(col("query_id"), col("id"), cosine(col("qv"), col("v")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
  }

  /** Product-quantization codebooks fit per subspace (Jégou et al.
    * 2011): the vector splits into `m` contiguous subvectors and each
    * subspace gets its own `codebookSize`-centroid K-Means — the
    * compression that turns a 256-byte float vector into `m` small
    * codes while ADC search stays accurate. All m subspaces fit in the
    * same pass of [[kmeansFit]] (one count, one fit job); the corpus is
    * never cached. */
  private[ext] def pqCodebooks(prepared: DataFrame, m: Int,
      codebookSize: Int, seed: Long, maxFitVectors: Long)
      : (org.apache.spark.broadcast.Broadcast[Array[Double]], Int) = {
    val fit = kmeansFit(prepared, prepared.count(),
      Seq(Quantizer(codebookSize, m)), seed, maxFitVectors)
    pqBroadcast(prepared, fit.dim / m, codebookSize, fit.centroids.head)
  }

  /** The broadcast flat codebook (layout `[((j·k + c)·dsub) + t]`) of
    * fitted `subspaces`, and the subvector width. A subspace fitted on
    * fewer than `codebookSize` points repeats its centroids, which
    * first-min-wins encoding never picks. */
  private def pqBroadcast(prepared: DataFrame, dsub: Int, codebookSize: Int,
      subspaces: IndexedSeq[Array[Double]])
      : (org.apache.spark.broadcast.Broadcast[Array[Double]], Int) = {
    val flat = new Array[Double](subspaces.length * codebookSize * dsub)
    subspaces.zipWithIndex.foreach { case (ctrs, j) =>
      (0 until codebookSize).foreach { c =>
        System.arraycopy(ctrs, c % (ctrs.length / dsub) * dsub, flat,
          (j * codebookSize + c) * dsub, dsub)
      }
    }
    (prepared.sparkSession.sparkContext.broadcast(flat), dsub)
  }

  /** Persisted PQ codebook state: one (subspace, code, centroid) row
    * per cell of the product codebook — the train-once discipline the
    * other incremental-state operators follow. Fit on ingest (bounded
    * sample, one fit job for all m subspaces), write this frame next to
    * the data, and every later search/encode pass loads it via
    * [[pqTopKFromState]] instead of re-running the fit. The
    * frame is control-plane sized (m·codebookSize rows). */
  def pqCodebookState(corpus: DataFrame, m: Int = 8, codebookSize: Int = 16,
      seed: Long = 42L, maxFitVectors: Long = 100000L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val (bc, dsub) = pqCodebooks(c, m, codebookSize, seed, maxFitVectors)
    val flat = bc.value
    val rows = for (j <- 0 until m; cc <- 0 until codebookSize) yield {
      val off = (j * codebookSize + cc) * dsub
      (j, cc, flat.slice(off, off + dsub).toSeq)
    }
    corpus.sparkSession.createDataFrame(rows)
      .toDF("subspace", "code", "centroid")
  }

  /** Rebuild the broadcast flat codebook from a persisted
    * [[pqCodebookState]] frame (control-plane sized collect). */
  private def flatFromState(state: DataFrame)
      : (org.apache.spark.broadcast.Broadcast[Array[Double]], Int, Int, Int) = {
    val rows = state.select(col("subspace").cast("int"),
        col("code").cast("int"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    require(rows.nonEmpty, "empty PQ codebook state")
    val m = rows.map(_._1).max + 1
    val codebookSize = rows.map(_._2).max + 1
    val dsub = rows.head._3.length
    require(rows.length == m * codebookSize &&
      rows.map(r => (r._1, r._2)).toSet.size == rows.length,
      s"codebook state incomplete or duplicated: ${rows.length} rows " +
        s"for m=$m k=$codebookSize")
    val flat = new Array[Double](m * codebookSize * dsub)
    rows.foreach { case (j, cc, ctr) =>
      require(ctr.length == dsub, "ragged centroid widths in codebook state")
      var t = 0
      while (t < dsub) { flat((j * codebookSize + cc) * dsub + t) = ctr(t); t += 1 }
    }
    (state.sparkSession.sparkContext.broadcast(flat), m, codebookSize, dsub)
  }

  /** PQ approximate top-k with asymmetric distance (ADC): the corpus is
    * encoded ONCE into m-code rows (32× smaller than raw vectors — the
    * embedding-store compression path), queries stay exact, and each
    * candidate scores as the squared L2 to its reconstruction. The
    * encode pass and the scoring are codegen-path native expressions
    * over a BROADCAST flat codebook — no per-row model UDF, no shuffle
    * beyond the per-query top-k. Deterministic: fixed fit seed,
    * first-min-wins code assignment, (distance asc, id asc) tie order.
    * Approximation = quantization distortion only, pinned by a seeded
    * recall battery (no SQL oracle exists for a trained quantizer —
    * rows-only driver row, like IVF/LSH).
    *
    * 100 TB shape: m fits on a bounded sample (one count and one fit
    * job, whose sampling scan reads the corpus); ONE corpus pass encodes;
    * search touches only (id, codes) rows — at dim=64/m=8 that is 8
    * ints instead of 64 floats per row, which is the whole point:
    * the scan that dominates ANN at scale shrinks ~8×, and the exact
    * vectors never travel. Compose with the IVF cell filter upstream
    * when even the code scan is too big. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      codebookSize: Int = 16, refine: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = true,
      broadcastQueries: Boolean = true, seed: Long = 42L,
      maxFitVectors: Long = 100000L): DataFrame = {
    requireRefine(k, refine)
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val (bc, dsub) = pqCodebooks(c, m, codebookSize, seed, maxFitVectors)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    pqSearch(c, q, bc, m, dsub, codebookSize, k, refine, excludeSelf,
      broadcastQueries)
  }

  /** [[pqTopK]] off a persisted [[pqCodebookState]] frame — search with
    * ZERO K-Means fits: the stored codebooks rebuild the broadcast
    * table (control-plane collect), the corpus encodes in one pass,
    * and ADC + optional exact refine run identically to the fresh-fit
    * path (same codebooks ⇒ bit-identical results, pinned by spec). */
  def pqTopKFromState(corpus: DataFrame, queries: DataFrame,
      codebooks: DataFrame, k: Int, refine: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true,
      broadcastQueries: Boolean = true): DataFrame = {
    requireRefine(k, refine)
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val (bc, m, codebookSize, dsub) = flatFromState(codebooks)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    pqSearch(c, q, bc, m, dsub, codebookSize, k, refine, excludeSelf,
      broadcastQueries)
  }

  private def requireRefine(k: Int, refine: Int): Unit = {
    require(k >= 1, s"k must be >= 1: $k")
    require(refine == 0 || refine >= k,
      s"refine must be 0 (off) or >= k: refine=$refine k=$k")
  }

  /** Shared PQ search tail: encode the corpus once and rank every
    * (query, corpus vector) pair by ADC ([[adcRank]]). `c` is (id, v)
    * with v array<double>; `q` is (query_id, qv). */
  private def pqSearch(c: DataFrame, q: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[Double]], m: Int,
      dsub: Int, codebookSize: Int, k: Int, refine: Int,
      excludeSelf: Boolean, broadcastQueries: Boolean): DataFrame = {
    val codes = c.select(col("id"),
      graft.functions.sketches.subvector_argmins(col("v"), bc, m, dsub,
        codebookSize).as("codes"))
    adcRank(codes.crossJoin(hinted(q, broadcastQueries)), c, q, bc, m, dsub,
      codebookSize, k, refine, excludeSelf)
  }

  /** Per-query top-k of the candidates `cand` (id, codes, query_id, qv)
    * by ADC over the broadcast codebook, optionally exact-refined over
    * `c` (id, v) and `q` (query_id, qv). */
  private def adcRank(cand: DataFrame, c: DataFrame, q: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[Double]], m: Int,
      dsub: Int, codebookSize: Int, k: Int, refine: Int,
      excludeSelf: Boolean): DataFrame = {
    val scored = (if (excludeSelf) cand.filter(col("id") =!= col("query_id")) else cand)
      .select(col("query_id"), col("id"),
        graft.functions.sketches.pq_adc_dist(col("qv"), col("codes"), bc, m,
          dsub, codebookSize).as("adc_dist"))
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist").asc, col("id").asc)
    val adcTop = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= math.max(k, refine))
    if (refine == 0)
      adcTop.select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
    else {
      // IVFADC+R refinement (Jégou et al. 2011 §V): re-rank the ADC
      // top-`refine` by EXACT distance — the candidate set is k-bounded
      // per query, so the vector join touches refine·|Q| rows, never
      // the corpus; quantization then only costs recall when a true
      // neighbor falls outside the refine window entirely
      val exact = adcTop.select(col("query_id"), col("id"))
        .join(c, Seq("id"))
        .join(hinted(q, broadcastQueries = true), Seq("query_id"))
        .select(col("query_id"), col("id"),
          cosine(col("qv"), col("v")).as("sim"))
      val wr = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("id").asc)
      exact.withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
    }
  }

  /** IVF∘PQ composed search (IVFADC without residual encoding): the
    * coarse K-Means quantizer restricts each query to its `nProbe`
    * nearest cells exactly as in [[ivfTopK]], and WITHIN those cells
    * candidates score by PQ asymmetric distance over the 8-int code
    * rows instead of the raw 64-float vectors — the two scale levers
    * multiplied (candidate count drops ~nProbe/nCells, candidate WIDTH
    * drops ~8×). Codes quantize the raw vectors (not cell residuals) so
    * the PQ codebook is shared corpus-wide and both halves reuse their
    * battle-tested single faces; the exact-refine window recovers what
    * residual coding would (recall pinned ≥ 0.9 by the seeded battery).
    *
    * 100 TB shape: one count and one bounded-sample fit job for both
    * quantizers (its sampling scan reads the corpus once), ONE
    * assignment pass + ONE encode pass over the corpus, search touches
    * nProbe cells of codes per query. This is the default shape when both the corpus size
    * AND the scan width hurt. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 0, nProbe: Int = 4, m: Int = 8, codebookSize: Int = 16,
      refine: Int = 0, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = true,
      maxFitVectors: Long = 100000L,
      broadcastQueries: Boolean = true): DataFrame = {
    requireRefine(k, refine)
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // the coarse quantizer and the PQ subspaces fit in ONE job
    val total = c.count()
    val fit = kmeansFit(c, total,
      Seq(Quantizer(cellCount(nCells, total), 1), Quantizer(codebookSize, m)),
      seed, maxFitVectors)
    val (assigned, centroids) = assignCells(c, fit.centroids(0).head, fit.dim)
    val (bc, dsub) = pqBroadcast(c, fit.dim / m, codebookSize, fit.centroids(1))
    // one encode pass, keyed by cell for the probe equi-join
    val codes = assigned.select(col("id"), col("cell"),
      graft.functions.sketches.subvector_argmins(col("v"), bc, m, dsub,
        codebookSize).as("codes"))
    val centDf = corpus.sparkSession.createDataFrame(centroids)
      .toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    adcRank(codes.join(hinted(probeCells(centDf, q, nProbe), broadcastQueries), "cell"),
      c, q, bc, m, dsub, codebookSize, k, refine, excludeSelf)
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversified
    * top-k: re-rank each query's `fetch` nearest candidates greedily by
    *
    *   MMR(c) = λ·rel(q, c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    *
    * — the retrieval/RAG dedup step that stops k near-identical
    * passages from filling the context window. The first pick is the
    * most relevant candidate; every later pick trades relevance
    * against redundancy with what is already selected.
    *
    * Deterministic end to end: candidates come from the exact
    * brute-force scan with the (sim desc, id asc) tie order, scores
    * micro-quantize before comparison, and greedy ties break on
    * (mmr desc, rel desc, id asc) — output is a pure function of the
    * data, pinned by a differential spec (hash-free ranking makes no
    * SQL oracle possible, so this is a rows-only driver row).
    *
    * Scale shape: stage 1 is [[bruteForceTopK]]'s one-corpus-scan plan
    * keeping vectors; stage 2 groups the ≤ fetch candidates per query
    * (groupByKey on query_id — each group is k-bounded, so the
    * per-group greedy is O(fetch²·dim) driver-free local work, never a
    * shuffle of the corpus). Output: (query_id, rank, neighbor_id,
    * rel_micro, mmr_micro). */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int,
      fetch: Int, lambdaMicro: Long = 700000L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true,
      broadcastQueries: Boolean = true): DataFrame = {
    require(k >= 1 && fetch >= k, s"need fetch >= k >= 1: k=$k fetch=$fetch")
    require(lambdaMicro >= 0L && lambdaMicro <= 1000000L,
      s"lambdaMicro must be in [0, 1e6]: $lambdaMicro")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val joined = c.crossJoin(hinted(q, broadcastQueries))
    val scored = (if (excludeSelf) joined.filter(col("id") =!= col("query_id")) else joined)
      .select(col("query_id"), col("id"),
        round(cosine(col("qv"), col("v")) * lit(1000000L)).cast("long")
          .as("rel_micro"), col("v"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rel_micro").desc, col("id").asc)
    val cands = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= fetch)
      .select(col("query_id"), col("id"), col("rel_micro"), col("v"))
      .as[(Long, Long, Long, Seq[Double])]
    cands.groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Seq[Double])]) =>
        val cs = it.toArray.sortBy(t => (-t._3, t._2)) // (rel desc, id asc)
        val vecs = cs.map(_._4.toArray)
        def simMicro(a: Array[Double], b: Array[Double]): Long = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          val d = math.sqrt(na) * math.sqrt(nb)
          if (d == 0.0) 0L else math.round(dot / d * 1000000L)
        }
        val n = cs.length
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        // max sim to the selected set — sentinel until the first pick
        // lands so anti-correlated candidates keep their true NEGATIVE
        // max (a clamp at 0 would over-penalize them); every !taken
        // slot is refreshed right after each pick, so by the time the
        // selected.nonEmpty branch reads it the sentinel is gone
        val maxSim = Array.fill(n)(Long.MinValue)
        val taken = Array.fill(n)(false)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
        var r = 1
        while (r <= math.min(k, n)) {
          var best = -1
          var bestScore = Long.MinValue; var bestRel = Long.MinValue
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              val mmr =
                if (selected.isEmpty) lambdaMicro * cs(i)._3
                else lambdaMicro * cs(i)._3 - (1000000L - lambdaMicro) * maxSim(i)
              val better = mmr > bestScore ||
                (mmr == bestScore && (cs(i)._3 > bestRel ||
                  (cs(i)._3 == bestRel && best >= 0 && cs(i)._2 < cs(best)._2)))
              if (best < 0 || better) {
                best = i; bestScore = mmr; bestRel = cs(i)._3
              }
            }
            i += 1
          }
          taken(best) = true
          selected += best
          out += ((qid, r.toLong, cs(best)._2, cs(best)._3,
            // surfaced score back in micro units (÷1e6 of the product)
            bestScore / 1000000L))
          var j = 0
          while (j < n) {
            if (!taken(j)) {
              val s = simMicro(vecs(j), vecs(best))
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          r += 1
        }
        out.iterator
      }
      .toDF("query_id", "rank", "neighbor_id", "rel_micro", "mmr_micro")
  }
}
