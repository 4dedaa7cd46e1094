package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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

  /** Shared coarse quantizer: fit K-Means on a bounded sample, assign
    * every vector to its nearest centroid via the codegen'd argmin over
    * a broadcast flat centroid matrix. Returns the assigned (id, v,
    * cell) frame plus the (cell, centroid) list (cells-sized — control
    * plane). Powers both [[ivfTopK]] and [[graft.ext.Dedup.semdedup]].
    *
    * 100 TB shape: the quantizer trains on at most `maxFitVectors`
    * rows — only the sample is ever cached, and it is unpersisted after
    * fit; the full corpus is touched by exactly one assignment pass.
    * `nCells <= 0` auto-sizes by the √N rule (clamped to [16, 4096]) so
    * cell population stays ~√N as the corpus grows. */
  private[ext] def kmeansCells(prepared: DataFrame, nCells: Int, seed: Long,
      maxFitVectors: Long): (DataFrame, Seq[(Int, Array[Double])]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // parquet-backed count is a metadata-cheap pass; it sizes both the
    // fit sample fraction and the auto cell count
    val total = math.max(prepared.count(), 1L)
    val cells = math.max(2, math.min(
      if (nCells > 0) nCells.toLong
      else math.max(16L, math.min(4096L, math.sqrt(total.toDouble).toLong)),
      total).toInt)
    val frac = math.min(1.0, maxFitVectors.toDouble / total.toDouble)
    // cache ONLY the bounded sample: KMeans re-reads its input once per
    // iteration — without the cache the scan + array casts re-execute ~10x.
    // ML vectors exist only here: spark.ml is used for FIT ONLY.
    val fitInput =
      (if (frac < 1.0) prepared.sample(withReplacement = false, frac, seed) else prepared)
        .withColumn("features", array_to_vector(col("v")))
        .cache()
    // random init, not k-means||: the parallel init runs ~5 extra
    // distributed passes to seed centroids, which dominates fit time for
    // a coarse quantizer whose cells get exact re-ranking anyway
    val model =
      try new KMeans().setK(cells).setSeed(seed).setMaxIter(10)
        .setInitMode("random").fit(fitInput)
      finally fitInput.unpersist()
    // full-corpus cell assignment is a map-side codegen'd argmin over a
    // BROADCAST flat centroid matrix — no ML-vector conversion, no per-row
    // model UDF, no shuffle (same first-min-wins squared-Euclidean rule
    // as KMeansModel.transform)
    val ctrs = model.clusterCenters
    val dim = ctrs.head.size
    val flat = new Array[Double](ctrs.length * dim)
    ctrs.zipWithIndex.foreach { case (ctr, i) =>
      System.arraycopy(ctr.toArray, 0, flat, i * dim, dim)
    }
    val bcCentroids = prepared.sparkSession.sparkContext.broadcast(flat)
    val assigned = prepared
      .withColumn("cell", graft.functions.sketches.centroid_argmin(col("v"), bcCentroids, dim))
      .select("id", "v", "cell")
    (assigned, ctrs.zipWithIndex.map { case (ctr, i) => (i, ctr.toArray) }.toSeq)
  }

  /** IVF (inverted-file) approximate top-k: K-Means centroids partition
    * the corpus into cells; each query searches only its `nProbe` nearest
    * cells, re-ranked by exact cosine. The classic ANN scale path when a
    * trained coarse quantizer is acceptable: candidate count is
    * corpus/k × nProbe regardless of corpus size. Deterministic via fixed
    * seed. Uses spark.ml KMeans (bundled with Spark).
    *
    * 100 TB shape: the quantizer trains on a bounded sample (at most
    * `maxFitVectors` rows — only the sample is ever cached, and it is
    * unpersisted after fit); the full corpus is touched by exactly one
    * assignment pass feeding the candidate join. `nCells <= 0` auto-sizes
    * cells by the √N rule (clamped to [16, 4096]) so cell population
    * stays ~√N as the corpus grows. */
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
    val bcCentroids = corpus.sparkSession.sparkContext.broadcast(flat)
    prepared
      .withColumn("cell",
        graft.functions.sketches.centroid_argmin(col("v"), bcCentroids, dim))
      .select("id", "v", "cell")
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
    val wCell = Window.partitionBy("query_id").orderBy(col("cell_sim").desc, col("cell").asc)
    val probeCells = q.crossJoin(broadcast(centDf))
      .withColumn("cell_sim", cosine(col("qv"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= nProbe)
      .select("query_id", "qv", "cell")
    // corpus-sized query sets shuffle-join on cell id instead of
    // broadcasting the probe set (cell is the natural co-location key)
    val cand = assigned.join(hinted(probeCells, broadcastQueries), "cell")
    val scored = (if (excludeSelf) cand.filter(col("id") =!= col("query_id")) else cand)
      .select(col("query_id"), col("id"), cosine(col("qv"), col("v")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"))
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
    * codes while ADC search stays accurate. Returns the flat broadcast
    * codebook (layout `[((j·k + c)·dsub) + t]`) and the subvector
    * width. Fit runs on a bounded cached sample like [[kmeansCells]];
    * the corpus is never cached. */
  private[ext] def pqCodebooks(prepared: DataFrame, m: Int,
      codebookSize: Int, seed: Long, maxFitVectors: Long)
      : (org.apache.spark.broadcast.Broadcast[Array[Double]], Int) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = prepared.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    val total = math.max(prepared.count(), 1L)
    val frac = math.min(1.0, maxFitVectors.toDouble / total.toDouble)
    val sample =
      (if (frac < 1.0) prepared.sample(withReplacement = false, frac, seed)
      else prepared).cache()
    val flat = new Array[Double](m * codebookSize * dsub)
    try {
      // materialize the shared sample ONCE before fanning out, so the
      // concurrent fits hit the cache instead of racing to build it
      sample.count()
      // the m sub-quantizer fits are independent jobs over the same
      // cached sample — embarrassingly parallel, so submit them from a
      // bounded thread pool (Spark schedules concurrent jobs fine) and
      // let local[32] overlap their passes instead of serializing
      // m × (iters + 1) scans; per-subspace seeds keep the codebooks
      // bit-identical to the sequential fit regardless of finish order
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(m, 8))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val fits = (0 until m).map { j =>
          scala.concurrent.Future {
            val sub = sample.select(array_to_vector(
              slice(col("v"), j * dsub + 1, dsub)).as("features"))
            val model = new KMeans().setK(codebookSize).setSeed(seed + j)
              .setMaxIter(10).setInitMode("random").fit(sub)
            (j, model.clusterCenters)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fits),
          scala.concurrent.duration.Duration.Inf)
          .foreach { case (j, ctrs) =>
            ctrs.zipWithIndex.foreach { case (ctr, c) =>
              System.arraycopy(ctr.toArray, 0, flat,
                (j * codebookSize + c) * dsub, dsub)
            }
          }
      } finally pool.shutdown()
    } finally sample.unpersist()
    (prepared.sparkSession.sparkContext.broadcast(flat), dsub)
  }

  /** Persisted PQ codebook state: one (subspace, code, centroid) row
    * per cell of the product codebook — the train-once discipline the
    * other incremental-state operators follow. Fit on ingest (bounded
    * sample, concurrent sub-fits), write this frame next to the data,
    * and every later search/encode pass loads it via
    * [[pqTopKFromState]] instead of re-running m K-Means fits. The
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
    * 100 TB shape: m fits on a bounded sample; ONE corpus pass encodes;
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
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val (bc, m, codebookSize, dsub) = flatFromState(codebooks)
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    pqSearch(c, q, bc, m, dsub, codebookSize, k, refine, excludeSelf,
      broadcastQueries)
  }

  /** Shared PQ search tail: encode the corpus once, score candidates by
    * ADC over the broadcast codebook, optionally exact-refine. `c` is
    * (id, v) with v array<double>; `q` is (query_id, qv). */
  private def pqSearch(c: DataFrame, q: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Array[Double]], m: Int,
      dsub: Int, codebookSize: Int, k: Int, refine: Int,
      excludeSelf: Boolean, broadcastQueries: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(refine == 0 || refine >= k,
      s"refine must be 0 (off) or >= k: refine=$refine k=$k")
    val codes = c.select(col("id"),
      graft.functions.sketches.subvector_argmins(col("v"), bc, m, dsub,
        codebookSize).as("codes"))
    val cand = codes.crossJoin(hinted(q, broadcastQueries))
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
    * 100 TB shape: two bounded-sample fits, ONE assignment pass + ONE
    * encode pass over the corpus, search touches nProbe cells of codes
    * per query. This is the default shape when both the corpus size
    * AND the scan width hurt. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 0, nProbe: Int = 4, m: Int = 8, codebookSize: Int = 16,
      refine: Int = 0, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", excludeSelf: Boolean = true,
      maxFitVectors: Long = 100000L,
      broadcastQueries: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(refine == 0 || refine >= k,
      s"refine must be 0 (off) or >= k: refine=$refine k=$k")
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // the two fits stay SEQUENTIAL on purpose: overlapping them was
    // measured 20-40% slower at local[32] (the coarse fit and the PQ
    // fit's 8-way concurrent sub-fits oversubscribe the same cores);
    // train-once cost either way
    val (assigned, centroids) = kmeansCells(c, nCells, seed, maxFitVectors)
    val (bc, dsub) = pqCodebooks(c, m, codebookSize, seed, maxFitVectors)
    // one encode pass, keyed by cell for the probe equi-join
    val codes = assigned.select(col("id"), col("cell"),
      graft.functions.sketches.subvector_argmins(col("v"), bc, m, dsub,
        codebookSize).as("codes"))
    val centDf = corpus.sparkSession.createDataFrame(centroids)
      .toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val wCell = Window.partitionBy("query_id")
      .orderBy(col("cell_sim").desc, col("cell").asc)
    val probeCells = q.crossJoin(broadcast(centDf))
      .withColumn("cell_sim", cosine(col("qv"), col("centroid")))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= nProbe)
      .select("query_id", "qv", "cell")
    val cand = codes.join(hinted(probeCells, broadcastQueries), "cell")
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
