package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: document
  * chunking and train/test contamination detection.
  *
  * Both are declarative plans over the whole corpus — no driver-side
  * loops, shuffle keys are ids/8-byte hashes, so each scales by
  * partitioning alone.
  */
object Curation {

  /** Deterministic, engine-portable shard assignment: the first
    * `nibbles` hex characters of md5(key) — 16^nibbles balanced shards
    * whose assignment replays identically in ANY engine with an md5
    * function. That portability is the property a training-data export
    * needs: re-running the export tomorrow, or auditing a shard's
    * membership from a warehouse, lands every document in the same
    * shard (a seeded `rand()` replays only inside one engine+plan).
    * Pure projection — no shuffle; co-locating a shard's rows for a
    * sharded container write is the caller's `repartition("shard")`.
    */
  def shardByMd5(df: DataFrame, keyCol: String, nibbles: Int = 1): DataFrame = {
    require(nibbles >= 1 && nibbles <= 8, s"nibbles must be in [1,8], got $nibbles")
    df.withColumn("shard",
      substring(md5(col(keyCol).cast("string").cast("binary")), 1, nibbles))
  }

  /** Split each document into overlapping token-window chunks — the
    * standard pre-tokenization shaping step for context-window-bounded
    * training and for retrieval indexing.
    *
    * Chunk i covers tokens [i*stride, i*stride + window); the last chunk
    * may be short; documents shorter than one window yield exactly one
    * chunk. One narrow projection + explode: no shuffle at any scale, and
    * the token array is built once per document (not per chunk).
    *
    * Output: (idCol, chunk_id int, chunk_text string, n_chunk_tokens int).
    */
  def chunk(docs: DataFrame, window: Int = 32, stride: Int = 24,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toks = split(trim(col(textCol)), TextAnalysis.WhitespaceClass)
    val nTok = size(toks)
    val nChunks = when(nTok <= window, lit(1L))
      .otherwise(ceil((nTok - window).cast("double") / stride).cast("long") + 1L)
    docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol), toks.as("__toks"), nChunks.as("__nc"))
      .select(col(idCol),
        explode(transform(sequence(lit(0L), col("__nc") - 1L), i =>
          struct(
            i.cast("int").as("chunk_id"),
            array_join(slice(col("__toks"), (i * stride + 1L).cast("int"), lit(window)), " ")
              .as("chunk_text"),
            size(slice(col("__toks"), (i * stride + 1L).cast("int"), lit(window)))
              .as("n_chunk_tokens")))).as("__c"))
      .select(col(idCol), col("__c.chunk_id"), col("__c.chunk_text"), col("__c.n_chunk_tokens"))
  }

  /** EXACT fuzzy self-join: all pairs within Levenshtein distance `k`,
    * for title/name-level strings — fuzzy dedup's complement to the
    * token-level Jaccard operators.
    *
    * Completeness without an all-pairs cross join, by two blocks:
    *   - LONG strings (len >= q(k+1), i.e. carrying at least qk+1
    *     q-grams): k edits destroy at most qk DISTINCT character
    *     q-grams, so two strings within distance k overlap in all but
    *     qk of their q-gram sets — by the prefix-filter theorem their
    *     (qk+1)-prefixes under one global order must intersect
    *     (Ed-Join's q-gram prefix bound). Only each string's qk+1
    *     RAREST q-grams (global document frequency order) are indexed:
    *     hot grams (shared boilerplate prefixes) rank last and almost
    *     never enter a prefix, so no key explodes — the naive
    *     all-grams equi-join measured quadratic on hot grams.
    *   - SHORT strings (len <= q(k+1)-1+k, overlapping the boundary,
    *     since lengths of a qualifying pair differ by at most k):
    *     SymSpell deletion-neighborhood blocking — candidates equi-join
    *     on hashes of every <=k-deletion variant. Edit distance <= k
    *     guarantees a shared variant (delete each side's unmatched
    *     alignment positions), so recall is 1; neighborhood size is
    *     sum_{i<=k} C(len,i) (~300 at len 25, k 2), so candidate volume
    *     is density-bounded, never all-pairs — a short-string-heavy
    *     corpus (usernames, SKUs) stays near-linear.
    * Candidates from both blocks are length-filtered (|la-lb| <= k, a
    * necessary condition), deduplicated, and verified with a banded
    * bounded-distance check — precision and recall are both 1.
    *
    * Pick `q` by data shape: larger q = more selective grams = fewer
    * candidates for long strings, but a bigger short-string block.
    *
    * Output: (a_id, b_id, edit_dist int), a_id < b_id. */
  def fuzzyJoin(df: DataFrame, k: Int = 2, idCol: String = "doc_id",
      strCol: String = "text", q: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(q >= 2 && q <= 8, s"q must be in [2, 8], got $q")
    val shortBound = q * (k + 1) - 1
    val s = df.filter(col(strCol).isNotNull)
      .select(col(idCol).as("id"), col(strCol).as("s"), length(col(strCol)).as("len"))
    val longS = s.filter(col("len") > shortBound)
    // materialize the gram index once: it feeds the df aggregation, the
    // window, and BOTH self-join sides — left lazy, the interpreted
    // substr lambda pipeline re-executes per consumer (measured 6x)
    val grams = longS.select(col("id"), col("len"),
      explode(array_distinct(
        transform(sequence(lit(1), col("len") - (q - 1)),
          i => col("s").substr(i, lit(q))))).as("g"))
    val matGrams = Materialize(grams)
    val dfreq = matGrams.groupBy("g").agg(count(lit(1)).as("df"))
    val wStr = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df").asc, col("g").asc)
    val prefix = Materialize(matGrams.join(dfreq, "g")
      .withColumn("pos", row_number().over(wStr))
      .filter(col("pos") <= q * k + 1)
      .select("id", "len", "g"))
    val longCand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= k)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    val shortS = s.filter(col("len") <= shortBound + k)
    val shortCand = deletionCandidates(shortS, k)
    longCand.union(shortCand).distinct()
      .join(s.select(col("id").as("a_id"), col("s").as("a_s")), "a_id")
      .join(s.select(col("id").as("b_id"), col("s").as("b_s")), "b_id")
      // banded bounded-distance verification (native expression): exact
      // for dist <= k, early-exits otherwise — candidate volume depends
      // on gram selectivity, so the verifier must be cheap per pair
      .withColumn("edit_dist",
        graft.functions.texthash.bounded_levenshtein(col("a_s"), col("b_s"), k))
      .filter(col("edit_dist") <= k)
      .select("a_id", "b_id", "edit_dist")
  }

  /** SymSpell candidate pairs over a (id, s, len) frame: equi-join on
    * deletion-neighborhood hashes, length-filtered (|la-lb| <= k is
    * necessary for lev <= k). Exposed for the skew spec: candidate
    * volume over thousands of distinct short strings must stay
    * near-linear, NOT n². */
  private[ext] def deletionCandidates(s: DataFrame, k: Int): DataFrame = {
    val variants = s.select(col("id"), col("len"),
      explode(graft.functions.texthash.deletion_hashes(col("s"), k)).as("dh"))
    variants.as("a").join(variants.as("b"),
        col("a.dh") === col("b.dh") && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= k)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
  }

  /** Leakage-safe train/val/test split: every document in the same
    * near-duplicate CLUSTER lands in the same split. A plain per-doc
    * hash split leaks evaluation data whenever near-duplicates straddle
    * the boundary — the standard fix is to split by dedup cluster, not
    * by document.
    *
    * `clusters` is (doc_id, cluster_id) from [[Dedup.components]];
    * documents absent from the pair graph are their own singleton
    * cluster (left join + coalesce). Bucketing applies the same
    * wrap-free mod-before-multiply hash as the per-doc split, to the
    * CLUSTER id — deterministic across engines and partitionings, and
    * one broadcast-or-shuffle left join at any scale.
    *
    * Output: (idCol, cluster_id, split string). */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame,
      trainPct: Int = 80, valPct: Int = 10,
      idCol: String = "doc_id"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"need trainPct > 0, valPct >= 0, sum <= 100; got $trainPct/$valPct")
    val c = clusters.select(col("doc_id").as(idCol), col("cluster_id").as("__cid"))
    val bucket = pmod(pmod(col("cluster_id"), lit(100L)) * lit(61L), lit(100L))
    docs.select(col(idCol)).join(c, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__cid"), col(idCol)).as("cluster_id"))
      .select(col(idCol), col("cluster_id"),
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test").as("split"))
  }

  /** Train/test contamination: for every document in the `test` frame,
    * every `train` document sharing at least one word n-gram, with the
    * count of distinct shared n-grams — the exact-overlap decontamination
    * check (long-n-gram collision between evaluation data and training
    * data).
    *
    * Shape at 100 TB: per-document DISTINCT shingle hashes (8-byte keys,
    * one native-expression pass — document bodies never shuffle) feed a
    * hash equi-join; with n >= 8 the document frequency of any one
    * n-gram is tiny (boilerplate n-grams die out as n grows), so no key
    * is hot. `maxDf > 0` additionally drops n-grams appearing in more
    * than maxDf training docs — the standard boilerplate guard when a
    * corpus does carry hot long n-grams; it only ever removes candidate
    * evidence, never invents a false pair.
    *
    * Output: (test_id, train_id, n_shared long).
    */
  def contamination(test: DataFrame, train: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      maxDf: Long = 0L): DataFrame =
    contaminationAgainstIndex(
      contaminationIndex(test, n, idCol, textCol), train, n, idCol, textCol, maxDf)

  /** Persistable test-set fingerprint index: (test_id, sh) — one row per
    * distinct word n-gram hash per test document. The operational state
    * for CONTINUOUS decontamination: the evaluation set is fixed, so its
    * index is built once and stored columnar (8-byte hashes — the
    * benchmark text itself never needs to travel to the ingest cluster),
    * and every new training batch is checked against it. */
  def contaminationIndex(test: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = test
    .filter(col(textCol).isNotNull)
    .select(col(idCol).as("test_id"),
      explode(graft.functions.texthash.shingle_hashes(col(textCol), n)).as("sh"))

  /** Contamination of a (new) training batch against a STORED test-set
    * index in [[contaminationIndex]] shape — identical output contract
    * to [[contamination]]; `maxDf` caps n-gram document frequency
    * within the checked batch (the boilerplate guard). */
  def contaminationAgainstIndex(tIdx: DataFrame, train: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      maxDf: Long = 0L): DataFrame = {
    val rIdx0 = train
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("train_id"),
        explode(graft.functions.texthash.shingle_hashes(col(textCol), n)).as("sh"))
    val rIdx =
      if (maxDf <= 0L) rIdx0
      else {
        val keep = rIdx0.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("sh")
        rIdx0.join(keep, "sh")
      }
    tIdx.join(rIdx, "sh")
      .groupBy("test_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Deterministic WEIGHT-BIASED per-group sampling: each row's rank key
    * is u / w, where u is a portable multiplicative hash of the id
    * (mod-before-multiply, wrap-free — the split_train_test construction)
    * standing in for a uniform draw and w is the row's weight; the k
    * smallest keys per group win. Higher weight divides the key down, so
    * selection probability grows with weight — a deterministic analogue
    * of weighted reservoir sampling (Efraimidis–Spirakis u^(1/w), with
    * the hash as the fixed uniform), reproducible across runs, engines,
    * and partitionings. The key is an integer-by-integer double division:
    * bit-identical in any IEEE engine, so the oracle can replay it.
    */
  def weightedSample(docs: DataFrame, groupCol: String, idCol: String,
      weight: org.apache.spark.sql.Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val P = 1000000007L
    val u = pmod(pmod(col(idCol), lit(P)) * lit(751234567L), lit(P))
    val priority = u.cast("double") / weight
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("priority").asc, col(idCol).asc)
    docs
      // Weights must be strictly positive to mean anything under u / w:
      // w = 0 gives Infinity, w < 0 a sign-flipped priority that always
      // wins, and NULL a NULL key that sorts first under nulls-first —
      // each silently inverting "higher weight, more likely". Such rows
      // are ineligible by contract and filtered here (a map-side,
      // shuffle-free predicate, not a validation pass over the data).
      .filter(weight.isNotNull && (weight > lit(0)))
      .select(col(idCol), col(groupCol), priority.as("priority"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Sequence packing for training: documents are concatenated in
    * `orderCol` order within each shard and CUT at fixed `budget`-token
    * boundaries (the concat-and-cut packing most LLM data pipelines use —
    * a document may straddle two packs; `offset_in_pack` says where it
    * starts). Pure prefix-sum arithmetic: pack assignment is
    * floor(preceding_tokens / budget), so the whole operator is ONE
    * window over the shard partitioning — no sequential driver loop, and
    * shards bound the window partitions (pack within a shard, shards
    * scale out). Greedy no-split bin packing is intentionally NOT offered:
    * its bin boundary is a sequential recurrence (each reset depends on
    * the previous), which cannot scale past a partition. */
  def packSequences(docs: DataFrame, shardCol: String, orderCol: String,
      tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shardCol).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val preceding = sum(col(tokenCol)).over(w) - col(tokenCol)
    docs
      .withColumn("pack_id", call_function("div", preceding, lit(budget)))
      .withColumn("offset_in_pack", pmod(preceding, lit(budget)))
  }

  /** Quota-based domain mixing: pick `total` documents with group
    * proportions matching `weights` (largest-remainder apportionment:
    * floor(total*w) each, remaining seats to the largest fractional
    * remainders), selecting within each group by the deterministic
    * portable hash order of sample_per_group. Control-plane arithmetic
    * (the apportionment) runs over group-cardinality rows; the data
    * takes one window per group. Groups absent from `weights` get 0. */
  def mixQuota(docs: DataFrame, groupCol: String, idCol: String,
      total: Long, weights: Map[String, Double]): DataFrame = {
    require(total > 0 && weights.nonEmpty, "need a positive total and weights")
    val s = docs.sparkSession
    import s.implicits._
    val wdf = weights.toSeq.toDF(groupCol, "w")
    val base = floor(col("w") * total).cast("long")
    val deficit = lit(total) - sum(base).over(
      org.apache.spark.sql.expressions.Window.partitionBy(lit(1)))
    val remRank = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .orderBy((col("w") * total - base).desc, col(groupCol).asc))
    val quotas = wdf.select(col(groupCol),
      (base + when(remRank <= deficit, 1L).otherwise(0L)).as("quota"))
    val P = 1000000007L
    val h = pmod(pmod(col(idCol), lit(P)) * lit(654435747L), lit(P))
    val rn = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(h.asc, col(idCol).asc))
    docs
      .select(col(idCol), col(groupCol))
      .withColumn("rn", rn)
      .join(broadcast(quotas), Seq(groupCol))
      .filter(col("rn") <= col("quota"))
      .select(col(idCol), col(groupCol), col("rn").cast("int").as("rn"))
  }

  /** Corpus-frequency boilerplate removal (the CCNet/RefinedWeb line-dedup
    * shape): split every document into fixed-length token segments, count
    * each distinct segment's document frequency CORPUS-WIDE, drop segments
    * appearing in more than `maxDocs` documents (headers, footers, license
    * blurbs, navigation chrome), and reassemble the surviving segments in
    * order. Documents whose every segment is boilerplate disappear —
    * exactly like a fully-boilerplate page should.
    *
    * Plan shape: segmentization is a zero-shuffle Expand (explode over a
    * plan-side `sequence`, each segment sliced from the token array built
    * once per doc); the document-frequency pass is one shuffle on the
    * segment text with partial-distinct combine; the drop is an ANTI JOIN
    * against the frequent-segment list — which is tiny by construction
    * (only segments shared by >maxDocs docs), so AQE broadcasts it and
    * the reassembly groupBy(doc) is the only other exchange. At 100 TB
    * the frequent list stays broadcast-sized (true boilerplate is rare
    * distinct / massive count), which is what makes this shape scale.
    *
    * Output: (idCol, cleaned_text, n_kept) — one row per surviving doc. */
  def dropFrequentSegments(docs: DataFrame, segLen: Int = 3, maxDocs: Long = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(segLen > 0 && maxDocs >= 1, s"need segLen > 0, maxDocs >= 1")
    val toks = split(col(textCol), " ")
    // ceil(n / segLen) in exact integer arithmetic (div keeps it BIGINT —
    // Column `/` is SQL double division and would break sequence())
    val nSegs = call_function("div",
      size(toks).cast("long") + (segLen - 1), lit(segLen.toLong))
    val seg = docs
      .select(col(idCol), explode(sequence(lit(0L), nSegs - 1)).as("seg_id"),
        toks.as("toks"))
      .select(col(idCol), col("seg_id"),
        concat_ws(" ", slice(col("toks"),
          (col("seg_id") * segLen + 1).cast("int"), lit(segLen))).as("seg_text"))
    val frequent = seg.groupBy(col("seg_text"))
      .agg(count_distinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select(col("seg_text"))
    seg.join(frequent, Seq("seg_text"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_id"), col("seg_text")))),
          s => s.getField("seg_text"))).as("cleaned_text"),
        count(lit(1)).as("n_kept"))
  }

  /** Stratified k-fold assignment with EXACT per-stratum balance:
    * within each stratum, rows ranked by `idCol` round-robin across
    * the k folds, so every (stratum, fold) count differs by at most 1
    * — the guarantee hash-mod splits only give in expectation, and
    * the one cross-validation needs when a stratum is small. The
    * assignment is a pure function of (stratum, id): re-running on
    * any engine or partitioning reproduces it row-for-row.
    *
    * Scale shape: the per-stratum rank is
    * [[graft.ops.Relational.rowNumberByKey]] grouped by stratum —
    * range-partitioned on (stratum, id), ranked per (partition,
    * stratum) in parallel, with each partition's carry for the one
    * stratum it continues as a literal. Never a per-stratum
    * single-reducer window, which is the cliff when strata are few and
    * huge (5 languages × 20 TB).
    *
    * Output: input columns + `fold` (0..k-1). */
  def stratifiedKFold(df: DataFrame, strataCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    graft.ops.Relational.rowNumberByKey(df, Some(strataCol), Seq(idCol))._1
      .withColumn("fold", pmod(col("row_num") - 1L, lit(k.toLong)))
      .drop("row_num")
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the n-gram
    * feature-space variant): every candidate document is scored under
    * TWO add-one bigram models — one trained on an in-DOMAIN reference,
    * one on the RAW corpus slice — and ranked by the log importance
    * weight log w = ll_target − ll_raw = nll_raw − nll_target. Both
    * NLLs are [[LangModel]]'s exact nano-integer sums, so the weight,
    * the ordering, and the selected set are bit-identical on any
    * engine or partitioning. Selection is the k-bounded TopK aggregate
    * (map-side partial buffers, no global window sort) with the
    * (score DESC, id DESC) tie order. Output:
    * (idCol, rank, logw_nano, n_pairs) for the top `topN`. */
  def dsirSelect(cand: DataFrame, targetRef: DataFrame, rawRef: DataFrame,
      topN: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(topN >= 1, s"topN must be >= 1: $topN")
    val t = LangModel.bigramNll(targetRef, cand, idCol, textCol)
      .select(col(idCol), col("n_pairs"), col("nll_nano").as("__nt"))
    val r = LangModel.bigramNll(rawRef, cand, idCol, textCol)
      .select(col(idCol), col("nll_nano").as("__nr"))
    val scored = t.join(r, Seq(idCol))
      .withColumn("logw_nano", col("__nr") - col("__nt"))
      .withColumn("__k", lit(1))
    graft.ops.Relational.topKPerKey(scored, "__k", "logw_nano", idCol, topN)
      .select(col(idCol), col("rank"),
        col("logw_nano").cast("long").as("logw_nano"))
      .join(scored.select(col(idCol), col("n_pairs")), Seq(idCol))
  }

  /** Temperature-scaled domain mixing (the multilingual rebalancing
    * standard — Devlin et al. 2019 / XLM-R's p ∝ n^τ): apportion `total`
    * selection slots across groups proportionally to n_d^tau (τ < 1
    * UP-samples small domains), then select each group's quota
    * deterministically by the same keyed-hash order as [[mixQuota]].
    * The one float is pow(n, τ), micro-quantized immediately; the
    * apportionment itself is exact integer largest-remainder arithmetic
    * in DECIMAL(38,0) (total·s_d products pass int64 at corpus scale),
    * so seats — including contested remainder seats — are bit-identical
    * in any engine. The group frame is aggregate-sized; its windows are
    * control-plane. Output: (idCol, groupCol, rn ≤ quota). */
  /** DoReMi-style domain re-weighting (Xie et al. 2023, arXiv
    * 2305.10429): the mixture update step. Per-domain EXCESS loss —
    * how much worse a weak "proxy" LM scores the domain than a strong
    * reference LM — drives one exponentiated-gradient update of the
    * domain mixture: α'_d ∝ n_d · exp(η · λ_d), so the domains the
    * proxy has learned least (hardest, most informative) gain sampling
    * weight. Batch variant over the exact bigram-LM NLL frames
    * ([[graft.ext.LangModel]]), one update step.
    *
    * Exact-integer discipline (the DSIR/temperature family's): per-doc
    * NLLs are nano-quantized integer sums; per-doc per-pair excess =
    * integer div of the clipped difference by the pair count; the
    * per-domain mean is an integer div of integer sums; the ONE float
    * is exp(η·λ), micro-quantized immediately; normalized weights and
    * the `total` slot apportionment run the largest-remainder
    * DECIMAL(38,0) arithmetic, bit-identical in any engine. Every
    * frame after scoring is aggregate-sized (#domains rows).
    *
    * Output: (domain, n_docs, excess_nano, factor_micro, w_micro,
    * quota) — one row per candidate domain. */
  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): candidate
    * documents scored under a reference LM are split, per LANGUAGE,
    * into quality tiers (head/middle/tail thirds in CCNet) by
    * per-pair NLL — the selection mechanic behind CCNet's
    * "keep the head of each language's perplexity distribution".
    * Exact: nano-integer per-pair NLL via integer division of the
    * LangModel scorer's exact sums; tier = NTILE over the
    * (ppl, doc_id) total order WITHIN each language (a per-group
    * window — partitioned, scalable). Output: (doc_id, lang, n_pairs,
    * ppl_nano, tier). */
  def perplexityBuckets(cand: DataFrame, ref: DataFrame, tiers: Int = 3,
      idCol: String = "doc_id", langCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    require(tiers >= 2, s"tiers must be >= 2, got $tiers")
    val scored = LangModel.bigramNll(ref, cand, idCol, textCol)
      .withColumn("ppl_nano",
        call_function("div", col("nll_nano"), col("n_pairs")))
      .join(cand.select(col(idCol), col(langCol)), Seq(idCol))
    scored.select(col(idCol), col(langCol), col("n_pairs"), col("ppl_nano"),
      ntile(tiers).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col(langCol)).orderBy(col("ppl_nano"), col(idCol)))
        .cast("long").as("tier"))
  }

  def doremiReweight(cand: DataFrame, proxyRef: DataFrame, strongRef: DataFrame,
      domainCol: String, total: Long, etaMicro: Long = 1000000L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(total > 0, s"total must be positive: $total")
    require(etaMicro > 0, s"etaMicro must be positive: $etaMicro")
    val dec = "decimal(38,0)"
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val p = LangModel.bigramNll(proxyRef, cand, idCol, textCol)
      .select(col(idCol), col("n_pairs"), col("nll_nano").as("__np"))
    val r = LangModel.bigramNll(strongRef, cand, idCol, textCol)
      .select(col(idCol), col("nll_nano").as("__nr"))
    val perDoc = p.join(r, Seq(idCol))
      .join(cand.select(col(idCol), col(domainCol)), Seq(idCol))
      .select(col(domainCol),
        call_function("div", greatest(col("__np") - col("__nr"), lit(0L)),
          col("n_pairs")).as("ex_nano"))
    val dom = perDoc.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"),
        call_function("div", sum(col("ex_nano")), count(lit(1))).as("excess_nano"))
      .withColumn("factor_micro",
        round(exp((col("excess_nano") * lit(etaMicro)).cast("double") / lit(1e15))
          * lit(1e6)).cast("long"))
      .withColumn("numer", col("n_docs") * col("factor_micro"))
    val bigS = call_function("nullif", sum(col("numer")).over(all).cast(dec),
      lit(0L).cast(dec))
    val prod = lit(total).cast(dec) * col("numer")
    val scored = dom
      .withColumn("w_micro",
        call_function("div", col("numer").cast(dec) * lit(1000000L), bigS)
          .cast("long"))
      .withColumn("base", call_function("div", prod, bigS))
      .withColumn("rem", prod - col("base") * bigS)
    val deficit = lit(total) - sum(col("base")).over(all)
    val remRank = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("rem").desc, col(domainCol).asc))
    scored.select(col(domainCol).as("domain"), col("n_docs"),
      col("excess_nano"), col("factor_micro"), col("w_micro"),
      (col("base") + when(remRank <= deficit, 1L).otherwise(0L))
        .cast("long").as("quota"))
  }

  /** Temperature-scaled apportionment score s = round(m^tau · 1e6),
    * guarded: past 2^63 (m ≈ 9.2e12 at tau = 1.0 — reachable token
    * masses at the 100 TB scale these budgets target) the long cast
    * would overflow, and with ANSI off that overflow is SILENT quota
    * corruption (negative scores misapportion every group) — so it
    * fails loud with the offending mass instead, independent of any
    * session conf. */
  private[ext] def temperatureScore(m: org.apache.spark.sql.Column,
      tau: Double): org.apache.spark.sql.Column = {
    val powv = pow(m.cast("double"), lit(tau)) * lit(1e6)
    when(powv < lit(9.223372036854776e18), round(powv).cast("long"))
      .otherwise(raise_error(concat(
        lit("temperature score m^tau*1e6 overflows long for mass m="),
        m.cast("string"),
        lit(s" at tau=$tau — lower tau or pre-scale the masses")))
        .cast("long"))
  }

  def temperatureQuota(docs: DataFrame, groupCol: String, idCol: String,
      total: Long, tau: Double): DataFrame = {
    require(total > 0, s"total must be positive: $total")
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1]: $tau")
    val dec = "decimal(38,0)"
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("n_d"))
      .withColumn("s", temperatureScore(col("n_d"), tau))
    val bigS = sum(col("s")).over(all).cast(dec)
    val prod = lit(total).cast(dec) * col("s")
    val scored = counts
      .withColumn("base", call_function("div", prod, bigS))
      .withColumn("rem", prod - col("base") * bigS)
    val deficit = lit(total) - sum(col("base")).over(all)
    val remRank = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("rem").desc, col(groupCol).asc))
    val quotas = scored.select(col(groupCol),
      (col("base") + when(remRank <= deficit, 1L).otherwise(0L)).as("quota"))
    val P = 1000000007L
    val h = pmod(pmod(col(idCol), lit(P)) * lit(654435747L), lit(P))
    val rn = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(h.asc, col(idCol).asc))
    docs
      .select(col(idCol), col(groupCol))
      .withColumn("rn", rn)
      .join(broadcast(quotas), Seq(groupCol))
      .filter(col("rn") <= col("quota"))
      .select(col(idCol), col(groupCol), col("rn").cast("int").as("rn"))
  }

  /** Token-budget mixture — [[temperatureQuota]]'s production twin:
    * pretraining mixtures are specified in TOKEN budgets, not document
    * counts (a ten-word post and a ten-thousand-word article are not
    * the same unit of training signal). Per-group token mass m_g
    * (whitespace tokenCount — the cheap estimator face) is
    * temperature-scaled s_g = round(m_g^tau · 1e6), `totalTokens`
    * apportions across groups by the exact largest-remainder integer
    * rule (temperatureQuota's), and within each group documents order
    * by the same engine-portable keyed hash and are taken while the
    * RUNNING token count BEFORE the document sits under the group's
    * quota — budgets exhaust in whole documents (never splitting one),
    * overshooting each group by at most one document. pow stays at
    * tau = 0.5-family exponents in the driver contract (sqrt is
    * correctly rounded in every IEEE engine — the sample_temperature
    * discipline); null/blank text counts zero tokens.
    * Output: (idCol, groupCol, n_tokens, cum_before, quota). */
  def tokenBudgetQuota(docs: DataFrame, groupCol: String, idCol: String,
      totalTokens: Long, tau: Double, textCol: String = "text"): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be positive: $totalTokens")
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1]: $tau")
    val dec = "decimal(38,0)"
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val withTok = docs.select(col(idCol), col(groupCol),
      coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"), lit(0L))
        .as("n_tokens"))
    val masses = withTok.groupBy(col(groupCol)).agg(sum("n_tokens").as("m_g"))
      .withColumn("s", temperatureScore(col("m_g"), tau))
    val bigS = sum(col("s")).over(all).cast(dec)
    val prod = lit(totalTokens).cast(dec) * col("s")
    val scored = masses
      .withColumn("base", call_function("div", prod, bigS))
      .withColumn("rem", prod - col("base") * bigS)
    val deficit = lit(totalTokens) - sum(col("base")).over(all)
    val remRank = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("rem").desc, col(groupCol).asc))
    val quotas = scored.select(col(groupCol),
      (col("base") + when(remRank <= deficit, 1L).otherwise(0L))
        .cast("long").as("quota"))
    val P = 1000000007L
    val h = pmod(pmod(col(idCol), lit(P)) * lit(654435747L), lit(P))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(h.asc, col(idCol).asc)
    val cumBefore = coalesce(
      sum(col("n_tokens")).over(w.rowsBetween(Long.MinValue, -1)), lit(0L))
    withTok
      .withColumn("cum_before", cumBefore)
      .join(broadcast(quotas), Seq(groupCol))
      .filter(col("cum_before") < col("quota"))
      .select(col(idCol), col(groupCol),
        col("n_tokens").cast("int").as("n_tokens"),
        col("cum_before"), col("quota"))
  }

  /** Negative sampling for contrastive/recsys training: per user, k
    * pseudo-random items from [0, itemSpace) that the user did NOT
    * interact with. Uses the standard propose-and-drop shape: each
    * (user, draw i) proposes item
    *
    *   ((user mod P)·A + i·B) mod itemSpace      (P = 1e9+7 prime)
    *
    * — a deterministic integer hash both engines evaluate exactly (the
    * mod-P fold keeps the product far inside int64 at ANY user-id
    * magnitude) — then one anti-join drops proposals that collide with
    * a true interaction. Collisions are simply dropped, not redrawn
    * (per-user output is k minus its collision count): redraw loops are
    * iterative and data-dependent, while the expected loss is the
    * interaction density, which is tiny for real catalogs — callers
    * needing exactly-k oversample draws and cut.
    *
    * Plan: one distinct-users aggregation, a zero-shuffle Expand of the
    * k draw indices, ONE anti-join against the positives on
    * (user, item) — no per-user loop, no rejection iteration, nothing
    * quadratic. Output: (userCol, draw, itemCol). */
  def negativeSample(interactions: DataFrame, userCol: String,
      itemCol: String, k: Int, itemSpace: Long): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1,1000]: $k")
    require(itemSpace >= 2, s"itemSpace must be >= 2: $itemSpace")
    val P = 1000000007L
    val pos = interactions.select(col(userCol), col(itemCol)).distinct()
    val proposals = pos.select(col(userCol)).distinct()
      .withColumn("draw",
        explode(array((0 until k).map(i => lit(i.toLong)): _*)))
      .withColumn(itemCol,
        pmod(pmod(col(userCol), lit(P)) * lit(26544357L) +
          col("draw") * lit(40503L), lit(itemSpace)))
    proposals.join(pos, Seq(userCol, itemCol), "left_anti")
      .select(col(userCol), col("draw"), col(itemCol))
  }

  /** Sentence-window chunking — [[chunk]]'s RAG-prep twin at sentence
    * granularity: retrieval context should never split mid-sentence.
    * Sentences follow the C4 convention shared with the span-dedup
    * family (terminated `[.!?]` runs, whitespace-normalized;
    * unterminated trailing text is not a sentence); each chunk is
    * `window` consecutive sentences stepping by `stride`, so
    * window − stride sentences of context carry across every chunk
    * seam. Documents with no terminated sentence produce no chunks.
    * Zero shuffle — one regexp pass + one explode, like chunk.
    * Output: (idCol, chunk_id, chunk_text, n_sentences, n_tokens). */
  def chunkBySentences(docs: DataFrame, window: Int = 3, stride: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val raw = regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]+"), lit(0))
    val sents = filter(
      transform(raw, s => trim(regexp_replace(s, TextAnalysis.WhitespaceClass, " "))),
      s => length(s) > 0)
    val nS = size(col("__ss"))
    val nChunks = when(nS <= window, lit(1L))
      .otherwise(ceil((nS - window).cast("double") / stride).cast("long") + 1L)
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), sents.as("__ss"))
      .filter(size(col("__ss")) > 0)
      .select(col(idCol), col("__ss"), nChunks.as("__nc"))
      .select(col(idCol),
        explode(transform(sequence(lit(0L), col("__nc") - 1L), i =>
          struct(
            i.cast("int").as("chunk_id"),
            array_join(slice(col("__ss"), (i * stride + 1L).cast("int"), lit(window)), " ")
              .as("chunk_text"),
            size(slice(col("__ss"), (i * stride + 1L).cast("int"), lit(window)))
              .as("n_sentences")))).as("__c"))
      .select(col(idCol), col("__c.chunk_id"), col("__c.chunk_text"),
        col("__c.n_sentences"),
        TextAnalysis.tokenCount(col("__c.chunk_text")).cast("int").as("n_tokens"))
  }

  /** Dictionary tagging: which blocklist/topic phrases does each
    * document contain? One Aho-Corasick pass per document
    * (functions.DictionaryTags — whole-token matches over the shared
    * normalization contract), NEVER a doc × dictionary join, so a
    * 10⁵-phrase dictionary costs the same scan as a 10-word one.
    * EVERY input document surfaces — zero-match and null-text docs
    * report `tags = ''`, `n_tags = 0` (the per-doc-signal contract a
    * downstream router needs; the sentenceSpans short-doc lesson).
    * Output: (idCol, tags — comma-joined sorted normalized phrases,
    * n_tags). Zero shuffle. */
  def dictionaryTags(docs: DataFrame, phrases: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tags = graft.functions.dictionaryscan.dictionary_tags(
      coalesce(col(textCol), lit("")), phrases)
    docs.select(col(idCol), tags.as("tags_arr"))
      .select(col(idCol),
        concat_ws(",", col("tags_arr")).as("tags"),
        size(col("tags_arr")).cast("int").as("n_tags"))
  }

  /** The C4 "bad words" page filter (Raffel et al. 2020 §2.2: drop any
    * page containing a blocklisted word/phrase — reference pipelines
    * use the public "dirty, naughty …" list). Survivors pass through
    * with ALL their columns; matching is the dictionaryTags contract
    * (whole-token, normalized), so "scunthorpe" never trips a "thorpe"
    * entry. One scan, zero shuffle — the filter composes with any
    * downstream plan untouched. Null text survives (nothing to match). */
  def blocklistFilter(docs: DataFrame, phrases: Seq[String],
      textCol: String = "text"): DataFrame =
    docs.filter(size(graft.functions.dictionaryscan.dictionary_tags(
      coalesce(col(textCol), lit("")), phrases)) === 0)
}
