package graft.ext

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Deduplication operators for LLM-pipeline curation.
  *
  * Scale design notes (the point of each variant):
  *  - exact: group on a 16-byte content fingerprint, never shuffle
  *    document bodies.
  *  - ngramJaccard: EXACT pairwise Jaccard, but candidates come from an
  *    inverted shingle index (self-join on shingle), so |A∩B| is a
  *    count aggregated per pair — no all-pairs cross join ever
  *    materializes. This is the verification-grade path.
  *  - minhash: MinHash signatures + LSH banding — the 100 TB path.
  *    Candidate volume is controlled by band/row choice; candidates are
  *    then verified with exact Jaccard, so precision is 1 and recall is
  *    1 - (1 - j^r)^b (≈ 1 - 5e-8 at j=0.8 with b=32, r=4: for the
  *    driver's oracle this is exact for all practical purposes).
  *  - simhash: 64-bit SimHash + pigeonhole banding on 16-bit chunks
  *    (hamming distance ≤ 3 guarantees one equal chunk).
  */
object Dedup {

  /** Materialization barrier: an exchange that (a) spreads a small-file
    * scan across the cluster and (b) stops Catalyst's projection collapse
    * from inlining an expensive array-expression column into every
    * downstream use (higher-order functions are interpreted, so
    * re-evaluating a shingle set inside each of 128 MinHash branches is
    * catastrophic — the exchange materializes it once per row). */
  private def barrier(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Optimizer fence: rebuild the frame from its RDD so the plan below
    * becomes an opaque LogicalRDD that no Catalyst rule can cross. A
    * `barrier` stops projection collapse but NOT predicate pushdown —
    * `InferFiltersFromGenerate` plants `size(col) > 0` under an explode,
    * and pushdown then substitutes the alias chain into that filter; with
    * nested higher-order functions the substituted lambda re-evaluates its
    * argument expression per element (tokenize × grams × windows), a
    * per-row cascade measured at 430 s vs ~2 s on sf0.1 winnowing. Unlike
    * `localCheckpoint` this is lazy and fault-tolerant (the RDD keeps
    * lineage for recompute); the Row ser/deser cost is linear in the
    * fenced frame, so fence the SMALLEST frame that needs protecting. */
  private def planFence(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Exact dedup: one surviving (min) doc id per distinct normalized text,
    * with the duplicate count. Groups by md5 fingerprint so the shuffle
    * key is 16 bytes; map-side partial aggregation applies. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(idCol, "n_copies")

  /** EXACT near-duplicate pairs by word-n-gram Jaccard >= `threshold`,
    * via prefix filtering (the classic AllPairs/PPJoin exact
    * set-similarity join).
    *
    * Candidate generation self-joins only each document's PREFIX — its
    * first `|d| - ceil(t*|d|) + 1` shingles in the global
    * rarest-first order — which is provably complete for Jaccard >= t:
    * if a qualifying pair shared no prefix shingle, its intersection
    * would fit inside the last `ceil(t*|d|) - 1` shingles, too few to
    * reach the threshold. Candidates are then verified EXACTLY on the
    * full shingle sets, so precision and recall are both 1.
    *
    * Why this shape at 100 TB: the naive inverted-index self-join is
    * quadratic per hot shingle (a boilerplate 3-gram in f docs emits f²
    * pairs on one key). Prefix filtering sorts shingles rarest-first, so
    * ubiquitous shingles land at the END of every ordering and almost
    * never inside a prefix — the hot keys are exactly the ones excluded
    * from the join. A size-ratio filter (`t·max <= min`, a necessary
    * condition for J >= t) prunes candidates before verification.
    * Jaccard is a single integer division: bit-identical across engines.
    */
  def ngramJaccard(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Materialize, not just an exchange: withSh has THREE consumers
    // (prefix candidates, a-side verify, b-side verify) and the measured
    // plan re-ran the shingle-hash map stage once per consumer (~10 s
    // CPU each at sf0.1) — exchange reuse does not fence it
    val withSh = Materialize(
      barrier(docs.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          graft.functions.texthash.shingle_hashes(col(textCol), n).as("shs"))
        .filter(size(col("shs")) > 0))
    val cand = prefixCandidates(withSh, threshold)
    cand
      .join(withSh.select(col("id").as("a_id"), col("shs").as("a_shs")), "a_id")
      .join(withSh.select(col("id").as("b_id"), col("shs").as("b_shs")), "b_id")
      .withColumn("c", size(array_intersect(col("a_shs"), col("b_shs"))).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("a_shs")) + size(col("b_shs")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** EXACT directional containment pairs: |shingles(A) ∩ shingles(B)| /
    * |shingles(A)| >= `threshold` for ORDERED pairs (a, b), a != b — the
    * asymmetric cousin of ngramJaccard that catches a short document
    * living inside a longer one (quotation, boilerplate wrapper,
    * truncated copy), which symmetric Jaccard misses because the union
    * is dominated by the longer side.
    *
    * Prefix filter (asymmetric): only the A side is prefix-reduced — if
    * |A∩B| >= t·|A| then B must contain one of A's first
    * |A| - ceil(t·|A|) + 1 shingles in the global rarest-first order
    * (otherwise the intersection fits inside A's last ceil(t·|A|) - 1
    * shingles, too few). The B side must index ALL its shingles (no
    * size constraint exists on B beyond |B| >= ceil(t·|A|), applied as
    * a pre-verify filter). Skew shape at 100 TB: ubiquitous shingles
    * sit at the END of every rarest-first ordering, so they almost
    * never appear in an A-prefix — the hot index keys join against a
    * near-empty prefix side instead of exploding quadratically.
    * Verification is exact on the full shingle sets. */
  def containment(docs: DataFrame, threshold: Double = 0.7, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    // Materialize: three consumers (index explode, a-side verify,
    // b-side verify) — see ngramJaccard's measured triple-recompute
    val withSh = Materialize(
      barrier(docs.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          graft.functions.texthash.shingle_hashes(col(textCol), n).as("shs"))
        .filter(size(col("shs")) > 0))
    val idx = withSh.select(col("id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("sh"))
    val dfreq = idx.groupBy("sh").agg(count(lit(1)).as("df"))
    // rarest-first A-prefix via the per-doc row_number window (see
    // prefixCandidates for why the windowless in-row reassembly was
    // tried and reverted)
    val wDoc = Window.partitionBy("id").orderBy(col("df").asc, col("sh").asc)
    val prefixA = idx.join(dfreq, "sh")
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * lit(threshold)) + 1)
      .select(col("id").as("a_id"), col("sz").as("a_sz"), col("sh"))
    val fullB = idx.select(col("id").as("b_id"), col("sz").as("b_sz"), col("sh"))
    val cand = prefixA.join(fullB,
        prefixA("sh") === fullB("sh") && col("a_id") =!= col("b_id") &&
          col("b_sz") >= ceil(col("a_sz") * lit(threshold)))
      .select("a_id", "b_id").distinct()
    cand
      .join(withSh.select(col("id").as("a_id"), col("shs").as("a_shs")), "a_id")
      .join(withSh.select(col("id").as("b_id"), col("shs").as("b_shs")), "b_id")
      .withColumn("c", size(array_intersect(col("a_shs"), col("b_shs"))).cast("long"))
      .withColumn("containment", col("c").cast("double") / size(col("a_shs")))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "containment")
  }

  /** Prefix-filtered candidate pairs for Jaccard >= `threshold` over a
    * (id, shs: array<bigint>) frame of per-doc distinct shingle hashes.
    * Exposed for the skew test: candidate volume must stay near-linear
    * even when one shingle appears in every document. */
  private[ext] def prefixCandidates(withSh: DataFrame, threshold: Double): DataFrame = {
    val idx = withSh.select(col("id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("sh"))
    // global document frequency: rarest-first ordering key (ties by hash
    // value so the order is total and deterministic)
    val dfreq = idx.groupBy("sh").agg(count(lit(1)).as("df"))
    // rarest-first prefix via the per-doc row_number window. A
    // windowless in-row reassembly (groupBy(id) + collect_list(struct)
    // + array_sort + slice) was tried in r20 and REVERTED: it shuffles
    // the same (id-keyed) bytes but swaps the window's partition sort
    // for an ObjectHashAggregate materializing every doc's (df, sh)
    // array — measured dedup_ngram_jaccard 1.64s -> 2.21s and
    // dedup_containment 2.31s -> 3.13s at sf0.1/32c (paired A/B,
    // min-of-4). The window form is also the r19-verified oracle shape.
    val wDoc = Window.partitionBy("id").orderBy(col("df").asc, col("sh").asc)
    val prefix = idx.join(dfreq, "sh")
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= col("sz") - ceil(col("sz") * lit(threshold)) + 1)
      .select("id", "sz", "sh")
    prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          // necessary size-ratio condition for J >= t: t * max <= min
          greatest(col("a.sz"), col("b.sz")) * lit(threshold) <=
            least(col("a.sz"), col("b.sz")))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
  }

  /** MinHash signature column: for each of `k` seeded mixes, the min over
    * the document's shingle hashes — a native Catalyst expression
    * (graft.functions.MinHashSignature) because the k×n hot loop is ~100×
    * faster than the equivalent interpreted `transform`/`array_min`. */
  def minhashSignature(shingleHashes: org.apache.spark.sql.Column, k: Int) =
    graft.functions.sketches.minhash_signature(shingleHashes, k)

  /** MinHash + LSH near-dup pairs, verified with exact Jaccard.
    *
    * b bands of r rows (k = b*r). Docs land in a bucket per band keyed by
    * the band slice's hash; same-bucket pairs are candidates. Candidates
    * are deduplicated across bands, then verified by exact shingle-set
    * Jaccard (small joins: only candidate ids fetch their shingle sets).
    */
  def minhash(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
      bands: Int = 32, rows: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = bands * rows
    // barriers: materialize the shingle-hash array before the multi-use
    // signature/verification consumers, and the signature before the
    // per-band explode — otherwise projection collapse re-evaluates them
    // once per use.
    val withSh = Materialize(
      barrier(docs.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          graft.functions.texthash.shingle_hashes(col(textCol), n).as("shs"))
        .filter(size(col("shs")) > 0))
    val sigs = Materialize(withSh.select(col("id"), minhashSignature(col("shs"), k).as("sig")))
    // one row per (band, bucket): bucket = hash of the band's r-slice
    val buckets = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))))
      .toDF("id", "band", "bucket")
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    // exact verification on candidates only
    val verified = cand
      .join(withSh.withColumnRenamed("id", "a_id").withColumnRenamed("shs", "a_shs"), "a_id")
      .join(withSh.withColumnRenamed("id", "b_id").withColumnRenamed("shs", "b_shs"), "b_id")
      .withColumn("c", size(array_intersect(col("a_shs"), col("b_shs"))).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("a_shs")) + size(col("b_shs")) - col("c")))
      .filter(col("jaccard") >= threshold)
    verified.select("a_id", "b_id", "jaccard")
  }

  /** [[minhash]] starting from persisted `lshIndexState` rows instead
    * of raw documents — within-state pairs only (bucket self-join +
    * exact-Jaccard verify, identical to minhash's tail). Lets the
    * streaming dedup gate's FIRST batch reuse the delta it just wrote,
    * computing shingles and signatures exactly once. */
  def minhashFromState(state: DataFrame, threshold: Double = 0.8,
      bands: Int = 32, rows: Int = 4): DataFrame = {
    val st = state.select(col("id"), col("shs"), col("sig"))
    val buckets = lshBuckets(st, bands, rows)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    val withSh = st.select(col("id"), col("shs"))
    cand
      .join(withSh.withColumnRenamed("id", "a_id").withColumnRenamed("shs", "a_shs"), "a_id")
      .join(withSh.withColumnRenamed("id", "b_id").withColumnRenamed("shs", "b_shs"), "b_id")
      .withColumn("c", size(array_intersect(col("a_shs"), col("b_shs"))).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("a_shs")) + size(col("b_shs")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Cross-lingual near-duplicate pairs: documents in DIFFERENT
    * languages whose CONCEPT sets — surface tokens mapped through a
    * translation lexicon — overlap at `threshold` Jaccard. The
    * multilingual-corpus twin of [[minhash]]: machine-translated copies
    * inflate a multilingual training corpus exactly like literal copies
    * inflate a monolingual one, but share no surface n-grams, so
    * surface MinHash cannot see them; dictionary-normalized token
    * classes (the CLIR trick) restore the overlap signal.
    *
    * `lexicon` is a (surface, concept) relation — many surfaces per
    * concept, one per language; an ambiguous surface resolves to its
    * lexicographically SMALLEST concept (deterministic in any engine).
    * Tokens missing from the lexicon are dropped before shingling
    * (lexicon coverage is the recall knob). The Jaccard runs over
    * `n`-gram shingles of the CONCEPT SEQUENCE — unigram concept sets
    * saturate on a small shared vocabulary; sequence shingles keep the
    * discrimination of [[minhash]]. Scale shape: the lexicon is a
    * BROADCAST dimension (dictionary-sized); per-doc distinct shingle-
    * hash sets flow through the same signature→band→bucket-join LSH as
    * [[minhash]] with candidates restricted to `lang_a != lang_b`,
    * then exact concept-shingle-Jaccard verification on candidates
    * only — never all-pairs.
    *
    * Output: (a_id, b_id, a_lang, b_lang, jaccard), a_id < b_id. */
  def crossLingualMinhash(docs: DataFrame, lexicon: DataFrame,
      threshold: Double = 0.8, n: Int = 3, bands: Int = 32, rows: Int = 4,
      idCol: String = "doc_id", langCol: String = "lang",
      textCol: String = "text", surfaceCol: String = "surface",
      conceptCol: String = "concept"): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val k = bands * rows
    val tok = barrier(docs.select(col(idCol), col(langCol), col(textCol)))
      .select(col(idCol).as("id"), col(langCol).as("lang"),
        posexplode(filter(TextAnalysis.tokens(lower(col(textCol))),
          t => length(t) > 0)))
      .toDF("id", "lang", "pos", "surface")
    val lex = lexicon
      .select(col(surfaceCol).as("surface"), col(conceptCol).as("concept"))
      .groupBy("surface").agg(min(col("concept")).as("concept"))
    val seqs = tok.join(broadcast(lex), Seq("surface"))
      .groupBy(col("id"), col("lang"))
      .agg(array_sort(collect_list(struct(col("pos"), col("concept")))).as("ps"))
      .select(col("id"), col("lang"),
        transform(col("ps"), p => p("concept")).as("cs"))
      .filter(size(col("cs")) >= n)
    val withSh = Materialize(seqs.select(col("id"), col("lang"),
      array_distinct(transform(sequence(lit(0), size(col("cs")) - n),
        i => xxhash64(concat_ws(" ",
          (0 until n).map(j => element_at(col("cs"), i + j + 1)): _*))))
        .as("shs")))
    val sigs = Materialize(withSh.select(col("id"), col("lang"),
      minhashSignature(col("shs"), k).as("sig")))
    val buckets = sigs.select(col("id"), col("lang"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))))
      .toDF("id", "lang", "band", "bucket")
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id") && col("x.lang") =!= col("y.lang"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    cand
      .join(withSh.select(col("id").as("a_id"), col("lang").as("a_lang"),
        col("shs").as("a_shs")), "a_id")
      .join(withSh.select(col("id").as("b_id"), col("lang").as("b_lang"),
        col("shs").as("b_shs")), "b_id")
      .withColumn("c", size(array_intersect(col("a_shs"), col("b_shs"))).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("a_shs")) + size(col("b_shs")) - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("a_lang"), col("b_lang"), col("jaccard"))
  }

  /** 64-bit SimHash of the token stream: bit i of the result is 1 when
    * more than half the token hashes have bit i set — a native Catalyst
    * expression (graft.functions.SimHash64) over the token-hash array. */
  def simhashSignature(tokens: org.apache.spark.sql.Column) =
    graft.functions.sketches.simhash64(transform(tokens, t => xxhash64(t)))

  /** Text-column SimHash via the single-pass native tokenizer (preferred
    * over simhashSignature(tokens) when starting from raw text). */
  def simhashOfText(text: org.apache.spark.sql.Column) =
    graft.functions.sketches.simhash64(graft.functions.texthash.token_hashes(text))

  /** SimHash near-dup pairs with hamming distance <= maxDist (default 3).
    * Pigeonhole banding: split the 64-bit signature into 4 16-bit chunks;
    * distance <= 3 implies at least one chunk matches exactly, so the join
    * key is (chunk index, chunk value) — never all-pairs. */
  def simhash(docs: DataFrame, maxDist: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole banding guarantees recall only for dist<=3")
    val sigs = Materialize(
      barrier(docs.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"), simhashOfText(col(textCol)).as("sig"))
        .filter(col("sig").isNotNull))
    val chunks = sigs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        i => call_function("shiftright", col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)))))
      .toDF("id", "sig", "chunk_idx", "chunk")
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") && col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Perceptual near-duplicate IMAGE pairs off precomputed dHash words
    * ([[Multimodal.dHash]]: h_hi = gradient bits 32..63, h_lo = 0..31,
    * both non-negative 32-bit values) — [[simhash]]'s pigeonhole
    * banding applied to the image hash: 4 16-bit chunks across the two
    * words, so Hamming distance <= 3 FORCES an exact chunk match and
    * candidates come from an equi-join on (chunk index, chunk value),
    * never all-pairs; exact 64-bit Hamming verifies every candidate.
    * Output: (a_id, b_id, dist), a < b, dist <= maxDist. */
  def dhashPairs(hashes: DataFrame, maxDist: Int = 3,
      idCol: String = "doc_id"): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole banding guarantees recall only for dist<=3")
    val h = hashes.select(col(idCol).as("id"),
      col("h_hi").cast("long").as("h_hi"), col("h_lo").cast("long").as("h_lo"))
    val chunks = h.select(col("id"), col("h_hi"), col("h_lo"),
      posexplode(array(
        col("h_lo").bitwiseAND(lit(0xFFFFL)),
        call_function("shiftright", col("h_lo"), lit(16)).bitwiseAND(lit(0xFFFFL)),
        col("h_hi").bitwiseAND(lit(0xFFFFL)),
        call_function("shiftright", col("h_hi"), lit(16)).bitwiseAND(lit(0xFFFFL)))))
      .toDF("id", "h_hi", "h_lo", "chunk_idx", "chunk")
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") && col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        (bit_count(col("x.h_hi").bitwiseXOR(col("y.h_hi"))) +
          bit_count(col("x.h_lo").bitwiseXOR(col("y.h_lo")))).cast("int").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** [[dhashPairs]] restricted to pairs TOUCHING the new batch —
    * new×new plus new×old candidates from the same pigeonhole chunk
    * join (old×old pairs were resolved when their batches arrived and
    * are never recomputed); output keeps a_id < b_id. The incremental
    * face the streaming image-dedup gate folds per microbatch. */
  def dhashPairsIncremental(newHashes: DataFrame, oldHashes: DataFrame,
      maxDist: Int = 3, idCol: String = "doc_id"): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole banding guarantees recall only for dist<=3")
    def prep(df: DataFrame) = df.select(col(idCol).as("id"),
      col("h_hi").cast("long").as("h_hi"), col("h_lo").cast("long").as("h_lo"))
    def chunksOf(df: DataFrame) = df.select(col("id"), col("h_hi"), col("h_lo"),
      posexplode(array(
        col("h_lo").bitwiseAND(lit(0xFFFFL)),
        call_function("shiftright", col("h_lo"), lit(16)).bitwiseAND(lit(0xFFFFL)),
        col("h_hi").bitwiseAND(lit(0xFFFFL)),
        call_function("shiftright", col("h_hi"), lit(16)).bitwiseAND(lit(0xFFFFL)))))
      .toDF("id", "h_hi", "h_lo", "chunk_idx", "chunk")
    val nc = chunksOf(prep(newHashes))
    val oc = chunksOf(prep(oldHashes))
    def hamming(ah: org.apache.spark.sql.Column, al: org.apache.spark.sql.Column,
        bh: org.apache.spark.sql.Column, bl: org.apache.spark.sql.Column) =
      (bit_count(ah.bitwiseXOR(bh)) + bit_count(al.bitwiseXOR(bl))).cast("int")
    val newNew = nc.as("x").join(nc.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") && col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        hamming(col("x.h_hi"), col("x.h_lo"), col("y.h_hi"), col("y.h_lo")).as("dist"))
    val newOld = nc.as("x").join(oc.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") && col("x.chunk") === col("y.chunk"))
      .select(least(col("x.id"), col("y.id")).as("a_id"),
        greatest(col("x.id"), col("y.id")).as("b_id"),
        hamming(col("x.h_hi"), col("x.h_lo"), col("y.h_hi"), col("y.h_lo")).as("dist"))
      .filter(col("a_id") =!= col("b_id"))
    newNew.unionByName(newOld).distinct().filter(col("dist") <= maxDist)
  }

  /** Embedding-cosine near-duplicate pairs: banded SRP-LSH candidates
    * verified by exact cosine >= threshold.
    *
    * Banding math: a pair at cosine c disagrees on one hyperplane bit
    * with p = arccos(c)/π (≈0.10 at c=0.95). With `bands` bands of
    * `rowsPerBand` bits, recall = 1-(1-(1-p)^r)^b ≈ 0.99 at the defaults
    * for c >= 0.95. Precision is 1 (exact verification). Candidates per
    * band-bucket stay corpus-density-bounded — no all-pairs. */
  def embeddingCosine(embs: DataFrame, threshold: Double = 0.95,
      bands: Int = 8, rowsPerBand: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = bands * rowsPerBand
    require(planes <= 63, s"bands*rowsPerBand must be <= 63, got $planes")
    val withSig = Materialize(
      barrier(embs.select(col(idCol), col(vecCol)))
        .select(col(idCol).as("id"),
          transform(col(vecCol), x => x.cast("double")).as("v"))
        .withColumn("sig", graft.functions.sketches.srp_signature(col("v"), planes)))
    val mask = (1L << rowsPerBand) - 1
    val buckets = withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => call_function("shiftright", col("sig"), b * rowsPerBand).bitwiseAND(lit(mask)))))
      .toDF("id", "band", "bucket")
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    cand
      .join(withSig.select(col("id").as("a_id"), col("v").as("a_v")), "a_id")
      .join(withSig.select(col("id").as("b_id"), col("v").as("b_v")), "b_id")
      .withColumn("cosine", graft.functions.sketches.cosine_similarity(col("a_v"), col("b_v")))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** SemDeDup-style embedding-cluster dedup (Abbas et al. 2023): the
    * corpus partitions into K-Means cells (the [[Similarity.ivfTopK]]
    * coarse quantizer, shared code), pairwise exact cosine runs ONLY
    * within each cell, pairs ≥ `threshold` close transitively into
    * clusters, and each cluster keeps exactly one document — by the
    * paper's rule the one FARTHEST from its cell centroid (lowest
    * cosine to centroid: edge examples preserve diversity), ties and
    * the `keepLowestId` variant by lowest id, so the keep set is a pure
    * function of the data.
    *
    * Scale shape: candidates form via one equi-join on the cell id —
    * with √N auto-sized cells the per-cell population stays ~√N, so
    * within-cell pairwise is bounded and nothing is ever quadratic in
    * the corpus (the paper's per-cluster pairwise, as a shuffle-local
    * join). `nCells = 1` is the exact face — every pair is considered
    * (brute force), no quantizer fit at all — which the driver oracle
    * replays in SQL; the clustered path trades recall for the bounded
    * candidate set and is pinned by a seeded recall battery instead.
    *
    * Output: one row per document belonging to a near-dup cluster —
    * (doc_id, cluster_id, keep_id, is_kept); singletons are omitted
    * (nothing to prune). Discard set = rows with is_kept = false. */
  def semdedup(embs: DataFrame, threshold: Double = 0.9, nCells: Int = 0,
      seed: Long = 42L, idCol: String = "vec_id", vecCol: String = "embedding",
      keepLowestId: Boolean = false,
      maxFitVectors: Long = 1000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val spark = embs.sparkSession
    val prepared = barrier(embs.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v")))
    val (assigned, centroids) =
      if (nCells == 1)
        (prepared.withColumn("cell", lit(0)), Seq.empty[(Int, Array[Double])])
      else Similarity.kmeansCells(prepared, nCells, seed, maxFitVectors)
    // three consumers (pairwise x/y legs + member join) — fence, don't
    // just exchange (the ngramJaccard measured-triple-recompute lesson)
    val a = Materialize(assigned)
    val pairs = a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        graft.functions.sketches.cosine_similarity(col("x.v"), col("y.v"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
    val clusters = components(pairs) // (doc_id, cluster_id)
    val member = clusters
      .join(a.select(col("id").as("doc_id"), col("v"), col("cell")), "doc_id")
    val scored =
      if (keepLowestId) member.withColumn("__score", lit(0.0))
      else {
        // keep-farthest-from-centroid: score = cosine to the doc's OWN
        // cell centroid (cells-sized broadcast frame; for the exact
        // face the centroid is the global mean, computed in one
        // dimension-bounded aggregation)
        val centDf =
          if (centroids.nonEmpty)
            broadcast(spark.createDataFrame(centroids).toDF("cell", "centroid"))
          else broadcast(prepared
            .select(posexplode(col("v")).as(Seq("pos", "x")))
            .groupBy("pos").agg(avg(col("x")).as("m"))
            .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
              .as("ps"))
            .select(lit(0).as("cell"),
              transform(col("ps"), p => p.getField("m")).as("centroid")))
        member.join(centDf, "cell")
          .withColumn("__score",
            graft.functions.sketches.cosine_similarity(col("v"), col("centroid")))
          .drop("centroid")
      }
    val keeps = scored.groupBy(col("cluster_id"))
      .agg(expr("min_by(doc_id, struct(__score, doc_id))").as("keep_id"))
    scored.join(keeps, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("is_kept"))
  }

  /** Connected components over a near-duplicate PAIR graph — the step
    * that turns pairwise matches into dedup CLUSTERS (transitive
    * closure: a~b, b~c => {a,b,c} share one cluster, canonical id = min
    * member).
    *
    * Iterative min-label propagation WITH POINTER JUMPING: each round
    * every vertex (1) hooks — takes the min of its own label and its
    * neighbors' labels — then (2) jumps — replaces its label with its
    * label's own label (path compression). Jumping halves label-tree
    * depth every round, so even an adversarial CHAIN graph converges in
    * O(log diameter) rounds (the same round-complexity class as
    * large-star/small-star) while shallow near-dup clusters finish in
    * 1-2. Labels start at min(self, neighbors) — the first hook, free on
    * the adjacency. Correctness is unchanged by jumping: a label is
    * always the id of a node in the same component and never exceeds
    * its vertex, labels only decrease, and a round that moves no label
    * is a fixpoint of the hook step, which forces equal labels across
    * every edge — so "no label changed" is the convergence test.
    *
    * Execution: ONE Spark action per round. The symmetric adjacency
    * (v, nbrs) and the labels (v, label) live as RDDs co-partitioned
    * under one HashPartitioner, so the hook is a narrow join, a
    * map-side-combined reduceByKey(min) and nothing else; the jump is
    * one join keyed on the label; the count of changed labels is a
    * narrow join of the new labels against the old, and that count is
    * the action that materializes the round. A DataFrame formulation
    * pays a Catalyst re-plan plus one job per AQE stage every round.
    * The reducer count is sized from the materialized input edge count
    * (~1M edges per reducer, at most the session's shuffle partitions)
    * without touching the session conf, which a concurrent query on the
    * shared session would otherwise inherit. Every round's labels (and
    * the adjacency) are fenced through [[Materialize.rdd]]: a RELIABLE
    * checkpoint when the session has a checkpoint dir configured (the
    * cluster contract — survives executor loss mid-iteration) and an
    * executor-local checkpoint otherwise (local runs).
    *
    * Ids must be integral; `doc_id` and `cluster_id` keep the input id
    * type (the wider of the two columns). Pairs with a null endpoint
    * are dropped — a null is no vertex.
    *
    * Output: (doc_id, cluster_id) for every vertex in the pair graph.
    */
  def components(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
      maxRounds: Int = 50): DataFrame = {
    val sess = pairs.sparkSession
    import sess.implicits._
    val idType = pairs.select(col(aCol)).union(pairs.select(col(bCol))).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"components needs integral vertex ids, got $idType")
    // the loop-sizing edge count rides the fence's materializing action
    val edges = Materialize.rdd(pairs
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .as[(Long, Long)].rdd)
    val nEdges = edges.count()
    val sessionParts = sess.conf.get("spark.sql.shuffle.partitions").toInt
    val part = new HashPartitioner(math.max(2, math.min(sessionParts,
      (2 * nEdges / 1000000L).toInt + 2)))
    val adj = Materialize.rdd(edges
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .groupByKey(part)
      .mapValues(_.toArray.distinct))
    var labels = adj.mapPartitions(_.map { case (v, nbrs) => (v, math.min(v, nbrs.min)) },
      preservesPartitioning = true)
    var changed = nEdges // an empty graph has converged before any round
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val hooked = adj.join(labels, part)
        .flatMap { case (v, (nbrs, l)) => Iterator.single((v, l)) ++ nbrs.iterator.map((_, l)) }
        .reduceByKey(part, math.min(_, _))
      // pointer jumping: label := label's label. Every label is a vertex
      // id, so the left join only misses if that invariant breaks.
      val jumped = hooked.map(_.swap).leftOuterJoin(hooked, part)
        .map { case (l, (v, ll)) => (v, ll.getOrElse(l)) }
      val next = Materialize.rdd(jumped.partitionBy(part))
      changed = next.join(labels, part).filter { case (_, (n, o)) => n != o }.count()
      labels.unpersist(blocking = false)
      labels = next
      round += 1
    }
    // once a round ran, the labels are materialized and cut from both
    // fences (an empty graph's output is still computed from them)
    if (round > 0) { edges.unpersist(blocking = false); adj.unpersist(blocking = false) }
    // partially-propagated labels are silently WRONG cluster ids — a
    // component with diameter > maxRounds must fail loud, not mislabel
    if (changed > 0) throw new IllegalStateException(
      s"components did not converge in $maxRounds rounds — raise maxRounds " +
        "(component diameter exceeds it) or switch to large-star/small-star")
    labels.toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(idType), col("cluster_id").cast(idType))
  }

  /** Duplicate-SPAN detection (ExactSubstr-style): for every document
    * with at least `k` tokens, how much of it is covered by a `k`-token
    * contiguous span that occurs elsewhere in the corpus (another doc,
    * or repeated within the same doc). Output per doc:
    * `n_shingles` (k-shingle positions), `n_dup_shingles` (positions
    * whose shingle occurs >= 2 times corpus-wide, multiplicity
    * counted), `dup_tokens` (distinct token positions covered by the
    * union of those duplicated windows — the token mass ExactSubstr
    * would cut).
    *
    * Reference semantics: Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (arXiv:2107.06499) build a corpus
    * suffix array and remove substrings repeated verbatim. The
    * distributed re-expression hashes every k-token window and
    * group-counts the hashes: a window repeats iff its hash count >= 2
    * (64-bit hash, collisions vanishingly rare and only ever
    * over-flag).
    *
    * Why this shape at 100 TB: unlike every pairwise dedup in this
    * file, span dedup never forms candidate PAIRS — the hot path is a
    * count aggregate keyed by an 8-byte hash (map-side partial
    * combine), then one hash-join back to positions. Cost is linear in
    * total shingles regardless of how duplicated the corpus is; a
    * boilerplate span occurring in 10^6 docs is one group row, not
    * 10^12 pairs. The window explosion for coverage is bounded by
    * k × duplicated-positions only. */
  def substringSpans(docs: DataFrame, k: Int = 12,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.texthash.shingle_hashes_all
    val withSh = Materialize(
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), shingle_hashes_all(col(textCol), k).as("shs"))
        .filter(size(col("shs")) > 0))
    val pos = withSh.select(col("id"), posexplode(col("shs")).as(Seq("i", "h")))
    val dupHashes = pos.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("h")
    val dupPos = pos.join(dupHashes, "h").select("id", "i")
    val nDup = dupPos.groupBy("id").agg(count(lit(1)).as("n_dup_shingles"))
    val cov = dupPos
      .select(col("id"), explode(sequence(col("i"), col("i") + lit(k - 1))).as("p"))
      .groupBy("id").agg(countDistinct(col("p")).as("dup_tokens"))
    withSh.select(col("id"), size(col("shs")).cast("long").as("n_shingles"))
      .join(nDup, Seq("id"), "left")
      .join(cov, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles"),
        coalesce(col("n_dup_shingles"), lit(0L)).as("n_dup_shingles"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** ExactSubstr duplicate-substring REMOVAL — the cleaning operator
    * behind [[substringSpans]]' report (Lee et al. 2107.06499 §4.1
    * remove duplicated substrings, keeping one copy): every token
    * inside a corpus-duplicated k-token window is DROPPED, except that
    * the FIRST occurrence of each duplicated window — min (id, pos)
    * over the hash group, an engine-portable total order — keeps its
    * tokens. (A first-occurrence token can still fall when it also
    * sits inside a non-first occurrence of some other duplicated
    * window: removal is the union of token positions covered by
    * non-first occurrences.) Survivors re-emit in original order,
    * single-space joined. The sentence-granularity twin is
    * [[removeDuplicateSpans]]; this is the token-level rule the paper
    * itself ships.
    *
    * Scale shape — [[substringSpans]]' linear skeleton plus one join
    * back: positional shingle hashes build in-row (native expression,
    * no shuffle); the dup test + argmin (id, pos) ride ONE group-by
    * over 8-byte hashes with map-side combine; removed POSITIONS
    * explode only for actually-duplicated windows (k × duplicated
    * positions, not corpus size); reassembly is a per-doc array filter
    * against a collected drop-set. Docs shorter than k tokens pass
    * through whole (whitespace-normalized by the token join).
    *
    * Output: (idCol, cleaned_text, n_tokens, n_removed) — one row per
    * non-NULL-text input document. */
  def removeDuplicateSubstrings(docs: DataFrame, k: Int = 12,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.texthash.shingle_hashes_all
    require(k >= 1, s"window width must be >= 1: $k")
    // literal tokens split by the SAME whitespace rule the positional
    // shingle hasher applies (explicit class, empties skipped), so
    // token index i aligns with shingle start i
    val toks = filter(
      split(trim(col(textCol)), graft.ext.TextAnalysis.WhitespaceClass),
      t => length(t) > 0)
    val base = Materialize(
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), toks.as("toks"),
          shingle_hashes_all(col(textCol), k).as("shs")))
    val pos = base.select(col("id"), posexplode(col("shs")).as(Seq("i", "h")))
    val winners = pos.groupBy("h")
      .agg(count(lit(1)).as("occ"),
        min(struct(col("id"), col("i"))).as("first"))
      .filter(col("occ") >= 2)
      .select(col("h"), col("first.id").as("w_id"), col("first.i").as("w_i"))
    val dropPos = pos.join(winners, "h")
      .filter(!(col("id") === col("w_id") && col("i") === col("w_i")))
      .select(col("id"),
        explode(sequence(col("i"), col("i") + lit(k - 1))).as("p"))
      .distinct()
      .groupBy("id").agg(collect_set(col("p")).as("drop_pos"))
    val dp = coalesce(col("drop_pos"), array().cast("array<int>"))
    base.join(dropPos, Seq("id"), "left")
      .select(col("id").as(idCol),
        concat_ws(" ",
          filter(col("toks"), (t, idx) => !array_contains(dp, idx)))
          .as("cleaned_text"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(dp).cast("long").as("n_removed"))
  }

  /** Duplicate SENTENCE-span detection — C4's actual dedup unit
    * (Raffel et al. 2020 §2.2: "we discarded any three-sentence span
    * occurring more than once in the data set"): text splits into
    * terminated sentences (runs ending in `.`/`!`/`?` — unterminated
    * trailing text is not a sentence, the C4 convention), each
    * whitespace-normalized; every window of `n` consecutive sentences
    * hashes to md5 and spans duplicated CORPUS-WIDE are counted per
    * document. The token-window twin is [[substringSpans]]; this
    * granularity is what C4 itself ships.
    *
    * Scale shape: spans build INSIDE each row (transform over
    * sequence — no shuffle), the dup test is ONE linear group-by-hash
    * over 16-byte md5 keys (a million-document boilerplate span is one
    * group row, never pairs), per-doc stats are a second keyed
    * aggregation. Engine-portable end to end: the sentence regex,
    * normalization, join separator, and md5 all replay in DuckDB.
    * Documents with fewer than `n` sentences (including zero) carry no
    * span but STILL surface with `n_spans = 0, n_dup_spans = 0` and
    * their actual sentence count — a per-doc quality signal must not
    * vanish for exactly the short documents a filter pipeline still
    * routes. Only NULL-text docs are excluded.
    * Output: (idCol, n_sentences, n_spans, n_dup_spans). */
  def sentenceSpans(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    // one-shot IS the state face applied to one slice — the incremental
    // path (per-tile states unioned) is structurally the same plan
    sentenceSpansFromState(sentenceSpanState(docs, n, idCol, textCol), idCol)

  /** The PERSISTABLE sentence-span state: one (id, n_sentences, h) row
    * per span position — append-only over disjoint document slices
    * (each document's spans live wholly in its own slice), so per-tile
    * states UNION into exactly the full-corpus state and
    * [[sentenceSpansFromState]] reproduces the one-shot result without
    * re-splitting any historical document. A new tile can flip an OLD
    * document's span to duplicated (C4's dup test is corpus-wide), so
    * the result face recomputes from the folded hash counts — span
    * hashes are the state, never document text. A document with fewer
    * than `n` sentences carries ONE row with `h = NULL` (a presence
    * marker: the result face counts only non-NULL hashes, and NULL
    * never equi-joins), so short docs survive the state round-trip. */
  def sentenceSpanState(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"span width must be >= 1: $n")
    val raw = regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]+"), lit(0))
    val sents = filter(
      transform(raw, s => trim(regexp_replace(s, graft.ext.TextAnalysis.WhitespaceClass, " "))),
      s => length(s) > 0)
    val spanHashes = when(size(col("ss")) >= n,
        transform(sequence(lit(1), size(col("ss")) - lit(n - 1)),
          i => md5(array_join(slice(col("ss"), i, lit(n)), " "))))
      .otherwise(array(lit(null).cast("string")))
    barrier(
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), sents.as("ss")))
      .select(col("id"), size(col("ss")).cast("long").as("n_sentences"),
        explode(spanHashes).as("h"))
  }

  /** [[sentenceSpans]]' result off a folded span state (the union of
    * per-slice [[sentenceSpanState]] frames). `count(h)` skips the
    * NULL presence markers short documents carry, so they report
    * `n_spans = 0` rather than disappearing. */
  def sentenceSpansFromState(state: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val dupHashes = state.filter(col("h").isNotNull)
      .groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("h")
    val nDup = state.join(dupHashes, "h")
      .groupBy("id").agg(count(lit(1)).as("n_dup_spans"))
    state.groupBy("id").agg(max(col("n_sentences")).as("n_sentences"),
        count(col("h")).as("n_spans"))
      .join(nDup, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_sentences"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  /** As-of-arrival sentence-span report: ONE slice's span state
    * ([[sentenceSpanState]] of an arriving batch) checked against the
    * full folded state seen so far — prior slices PLUS the batch
    * itself, so within-batch repeats count. Per new document:
    * n_dup_spans = its spans whose hash occurs >= 2 anywhere in
    * `fullState`. This is the ingest-gate face of [[sentenceSpans]]:
    * a document's verdict is frozen at its arrival (later arrivals
    * can flip an OLD doc's span to duplicated, but the gate already
    * routed that doc — the batch-recompute face
    * [[sentenceSpansFromState]] is the one that revises history).
    *
    * Scale shape: the probe hash set is BATCH-sized and distinct, so
    * the full-state scan filters through a broadcast semi-join before
    * the occ aggregate — per-batch cost is O(state scan) with
    * batch-bounded shuffle, never corpus × corpus. */
  def sentenceSpansAgainstState(newState: DataFrame, fullState: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val probe = newState.filter(col("h").isNotNull).select("h").distinct()
    val dupHashes = fullState.join(broadcast(probe), "h")
      .groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("h")
    val nDup = newState.join(dupHashes, "h")
      .groupBy("id").agg(count(lit(1)).as("n_dup_spans"))
    newState.groupBy("id").agg(max(col("n_sentences")).as("n_sentences"),
        count(col("h")).as("n_spans"))
      .join(nDup, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_sentences"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  /** C4 duplicate-span REMOVAL — the actual cleaning operator behind
    * [[sentenceSpans]]' report (Raffel et al. 2020 §2.2: "we discarded
    * any three-sentence span occurring more than once in the data
    * set", keeping one copy): every sentence participating in a
    * corpus-duplicated `n`-sentence span is DROPPED, except that the
    * FIRST occurrence of each duplicated span — min (id, pos) over the
    * hash group, an engine-portable total order — keeps its sentences.
    * (A first-occurrence sentence can still fall if it also sits
    * inside a non-first occurrence of some other duplicated span:
    * removal is the union of sentence positions covered by non-first
    * occurrences.) Surviving sentences re-emit in original order,
    * single-space joined — the whitespace-normalized form the span
    * hash itself is built on.
    *
    * Scale shape — same linear skeleton as [[sentenceSpanState]], plus
    * one broadcast-sized join back: the dup test is a group-by over
    * 16-byte md5 keys with map-side combine (argmin of (id, pos) rides
    * the same aggregate); removed POSITIONS explode only for actually-
    * duplicated spans (bounded by n × duplicated-positions, not corpus
    * size); the final reassembly is a per-doc array filter against a
    * collected drop-set — no global sort, no pairs, no second pass
    * over text. Short docs (< n sentences) and fully-boilerplate docs
    * both survive with their (possibly empty) cleaned text.
    *
    * Output: (idCol, cleaned_text, n_sentences, n_removed) — one row
    * per non-NULL-text input document. */
  def removeDuplicateSpans(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"span width must be >= 1: $n")
    // fence both multi-consumer frames: base feeds the span build AND
    // the reassembly join; spans feed the winner aggregate AND the
    // drop-position join (md5 per window — 2x recompute is measurable)
    val base = Materialize(sentenceBase(docs, idCol, textCol))
    val spans = Materialize(posSpans(base, n))
    removalFromSpans(base, spans, spanWinners(spans), n, idCol)
  }

  /** (id, ss) — the barriered per-doc sentence arrays shared by the
    * span-removal family. */
  private def sentenceBase(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val raw = regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]+"), lit(0))
    val sents = filter(
      transform(raw, s => trim(regexp_replace(s, graft.ext.TextAnalysis.WhitespaceClass, " "))),
      s => length(s) > 0)
    barrier(
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), sents.as("ss")))
  }

  /** (id, pos, h) per n-sentence window — pos is the 1-based index of
    * the window's first sentence. */
  private def posSpans(base: DataFrame, n: Int): DataFrame =
    base.filter(size(col("ss")) >= n)
      .select(col("id"),
        explode(transform(sequence(lit(1), size(col("ss")) - lit(n - 1)),
          i => struct(i.as("pos"),
            md5(array_join(slice(col("ss"), i, lit(n)), " ")).as("h")))).as("sp"))
      .select(col("id"), col("sp.pos").as("pos"), col("sp.h").as("h"))

  /** The POSITIONAL span state the removal gate persists: one
    * (id, pos, h) row per n-sentence window — [[sentenceSpanState]]'s
    * shape plus the start position the keep-first rule needs.
    * Append-only over disjoint document slices, like every span
    * state. */
  def spanPosState(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"span width must be >= 1: $n")
    posSpans(sentenceBase(docs, idCol, textCol), n)
  }

  /** Duplicated hashes with their first occurrence — ONE aggregate
    * carries both the count and the argmin (id, pos). */
  private def spanWinners(spans: DataFrame): DataFrame =
    spans.groupBy("h")
      .agg(count(lit(1)).as("occ"),
        min(struct(col("id"), col("pos"))).as("first"))
      .filter(col("occ") >= 2)
      .select(col("h"), col("first.id").as("w_id"), col("first.pos").as("w_pos"))

  /** Drop every sentence position covered by a NON-first occurrence of
    * a duplicated span, reassemble survivors in order. */
  private def removalFromSpans(base: DataFrame, spans: DataFrame,
      winners: DataFrame, n: Int, idCol: String): DataFrame = {
    val dropPos = spans.join(winners, "h")
      .filter(!(col("id") === col("w_id") && col("pos") === col("w_pos")))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .distinct()
      .groupBy("id").agg(collect_set(col("p")).as("drop_pos"))
    val dp = coalesce(col("drop_pos"), array().cast("array<int>"))
    base.join(dropPos, Seq("id"), "left")
      .select(col("id").as(idCol),
        concat_ws(" ",
          filter(col("ss"), (s, i) => !array_contains(dp, i + lit(1))))
          .as("cleaned_text"),
        size(col("ss")).cast("long").as("n_sentences"),
        size(dp).cast("long").as("n_removed"))
  }

  /** Clean-on-arrival face of [[removeDuplicateSpans]]: rewrite ONE
    * arriving batch against the full folded positional state
    * (`fullPos` = prior slices' [[spanPosState]] rows PLUS the
    * batch's own). A batch sentence drops when its span's (id, pos)
    * is not the minimum over everything seen so far — and when
    * arrival order respects ascending (id, pos) (doc-id-tiled
    * ingest), first-seen IS the global minimum, so the drained union
    * over a finite replay equals the one-shot [[removeDuplicateSpans]]
    * output row-for-row. The winner aggregate runs over the folded
    * state RESTRICTED to the batch's hash probe (batch-sized,
    * broadcast), so per-batch cost is one filtered state scan, never
    * corpus × corpus. */
  def removeSpansAgainstState(batch: DataFrame, fullPos: DataFrame,
      n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"span width must be >= 1: $n")
    val base = Materialize(sentenceBase(batch, idCol, textCol))
    val batchPos = Materialize(posSpans(base, n))
    val probe = batchPos.select("h").distinct()
    val winners = spanWinners(fullPos.join(broadcast(probe), "h"))
    removalFromSpans(base, batchPos, winners, n, idCol)
  }

  /** Winnowing fingerprint pairs (MOSS): per doc, hash every k-token
    * gram, slide a window of `w` consecutive gram hashes, keep the
    * MINIMUM hash of each window, dedup — that's the doc's fingerprint
    * set; emit doc pairs sharing >= `minShared` fingerprints.
    *
    * Reference: Schleimer, Wilkerson, Aiken, "Winnowing: Local
    * Algorithms for Document Fingerprinting" (SIGMOD 2003). The
    * guarantee: any shared token run of length >= w + k - 1 shares at
    * least one selected fingerprint, while expected density is only
    * 2/(w+1) of grams — partial-overlap detection (quotes, stitched
    * documents) at a fraction of full-shingle cost, which is exactly
    * the regime simple whole-doc fingerprints (Dedup.exact) and
    * symmetric Jaccard miss.
    *
    * The gram hash is `md5(gram text)` — lexicographic hex order, so an
    * independent engine reproduces the identical selection (window-min
    * over an engine-private 64-bit hash would not be replayable).
    * Min-per-window keeps the VALUE only, so tie-breaking rules (robust
    * vs plain winnowing) cannot change the fingerprint set.
    *
    * Scale: docs shorter than w+k-1 tokens are excluded (no full
    * window). The pair join is an inverted-index self-join on
    * fingerprint; density 2/(w+1) keeps the index small, and at corpus
    * scale ubiquitous-boilerplate fingerprints should be frequency-
    * capped before the join (same hot-key argument as prefix
    * filtering in [[ngramJaccard]]). */
  def winnowPairs(docs: DataFrame, k: Int = 4, w: Int = 8, minShared: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    // drop empty tokens: split-on-trim leaves phantom "" entries when
    // text starts/ends with non-space whitespace (SQL TRIM is
    // space-only), and a phantom token would shift every gram
    val ts = filter(TextAnalysis.tokens(col(textCol)), t => length(t) > 0)
    // TOTAL expressions (empty array below the k/w floor, never a
    // descending `sequence`): the optimizer infers `size(fps) > 0`
    // under the explode and may evaluate it BEFORE the length filter
    // (conjunct order in a merged Filter is unspecified), so a
    // partial expression would crash on sub-k docs
    val grams = when(size(col("ts")) >= k,
      transform(
        sequence(lit(1), size(col("ts")) - lit(k - 1)),
        i => md5(concat_ws(" ", slice(col("ts"), i, lit(k))))))
      .otherwise(array().cast("array<string>"))
    val mins = when(size(col("hs")) >= w,
      transform(
        sequence(lit(1), size(col("hs")) - lit(w - 1)),
        j => array_min(slice(col("hs"), j, lit(w)))))
      .otherwise(array().cast("array<string>"))
    // The inner barrier materializes the gram hashes so the window-min
    // pass reads a bound column instead of re-deriving grams per lambda
    // element. The outer barrier ends the fenced RDD's lineage at an
    // exchange, so the self-join's two scans replay one set of shuffle
    // files and the winnow computes once. The fence itself is what keeps
    // the explode fast: without it, InferFiltersFromGenerate's
    // size(fps) > 0 is pushed down and substituted into the nested HOF
    // chain (430 s vs ~2 s at sf0.1 — see planFence).
    val fps = planFence(barrier(
      barrier(
        docs.filter(col(textCol).isNotNull)
          .select(col(idCol).as("id"), ts.as("ts"))
          .filter(size(col("ts")) >= k + w - 1)
          .select(col("id"), grams.as("hs")))
        .select(col("id"), array_distinct(mins).as("fps"))))
    val ix = fps.select(col("id"), explode(col("fps")).as("fp"))
    ix.as("a").join(ix.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Row-number variant of exact dedup that keeps full rows (first writer
    * wins by id) — the shape to use when the surviving row itself is the
    * output. Partitions by fingerprint, so the window never sees skew
    * beyond true duplicate groups. */
  def exactRows(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    docs.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  // --- incremental MinHash-LSH against persisted index state ------------

  /** Persistable LSH index state for a document batch: one row per doc
    * with its shingle-hash set and MinHash signature — everything the
    * incremental path needs to (a) bucket the doc into LSH bands and
    * (b) exactly verify a candidate pair, WITHOUT ever touching the
    * document text again. This is the operational shape at 100 TB: the
    * corpus index is built once, stored columnar, and each day's new
    * batch dedups against it by reading state (KB-scale per doc: the
    * shingle-hash longs), never re-scanning corpus text.
    *
    * Docs whose shingle set is empty (< n tokens) are excluded, same as
    * `minhash` — they cannot reach the threshold against anything. */
  def lshIndexState(docs: DataFrame, n: Int = 3, bands: Int = 32, rows: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = bands * rows
    val withSh = barrier(
      barrier(docs.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          graft.functions.texthash.shingle_hashes(col(textCol), n).as("shs"))
        .filter(size(col("shs")) > 0))
    withSh.select(col("id"), col("shs"), minhashSignature(col("shs"), k).as("sig"))
  }

  /** (id, band, bucket) rows derived from stored signatures — 32 small
    * rows per doc; the join key for candidate generation. */
  private def lshBuckets(state: DataFrame, bands: Int, rows: Int): DataFrame =
    state.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))))
      .toDF("id", "band", "bucket")

  /** Incremental MinHash-LSH dedup: near-dup pairs (exact-verified
    * Jaccard >= threshold) between a NEW batch and a PERSISTED index
    * (`lshIndexState` output read back from storage), plus pairs inside
    * the new batch itself — exactly the pairs a daily ingest must
    * resolve; old-old pairs were resolved when the index was built and
    * are never recomputed.
    *
    * Scale shape: candidate generation joins the new batch's ~32
    * bucket rows/doc against the stored index's bucket rows on
    * (band, bucket) — a hash join whose build side is the (small) daily
    * batch, broadcastable below the threshold; verification fetches
    * shingle sets for CANDIDATE ids only. Nothing is quadratic in the
    * corpus, and corpus text is never read. Ids are expected disjoint
    * between state and batch (an id colliding across the two would be a
    * re-ingest, not a near-dup; self-pairs are dropped). Pairs are
    * emitted with a_id < b_id regardless of which side is older,
    * matching `minhash`'s orientation. */
  def minhashIncremental(newDocs: DataFrame, state: DataFrame,
      threshold: Double = 0.8, n: Int = 3, bands: Int = 32, rows: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    minhashIncrementalFromState(
      barrier(lshIndexState(newDocs, n, bands, rows, idCol, textCol)),
      state, threshold, bands, rows)

  /** [[minhashIncremental]] taking the batch's `lshIndexState` rows
    * directly — for callers (the streaming dedup gate) that already
    * materialize the batch state for persistence, so shingling and
    * signatures are computed once per batch, not twice. */
  def minhashIncrementalFromState(newState: DataFrame, state: DataFrame,
      threshold: Double = 0.8, bands: Int = 32, rows: Int = 4): DataFrame = {
    val oldState = state.select(col("id"), col("shs"), col("sig"))
    val newBuckets = lshBuckets(newState, bands, rows)
    val oldBuckets = lshBuckets(oldState, bands, rows)
    // new-new pairs (a<b) plus new-old pairs (normalized to a<b):
    // disjointness of the id spaces makes the union duplicate-free
    // before the cross-band distinct.
    val candNewNew = newBuckets.as("x").join(newBuckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
    val candNewOld = newBuckets.as("x").join(oldBuckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(least(col("x.id"), col("y.id")).as("a_id"),
        greatest(col("x.id"), col("y.id")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    val cand = candNewNew.unionByName(candNewOld).distinct()
    val allSh = newState.select(col("id"), col("shs"))
      .unionByName(oldState.select(col("id"), col("shs")))
    val verified = cand
      .join(allSh.withColumnRenamed("id", "a_id").withColumnRenamed("shs", "a_shs"), "a_id")
      .join(allSh.withColumnRenamed("id", "b_id").withColumnRenamed("shs", "b_shs"), "b_id")
      .withColumn("c", size(array_intersect(col("a_shs"), col("b_shs"))).cast("long"))
      .withColumn("jaccard",
        col("c").cast("double") / (size(col("a_shs")) + size(col("b_shs")) - col("c")))
      .filter(col("jaccard") >= threshold)
    verified.select("a_id", "b_id", "jaccard")
  }

  /** Field-level survivorship rules for [[survivorship]]. The two
    * arg-picks carry a TOTAL order key — (value-null-last, key, id) —
    * so every pick is a pure function of the data: `FieldMaxBy` takes
    * the value from the cluster row with the largest (key, id)
    * (non-null values always beat null; key ties go to the HIGHEST
    * id), `FieldMinBy` the smallest (key, id) with key ties to the
    * LOWEST id. Plain-order keys should be non-null by contract (a
    * NULL key sorts per Spark struct semantics and an oracle replay
    * must mirror it explicitly). */
  sealed trait SurviveRule
  object SurviveRule {
    /** value from the row maximizing (key, id) — "longest"/"most recent" */
    final case class FieldMaxBy(keyCol: String) extends SurviveRule
    /** value from the row minimizing (key, id) — "first seen"/"earliest" */
    final case class FieldMinBy(keyCol: String) extends SurviveRule
    /** plain column maximum over the cluster */
    case object ColMax extends SurviveRule
    /** plain column minimum over the cluster */
    case object ColMin extends SurviveRule
    /** column sum over the cluster */
    case object ColSum extends SurviveRule
  }

  /** Entity-resolution survivorship — the GOLDEN-RECORD construction
    * that follows clustering: each output row is one cluster, each
    * output column is picked FIELD-WISE by its own deterministic
    * [[SurviveRule]] (the classic MDM merge: longest text from one
    * member, first-seen source from another, max length from a third).
    * Documents without a cluster row are their own singleton cluster,
    * mirroring [[canonicalPerCluster]].
    *
    * Scale shape: one broadcast-or-shuffle equi-join of records to the
    * (pair-bounded, usually tiny) cluster map, then ONE grouped
    * aggregation carrying every rule as a max_by/min_by/max/min/sum —
    * map-side partials keep per-cluster state at one candidate per
    * rule, no window and no per-cluster sort anywhere. Output is
    * cluster-count-shaped.
    *
    * Output: (cluster_id, <one column per rule, original names>,
    * n_docs). */
  def survivorship(records: DataFrame, clusters: DataFrame,
      rules: Seq[(String, SurviveRule)], idCol: String = "doc_id"): DataFrame = {
    require(rules.nonEmpty, "need at least one survivorship rule")
    import SurviveRule._
    val assigned = records
      .join(clusters.withColumnRenamed("doc_id", idCol)
          .withColumnRenamed("cluster_id", "__cid").select(col(idCol), col("__cid")),
        Seq(idCol), "left_outer")
      .withColumn("__cid", coalesce(col("__cid"), col(idCol)))
    val aggs = rules.map { case (c, rule) =>
      (rule match {
        case FieldMaxBy(k) => max_by(col(c),
          struct(col(c).isNotNull.as("nn"), col(k).as("k"), col(idCol).as("i")))
        case FieldMinBy(k) => min_by(col(c),
          struct(col(c).isNull.as("nl"), col(k).as("k"), col(idCol).as("i")))
        case ColMax => max(col(c))
        case ColMin => min(col(c))
        case ColSum => sum(col(c))
      }).as(c)
    } :+ count(lit(1)).as("n_docs")
    assigned.groupBy(col("__cid").as("cluster_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Keyed survivorship STATE for incremental golden-record
    * maintenance — one row per key. Field-pick rules persist the full
    * picked (value, order-key, id) triple so a later [[
    * mergeSurvivorshipState]] re-runs the same total-order contest
    * against new candidates; Col rules persist their scalar monoid.
    * Because every rule is associative over its persisted form, state
    * built per batch and folded equals the one-shot [[survivorship]]
    * over the union — the invariant the streaming sink rides. */
  def survivorshipState(records: DataFrame, keyCol: String,
      rules: Seq[(String, SurviveRule)], idCol: String = "doc_id"): DataFrame = {
    require(rules.nonEmpty, "need at least one survivorship rule")
    import SurviveRule._
    val aggs = rules.map { case (c, rule) =>
      (rule match {
        case FieldMaxBy(k) => max_by(
          struct(col(c).as("v"), col(k).as("k"), col(idCol).as("i")),
          struct(col(c).isNotNull.as("nn"), col(k).as("k"), col(idCol).as("i")))
        case FieldMinBy(k) => min_by(
          struct(col(c).as("v"), col(k).as("k"), col(idCol).as("i")),
          struct(col(c).isNull.as("nl"), col(k).as("k"), col(idCol).as("i")))
        case ColMax => max(col(c))
        case ColMin => min(col(c))
        case ColSum => sum(col(c))
      }).as(c)
    } :+ count(lit(1)).as("n_docs")
    records.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold two [[survivorshipState]] snapshots (same key + rules): each
    * field-pick re-contests on the persisted total order, scalars merge
    * by their monoid, n_docs adds. Associative and commutative, so any
    * batching of the corpus folds to the same state. */
  def mergeSurvivorshipState(a: DataFrame, b: DataFrame, keyCol: String,
      rules: Seq[(String, SurviveRule)]): DataFrame = {
    import SurviveRule._
    val aggs = rules.map { case (c, rule) =>
      (rule match {
        case FieldMaxBy(_) => max_by(col(c), struct(
          col(s"$c.v").isNotNull.as("nn"), col(s"$c.k").as("k"), col(s"$c.i").as("i")))
        case FieldMinBy(_) => min_by(col(c), struct(
          col(s"$c.v").isNull.as("nl"), col(s"$c.k").as("k"), col(s"$c.i").as("i")))
        case ColMax => max(col(c))
        case ColMin => min(col(c))
        case ColSum => sum(col(c))
      }).as(c)
    } :+ sum("n_docs").as("n_docs")
    a.unionByName(b).groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** The golden records a [[survivorshipState]] snapshot serves:
    * field-pick columns unwrap to their picked value, scalars pass
    * through — (key, <one column per rule>, n_docs). */
  def goldenFromState(state: DataFrame,
      rules: Seq[(String, SurviveRule)]): DataFrame = {
    import SurviveRule._
    val keyCol = state.columns.head
    state.select(col(keyCol) +: rules.map {
      case (c, FieldMaxBy(_) | FieldMinBy(_)) => col(s"$c.v").as(c)
      case (c, _) => col(c)
    } :+ col("n_docs"): _*)
  }

  /** Canonical-representative selection — the KEEP DECISION that turns
    * dedup clusters into a shipped corpus: every document joins its
    * transitive cluster (singletons are their own cluster), and each
    * cluster keeps exactly one representative — the highest-scoring
    * document, ties broken by LOWEST id, so the kept set is a pure
    * function of the data (arg_max alone would leave ties
    * partitioning-dependent). NULL scores sort below every real score
    * (the doc still counts toward its cluster, it just never wins a
    * contested pick).
    *
    * Output: one row per cluster — (cluster_id, keep_id, n_docs);
    * n_docs − 1 summed over rows is the corpus's dedup discard count.
    * Plan: one broadcast-or-shuffle equi-join of docs to the (usually
    * tiny, pair-bounded) cluster map, one grouped min_by aggregation
    * with map-side partials — no windows, no sorts. */
  def canonicalPerCluster(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id", scoreCol: String = "n_chars"): DataFrame = {
    val assigned = docs
      .select(col(idCol), col(scoreCol).cast("long").as("__score"))
      .join(clusters.withColumnRenamed("doc_id", idCol)
        .withColumnRenamed("cluster_id", "__cid"), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("__cid"), col(idCol)).as("cluster_id"), col("__score"))
    // min_by over (-score, id): highest score first, then lowest id —
    // numeric negation rides the score, so the id tie-break is exact
    assigned.groupBy("cluster_id")
      .agg(min_by(col(idCol),
          struct((lit(-1L) * coalesce(col("__score"), lit(Long.MinValue + 1)))
            .as("__negs"), col(idCol))).as("keep_id"),
        count(lit(1)).as("n_docs"))
  }

  /** Sorted-neighborhood entity-resolution blocking (Hernández &
    * Stolfo, SIGMOD'95): sort the corpus by a cheap blocking key,
    * compare each record only against its `window` successors in sort
    * order, verify candidates with exact edit distance. The classic
    * complement to hash/LSH blocking — catches near-matches whose
    * PREFIXES agree (typo'd titles, re-issued records) with exactly
    * n·window candidate pairs, never n².
    *
    * Scale shape: the global sort rank uses
    * [[graft.ops.Relational.globalRowNumber]] (range-partitioned,
    * control-plane offsets — no single-reducer window); each record
    * then emits `window` (rank+i) probes via a zero-shuffle Expand,
    * and candidates materialize through ONE equi-join on the rank —
    * shuffle keys are 8-byte longs, document prefixes ride only to
    * the verify. Verification is exact Levenshtein over `prefixLen`-
    * char prefixes, bounded cost per pair.
    *
    * Output: verified pairs — (a_id, b_id, dist), a before b in sort
    * order, dist ≤ maxDist. */
  def sortedNeighborhood(docs: DataFrame, idCol: String = "doc_id",
      strCol: String = "text", keyLen: Int = 24, window: Int = 3,
      maxDist: Int = 5, prefixLen: Int = 40): DataFrame = {
    require(window > 0 && keyLen > 0 && prefixLen > 0,
      s"window/keyLen/prefixLen must be positive")
    val normed = docs.filter(col(strCol).isNotNull)
      .select(col(idCol).as("id"),
        substring(trim(col(strCol)), 1, keyLen).as("key"),
        substring(trim(col(strCol)), 1, prefixLen).as("pre"))
    val ranked = graft.ops.Relational.globalRowNumber(normed, Seq("key", "id"))
    val left = ranked.select(col("id").as("a_id"), col("pre").as("a_pre"),
        explode(sequence(col("row_num") + 1L, col("row_num") + window.toLong))
          .as("probe"))
    val right = ranked.select(col("row_num").as("probe"),
      col("id").as("b_id"), col("pre").as("b_pre"))
    left.join(right, Seq("probe"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_pre"), col("b_pre")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** COMPLETE edit-distance similarity self-join (Li, Deng & Feng,
    * ICDE'11 "PassJoin"): every pair of normalized `keyLen`-char
    * prefixes within Levenshtein distance ≤ `maxDist`, with the exact
    * distance. The family's three exact-join shapes, by candidate
    * generator: [[Curation.fuzzyJoin]] blocks on RAREST q-grams (needs
    * a global document-frequency pass, wins when gram selectivity is
    * high and lengths vary), THIS op blocks on pigeonhole SEGMENTS (no
    * global statistics, one pass, wins on uniform-length normalized
    * keys), and [[sortedNeighborhood]] trades the completeness
    * guarantee for a fixed n·window candidate budget.
    *
    * Pigeonhole core: partition each indexed string into
    * `maxDist + 1` even segments — any string within distance τ must
    * preserve at least ONE segment verbatim (τ edits cannot touch all
    * τ+1 segments), and an optimal alignment shifts that preserved
    * segment's start by at most τ. So each probe emits, per candidate
    * target length `tl ∈ [|s|−τ, |s|]` and segment index, the
    * substrings of the segment's length at start positions within ±τ
    * of the segment's home (clamped valid) — O((τ+1)²·(2τ+1)) bounded
    * emissions per string, deduped IN-ROW (`array_distinct` before the
    * explode, zero extra shuffle).
    *
    * Scale shape: candidates come from ONE equi-join on
    * (target length, segment index, segment content) — never
    * all-pairs, no hot scan of long strings (only `keyLen`-char
    * prefixes ride the shuffle); verification is Spark's codegen'd
    * builtin `levenshtein` (char grain — right for the prefix-key
    * use), O(keyLen²) per CANDIDATE only. Length filtering is
    * intrinsic (probes only emit lengths within τ). Canonical output
    * order (|a| , a_id) < (|b|, b_id): shorter side first, id
    * tie-break — so the pair set is deterministic and
    * oracle-replayable by a brute-force small-SF join.
    *
    * Output: (a_id, b_id, dist), dist ≤ maxDist, exact. */
  def editDistanceJoin(docs: DataFrame, maxDist: Int = 3, keyLen: Int = 32,
      idCol: String = "doc_id", strCol: String = "text"): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    require(keyLen > maxDist, s"keyLen ($keyLen) must exceed maxDist ($maxDist)")
    val nSeg = maxDist + 1
    val keys = docs.filter(col(strCol).isNotNull)
      .select(col(idCol).as("id"),
        substring(trim(lower(col(strCol))), 1, keyLen).as("k"))
      .withColumn("l", length(col("k")))
    // indexed side: each string's own nSeg even segments
    // (seg i: start i*base + min(i, rem), length base + (i < rem))
    val segs = keys
      .select(col("id").as("a_id"), col("k").as("a_k"), col("l").as("a_l"),
        explode(sequence(lit(0), lit(maxDist))).as("i"))
      .withColumn("seg", expr(
        s"""substring(a_k,
           |  i * (a_l DIV $nSeg) + least(i, a_l % $nSeg) + 1,
           |  (a_l DIV $nSeg) + IF(i < a_l % $nSeg, 1, 0))""".stripMargin))
      .select(col("a_l").as("tl"), col("i"), col("seg"),
        col("a_id"), col("a_k"), col("a_l"))
    // probe side: per target length tl = l - dl (dl in 0..τ, tl >= 0),
    // per segment index, the ±τ window of same-length substrings,
    // deduped in-row before the explode
    val probes = keys
      .select(col("id").as("b_id"), col("k").as("b_k"), col("l").as("b_l"),
        explode(expr(
          s"""array_distinct(flatten(transform(
             |  filter(sequence(0, $maxDist), dl -> l - dl >= 0),
             |  dl -> flatten(transform(sequence(0, $maxDist), i ->
             |    array_distinct(transform(sequence(-$maxDist, $maxDist), w ->
             |      named_struct(
             |        'tl', l - dl,
             |        'i', i,
             |        'seg', substring(k,
             |          greatest(0, least(
             |            i * ((l - dl) DIV $nSeg) + least(i, (l - dl) % $nSeg) + w,
             |            l - (((l - dl) DIV $nSeg) + IF(i < (l - dl) % $nSeg, 1, 0)))) + 1,
             |          ((l - dl) DIV $nSeg) + IF(i < (l - dl) % $nSeg, 1, 0))))))))))""".stripMargin))
          .as("p"))
      .select(col("p.tl").as("tl"), col("p.i").as("i"), col("p.seg").as("seg"),
        col("b_id"), col("b_k"), col("b_l"))
    // verify with the shared banded threshold DP (texthash's Ukkonen
    // kernel — O(τ·keyLen) per candidate, exact below τ, early-exits
    // past it), not the full O(keyLen²) builtin; candidates are the
    // hot path at scale
    segs.join(probes, Seq("tl", "i", "seg"))
      .filter(col("a_l") < col("b_l") ||
        (col("a_l") === col("b_l") && col("a_id") < col("b_id")))
      .select(col("a_id"), col("b_id"), col("a_k"), col("b_k"))
      .distinct()
      .select(col("a_id"), col("b_id"),
        graft.functions.texthash.bounded_levenshtein(col("a_k"), col("b_k"),
          maxDist).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** SymSpell fuzzy vocabulary correction (Garbe 2012): map each input
    * token to its best vocabulary term within Levenshtein distance
    * ≤ `maxDist`, via the deletion-neighborhood equi-join — both sides
    * precompute every string reachable by ≤ τ character deletions,
    * hashed to 8-byte keys ([[graft.functions.texthash]]'s
    * `deletion_hashes`, the same blocking kernel
    * [[Curation.fuzzyJoin]]'s short block rides; two strings within
    * distance τ ALWAYS share such a variant, so the candidate set is
    * provably complete, and a hash collision only ever ADDS a
    * candidate for the verify to remove), candidates materialize
    * through ONE equi-join on the variant hash, and only candidates
    * pay a distance computation (the builtin codegen'd `levenshtein`
    * verify).
    *
    * Best-match pick is canonical and total: min over
    * (distance, −frequency, term) — closest first, then most frequent,
    * then lexicographic — so the same token always corrects to the
    * same term on any partitioning or engine. Tokens with NO term in
    * range survive with a NULL correction (left join), so the output
    * is a complete correction table for the input token set.
    *
    * Scale shape: variant generation is in-row and bounded
    * (O(C(L,τ)) per term — the reason SymSpell caps τ at 2 and this is
    * a TOKEN operator, not a document one); the join key is a short
    * string; no all-pairs, no scan of the corpus against the
    * vocabulary. The vocabulary side is typically the small one —
    * AQE broadcasts it when it fits.
    *
    * Output: (token, term, dist, freq) — one row per DISTINCT input
    * token; `term`/`dist`/`freq` NULL when nothing is in range. */
  def symspellCorrect(tokens: DataFrame, vocab: DataFrame, maxDist: Int = 2,
      tokCol: String = "token", termCol: String = "term",
      freqCol: String = "freq"): DataFrame = {
    require(maxDist >= 1 && maxDist <= 3,
      s"maxDist must be in 1..3 (deletion neighborhoods explode beyond): $maxDist")
    // shared 8-byte deletion-neighborhood HASHES (texthash's kernel —
    // the same blocking Curation.fuzzyJoin's short block uses): a hash
    // collision only ever ADDS a candidate, the exact verify removes it
    def variants(c: org.apache.spark.sql.Column) =
      graft.functions.texthash.deletion_hashes(c, maxDist)
    val toks = tokens.filter(col(tokCol).isNotNull)
      .select(col(tokCol).as("token")).distinct()
    val tokVar = toks.select(col("token"), explode(variants(col("token"))).as("v"))
    val vocVar = vocab.filter(col(termCol).isNotNull)
      .select(col(termCol).as("term"), col(freqCol).cast("long").as("freq"),
        explode(variants(col(termCol))).as("v"))
    val best = tokVar.join(vocVar, Seq("v"))
      .select("token", "term", "freq").distinct()
      .withColumn("dist", levenshtein(col("token"), col("term")))
      .filter(col("dist") <= maxDist)
      .groupBy("token")
      .agg(min_by(struct(col("term"), col("dist"), col("freq")),
        struct(col("dist"), (lit(-1L) * col("freq")).as("negf"),
          col("term"))).as("b"))
      .select(col("token"), col("b.term").as("term"),
        col("b.dist").cast("long").as("dist"), col("b.freq").as("freq"))
    toks.join(best, Seq("token"), "left_outer")
  }

  /** Phonetic (Soundex) entity-resolution blocking — the third member
    * of the blocking family: [[sortedNeighborhood]] catches agreeing
    * PREFIXES, [[editDistanceJoin]] is pigeonhole-exact within τ, and
    * this catches what both miss — names that SOUND alike but diverge
    * early in spelling ("philips"/"filips": edit distance 2 at
    * position 1, identical soundex F412). Block key = Spark's builtin
    * codegen'd `soundex` (the Russell/Odell code: first letter + 3
    * consonant-class digits, adjacent same-class collapsed, h/w
    * transparent to the collapse, vowels reset it); candidate pairs
    * materialize through ONE equi-join on the 4-char code and verify
    * with the builtin `levenshtein` so the tie is graded, not binary.
    *
    * Scale shape: the block key is 4 chars (bounded shuffle width);
    * within-block pairing is quadratic PER BLOCK — the standard
    * phonetic-blocking contract (soundex keys have ~7k possible
    * values; pair volume is Σ n_b², which the caller bounds by
    * blocking on name WORDS or (code, extra-key) composites, exactly
    * as with any blocking scheme). `maxDist` optionally prunes
    * verified pairs.
    *
    * Output: (a_id, b_id, sx, dist) — same-block pairs, a_id < b_id. */
  def phoneticBlocking(recs: DataFrame, idCol: String = "doc_id",
      strCol: String = "text", maxDist: Int = Int.MaxValue): DataFrame = {
    val keyed = recs
      .filter(col(strCol).isNotNull && length(trim(col(strCol))) > 0)
      .select(col(idCol).as("id"), trim(col(strCol)).as("s"))
      .withColumn("sx", soundex(col("s")))
    keyed.select(col("id").as("a_id"), col("s").as("a_s"), col("sx"))
      .join(keyed.select(col("id").as("b_id"), col("s").as("b_s"), col("sx")),
        Seq("sx"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("sx"),
        levenshtein(col("a_s"), col("b_s")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Fellegi–Sunter record-linkage scoring (Fellegi & Sunter 1969,
    * JASA): per candidate pair, sum the per-field log-likelihood-ratio
    * weights — the agreement weight log(m/u) when the field comparison
    * holds, the disagreement weight log((1−m)/(1−u)) when it doesn't —
    * and classify against the (upper, lower) thresholds into
    * match / possible / non_match. Weights are MICRO-scaled integers
    * (callers precompute log odds ×1e6), so the whole decision is exact
    * 64-bit arithmetic: no float epsilon at either threshold at any
    * scale, and the same pair always lands in the same class on any
    * partitioning or engine.
    *
    * `fields` maps a BOOLEAN agreement column (built by the caller from
    * whatever comparators fit — equality, banded numerics, Jaro
    * thresholds) to its (agreeMicro, disagreeMicro) weight pair. A NULL
    * agreement (either side missing) contributes ZERO — the standard
    * "comparison not possible" convention, between agree and disagree.
    *
    * This is the scoring half of ER; candidate generation is the
    * blocking half ([[sortedNeighborhood]], or any blocked equi-join) —
    * composed, the pipeline is candidate pairs → exact integer scores →
    * classes, one codegen'd projection over the pair stream, no shuffle
    * beyond what blocking already did. */
  def fellegiSunter(pairs: DataFrame,
      fields: Seq[(String, Long, Long)],
      upperMicro: Long, lowerMicro: Long): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter needs at least one field")
    require(upperMicro >= lowerMicro,
      s"upper threshold ($upperMicro) must be >= lower ($lowerMicro)")
    fields.foreach { case (_, agree, disagree) =>
      require(agree > disagree,
        s"agreement weight must exceed disagreement weight: $agree <= $disagree") }
    val score = fields.map { case (c, agree, disagree) =>
      when(col(c).isNull, lit(0L))
        .when(col(c), lit(agree)).otherwise(lit(disagree))
    }.reduce(_ + _)
    pairs.withColumn("score_micro", score)
      .withColumn("fs_class",
        when(col("score_micro") >= upperMicro, lit("match"))
          .when(col("score_micro") >= lowerMicro, lit("possible"))
          .otherwise(lit("non_match")))
  }
}
