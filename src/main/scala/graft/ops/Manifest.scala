package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file statistics manifest — the table-format primitive (Iceberg/
  * Delta manifests, ClickHouse minmax indexes) that lets a planner prune
  * files WITHOUT opening their footers: one small table of
  * (file, row_count, per-column min/max), built distributedly.
  *
  * Plan shape: a single scan of the data with `input_file_name()`
  * attached, one groupBy(file) with map-side combine — at 100 TB the
  * manifest is (#files) rows, never driver-materialized, and building it
  * costs one pass (typically piggybacked right after a layout write like
  * ZOrder.zOrderWrite). `prunedFiles` then evaluates a min/max interval
  * predicate against the manifest ONLY — query planning cost proportional
  * to file count, not data size.
  */
object Manifest {

  /** Build a (file, n_rows, min_<c>, max_<c>...) manifest for `cols` of
    * the parquet table at `dir`. */
  def statsManifest(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "statsManifest needs at least one column")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(dir)
      .select(input_file_name().as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Files whose [min, max] interval for `c` intersects [lo, hi] — the
    * candidate set a skipping scan would read. Interval logic only; a
    * file with NULL stats (all-null column) is conservatively kept. */
  def prunedFiles(manifest: DataFrame, c: String, lo: Column, hi: Column): DataFrame =
    manifest.filter(
      col(s"max_$c").isNull || col(s"min_$c").isNull ||
        (col(s"max_$c") >= lo && col(s"min_$c") <= hi))
      .select(col("file"))

  /** Per-file BLOOM index over `keyCol` — the point-lookup complement to
    * min/max stats (min/max prunes ranges; a needle-in-haystack equality
    * on a high-cardinality unclustered key prunes nothing by interval,
    * but a per-file Bloom filter skips every file whose filter misses).
    * This is the Iceberg/Delta bloom-filter-index shape, built as ONE
    * aggregation: each row explodes to its k bit positions, bit_or folds
    * them into 64-bit words per (file, word), and a map lookup densifies
    * the word array — (#files) rows of mBits/64 longs each, never
    * driver-materialized.
    *
    * Sizing: mBits is per FILE; with r distinct keys per file the false
    * positive rate is (1 - e^(-k·r/m))^k — the default 4096/4 gives
    * ~1e-4 at r≈100 and degrades gracefully. Hashes are codegen'd
    * xxhash64(key, seed); [[bloomPrunedFiles]] must probe with the SAME
    * key data type (xxhash64 is type-sensitive). */
  def bloomManifest(spark: SparkSession, dir: String, keyCol: String,
      mBits: Int = 4096, k: Int = 4): DataFrame = {
    require(mBits % 64 == 0 && mBits > 0, s"mBits must be a positive multiple of 64, got $mBits")
    require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
    val posCols = (0 until k).map(i =>
      pmod(xxhash64(col(keyCol), lit(i.toLong)), lit(mBits.toLong)))
    spark.read.parquet(dir)
      .select(input_file_name().as("file"), explode(array(posCols: _*)).as("pos"))
      .select(col("file"), (col("pos") / 64).cast("int").as("word"),
        call_function("shiftleft", lit(1L), pmod(col("pos"), lit(64)).cast("int")).as("mask"))
      .groupBy(col("file"), col("word"))
      .agg(call_function("bit_or", col("mask")).as("bits"))
      .groupBy(col("file"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits")))).as("wm"))
      .select(col("file"),
        transform(sequence(lit(0), lit(mBits / 64 - 1)),
          i => coalesce(element_at(col("wm"), i.cast("int")), lit(0L))).as("bloom"))
  }

  /** Files that may contain `value` for the bloom-indexed key: the
    * k-way word/mask test runs plan-side over the manifest (codegen'd
    * xxhash64 + array lookups — no driver hashing, no UDF). No false
    * negatives; false positives bounded by the manifest's sizing.
    * `value` must carry the same data type the index was built on. */
  def bloomPrunedFiles(manifest: DataFrame, value: Column,
      mBits: Int = 4096, k: Int = 4): DataFrame = {
    val tests = (0 until k).map { i =>
      val pos = pmod(xxhash64(value, lit(i.toLong)), lit(mBits.toLong))
      element_at(col("bloom"), (pos / 64).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), pmod(pos, lit(64)).cast("int"))) =!= lit(0L)
    }
    manifest.filter(tests.reduce(_ && _)).select(col("file"))
  }

  /** File sizes of a parquet table, from the scan's own block metadata
    * (no filesystem listing code): distinct (file, block) lengths summed
    * per file. One metadata-cheap pass. */
  def fileSizes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .select(input_file_name().as("file"),
        expr("input_file_block_start()").as("block_start"),
        expr("input_file_block_length()").as("block_len"))
      .groupBy(col("file"), col("block_start"))
      .agg(first(col("block_len")).as("len"))
      .groupBy(col("file"))
      .agg(sum(col("len")).as("bytes"))

  /** Small-file compaction plan: sequential-fill bin packing (the Delta
    * OPTIMIZE shape). Files under `targetBytes` are ordered by path,
    * prefix-summed, and grouped by which target-sized bin their START
    * offset falls in — deterministic, one window over MANIFEST-sized
    * data (#files rows, never the data itself). Files already at or
    * above target get group_id NULL: leave them alone. A group may
    * slightly exceed target when a file spans a bin boundary — standard
    * for size-tiered compaction, bounded by one file's size. */
  def compactionPlan(sizes: DataFrame, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    import org.apache.spark.sql.expressions.Window
    val small = sizes.filter(col("bytes") < targetBytes)
    val w = Window.orderBy(col("file"))
    val packed = small
      .withColumn("start", sum(col("bytes")).over(w) - col("bytes"))
      .withColumn("group_id", call_function("div", col("start"), lit(targetBytes)))
      .drop("start")
    val passthrough = sizes.filter(col("bytes") >= targetBytes)
      .withColumn("group_id", lit(null).cast("long"))
    packed.unionByName(passthrough)
  }

  /** Execute a [[compactionPlan]]: rewrite each merge group's files into
    * ONE output file under `outDir`, copy right-sized files through
    * untouched (hard-link-equivalent: a read+write of already-good
    * files is wasted IO at scale, so they are left as-is and listed in
    * the returned frame with `rewritten = false`).
    *
    * Each group rewrite is one job reading only that group's files
    * (`parquet(paths*)` with coalesce(1)) — groups are independent, so
    * a scheduler can run them concurrently; failure of one group leaves
    * every other group's output intact (idempotent per group: the
    * output path is the group id). Returns (group_id, n_files, bytes,
    * rewritten) for audit. */
  def compact(spark: SparkSession, plan: DataFrame, outDir: String): DataFrame = {
    import spark.implicits._
    // ONE collect of the manifest-sized plan, split driver-side — the
    // previous two filtered collects re-executed the plan's upstream
    // (staged-file scan + manifest aggregation + packing window) once
    // per consumer
    val rows = plan
      .select(col("group_id"), col("file"), col("bytes"))
      .as[(Option[Long], String, Long)].collect()
    val groups = rows.collect { case (Some(gid), file, bytes) => (gid, file, bytes) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    // no local mkdirs: the parquet writer creates group dirs through the
    // Hadoop FS for whatever scheme outDir carries (file:, hdfs:, s3a:)
    // group rewrites are independent (distinct output dirs, disjoint
    // input file sets) — run them as CONCURRENT jobs (guide §2.6) that
    // fail fast; the returned audit rows keep the sorted group order
    // regardless of finish order
    val rewritten = graft.streaming.StreamingOps.concurrently(groups.map { case (gid, files) =>
      () => {
        val paths = files.map(_._2)
        spark.read.parquet(paths: _*).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/group_$gid")
        (gid, paths.length.toLong, files.map(_._3).sum, true)
      }
    }: _*)
    val passthrough = rows.collect { case (None, _, bytes) => (-1L, 1L, bytes, false) }
    (rewritten ++ passthrough)
      .toDF("group_id", "n_files", "bytes", "rewritten")
  }
}
