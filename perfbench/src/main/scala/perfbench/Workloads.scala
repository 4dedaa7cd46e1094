package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.{RuleCompiler, RuleJson, Sinks, SmartLoad}
import graft.ext.{Dedup, Similarity, TextAnalysis}

import Gen._

/** What a run hands to a workload. */
final case class Ctx(spark: SparkSession, tracer: Tracer, dir: Path, seed: Long)

/** One timed job's result. `records` are the records it completed:
  * extract rows (batch) or documents (curation); `outputRows` the rows it
  * materialised. */
final case class Outcome(error: Option[String], records: Long, outputRows: Long,
    layer: Map[String, Double] = Map.empty)

/** A job: inputs already generated, expected outputs already computed in
  * plain Scala. `run` is the timed part: the engine calls, then the check
  * of everything they produced. */
trait Job {
  type Output
  /** The engine calls; every output is fully materialised. */
  def produce(ctx: Ctx, id: Long): Output
  /** None when the output matches the plain-Scala expectation. */
  def verify(out: Output): Option[String]
  def outcome(out: Output, error: Option[String]): Outcome
  /** The same output with one value wrong, for the harness self-test. */
  def corrupt(out: Output): Output
  /** Columns the materialising actions' plans must carry. */
  def requiredColumns: Seq[String]
  /** Per-layer figures computed after the timer stops (traced runs only). */
  def untimedLayer(ctx: Ctx): Map[String, Double] = Map.empty

  final def run(ctx: Ctx, id: Long): Outcome = {
    val out = produce(ctx, id)
    outcome(out, ctx.tracer.span("bench.check", id)(verify(out)))
  }
}

/** A workload hands out units of jobs; the timed loop runs whole units
  * only, so every run sees the same mix of job shapes. */
trait Workload {
  def name: String
  /** Generate the inputs of unit `u` (untimed). Negative units are warm-up. */
  def unit(ctx: Ctx, u: Long): Seq[Job]
}

object Workloads {
  val all: Seq[Workload] = Seq(EtlBatch, LlmCuration)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def load(ctx: Ctx, id: Long, p: Path): DataFrame =
    ctx.tracer.span("etl.SmartLoad.load", id)(SmartLoad.load(ctx.spark, p.toString))

  def stem(p: Path): String = p.getFileName.toString.takeWhile(_ != '.')

  /** Parse a spec and compile it over `main`; returns the output frame
    * and every parse or rule error (the generated specs have none). */
  def compile(ctx: Ctx, id: Long, json: String, main: DataFrame,
      maps: Map[String, DataFrame]): (DataFrame, Seq[String]) = {
    val (rules, parseErrors) = ctx.tracer.span("etl.RuleJson.parse", id)(RuleJson.parse(json))
    val res = ctx.tracer.span("etl.RuleCompiler.run", id)(RuleCompiler.run(main, rules, maps))
    (res.output, parseErrors ++ res.errors.map(e => s"${e.rule.name}: ${e.message}"))
  }

  def ruleErrors(errors: Seq[String]): Option[String] =
    if (errors.isEmpty) None else Some(s"rule errors: ${errors.mkString("; ")}")

  val RuleErrors = "etl.RuleCompiler.rule_errors"
}

import Workloads._

/** Fresh extracts in every format the reference loads, each with its own
  * mapping files, run through the fixed 12-rule spec along the reference's
  * user path: load, apply the rules, show the first 100 rows, write one
  * CSV. A unit is one job per format, so every run sees the same format
  * mix. */
object EtlBatch extends Workload {
  val name = "etl_batch"
  val RowsPerFile = 60000
  val WarmRows = 1000
  val PreviewRows = 100
  val Formats: Seq[String] = Seq("csv", "txt", "json", "parquet")

  def unit(ctx: Ctx, u: Long): Seq[Job] = Formats.map(job(ctx, u, _))

  /** The job of unit `u` on a fresh extract in format `fmt`. */
  def job(ctx: Ctx, u: Long, fmt: String): Job = {
    val r = rng(ctx.seed, s"$name-$fmt", u)
    val d = ctx.dir.resolve(s"batch_${u}_$fmt")
    val tag = s"u${u}_${Formats.indexOf(fmt)}"
    val maps = Seq(customerMapping(r, tag), regionMapping(tag))
    val mapFiles = maps.map { m =>
      val p = d.resolve(s"${m.key.name}.csv"); writeMappingCsv(p, m); p
    }
    // warm-up extracts are small: the warm-up is about code paths
    val rows = if (u < 0) WarmRows else RowsPerFile
    val recs = records(r, rows, 0)
    val p = d.resolve(s"extract.$fmt")
    fmt match {
      case "csv" => writeDelimited(p, recs, ",")
      case "txt" => writeDelimited(p, recs, "|")
      case "json" => writeJson(p, recs)
      case "parquet" => writeParquet(ctx.spark, p, MainSchema, recs.map(recRow))
    }
    val byName = maps.map(m => m.key.name -> m).toMap
    new BatchJob(d, mapFiles, p, rows, recs.take(PreviewRows).map(Expect.row(batchSpec, _, byName)),
      Expect.sinkDigest(batchSpec, recs, byName))
  }

  final case class BatchOut(errors: Seq[String], preview: Seq[Seq[String]], sink: Path)

  final class BatchJob(d: Path, mapFiles: Seq[Path], extract: Path, rows: Int,
      expectedPreview: Seq[Seq[String]], expected: Expect.Digest) extends Job {
    type Output = BatchOut
    private val json = specJson(batchSpec)

    def produce(ctx: Ctx, id: Long): BatchOut = {
      val maps = mapFiles.map(p => stem(p) -> load(ctx, id, p)).toMap
      val (out, errors) = compile(ctx, id, json, load(ctx, id, extract), maps)
      val sink = d.resolve("out.csv")
      if (errors.nonEmpty) BatchOut(errors, Nil, sink)
      else {
        val preview = ctx.tracer.span("spark.preview", id)(out.limit(PreviewRows).collect())
          .toSeq.map(row => row.toSeq.map(v => Gen.render(v)))
        ctx.tracer.span("etl.Sinks.write", id)(Sinks.csvSingleFile(out, sink.toString))
        BatchOut(errors, preview, sink)
      }
    }

    def verify(out: BatchOut): Option[String] =
      ruleErrors(out.errors)
        .orElse(Expect.checkPreview(expectedPreview, out.preview))
        .orElse(Expect.checkSink(expected, out.sink))

    def outcome(out: BatchOut, error: Option[String]): Outcome =
      Outcome(error, rows, expected.lines,
        Map(RuleErrors -> out.errors.size.toDouble))

    /** The first cell of the last data line rewritten. */
    def corrupt(out: BatchOut): BatchOut = {
      val lines = Files.readAllLines(out.sink)
      lines.set(lines.size - 1, lines.get(lines.size - 1).replaceFirst("^[^,]*", "999999999"))
      Files.write(out.sink, lines)
      out
    }

    def requiredColumns: Seq[String] = batchSpec.map(_.name)
  }
}

/** Batches of a seeded corpus through quality filters, near-duplicate
  * detection, clustering and vector search. */
object LlmCuration extends Workload {
  val name = "llm_curation"
  val Docs = 200
  val Vecs = 500
  val Queries = 10
  /** The warm-up batch: every operator once, on a small corpus. */
  val WarmDocs = 100
  val WarmVecs = 250
  val WarmQueries = 5
  val K = 10
  val Threshold = 0.8

  def unit(ctx: Ctx, u: Long): Seq[Job] = {
    val c = if (u < 0) corpus(ctx.seed, u, vocabulary(ctx.seed), WarmDocs, WarmVecs, WarmQueries)
      else corpus(ctx.seed, u, vocabulary(ctx.seed), Docs, Vecs, Queries)
    val d = ctx.dir.resolve(s"curation_$u")
    val docs = d.resolve("documents.parquet")
    val vecs = d.resolve("embeddings.parquet")
    writeParquet(ctx.spark, docs, DocSchema, c.docs.map(docRow))
    writeParquet(ctx.spark, vecs, VecSchema, c.vecs.map(vecRow))
    val pairs = Expect.nearDupPairs(c.docs, Threshold)
    Seq(new CurationJob(c, docs, vecs, pairs, Expect.components(pairs.keys),
      Expect.exactTopK(c.vecs, c.queryIds, K)))
  }

  final case class CurationOut(quality: Seq[(Long, Long, Boolean)], pairs: Seq[(Long, Long, Double)],
      clusters: Seq[(Long, Long)], topk: Seq[(Long, Long, Int)])

  private final class CurationJob(c: Corpus, docsFile: Path, vecsFile: Path,
      pairs: Map[(Long, Long), Double], clusters: Map[Long, Long],
      exact: Map[Long, Seq[Long]]) extends Job {
    type Output = CurationOut
    private var vecs: DataFrame = _
    private var queries: DataFrame = _
    private var found: Map[Long, Seq[Long]] = Map.empty

    def produce(ctx: Ctx, id: Long): CurationOut = {
      val t = ctx.tracer
      val docs = load(ctx, id, docsFile)
      vecs = load(ctx, id, vecsFile)
      queries = vecs.where(col("vec_id").isin(c.queryIds: _*))
      val (quality, qRows) = t.span("ext.TextAnalysis.quality", id) {
        val q = TextAnalysis.qualityFilters(docs, "text")
        (q, q.select("doc_id", "n_words", "keep").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq)
      }
      val (pairDf, pRows) = t.span("ext.Dedup.minhash", id) {
        val p = Dedup.minhash(quality.filter(col("keep")).select("doc_id", "text"), Threshold)
        (p, p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
      }
      val cRows = t.span("ext.Dedup.components", id) {
        Dedup.components(pairDf).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      val kRows = t.span("ext.Similarity.topk", id) {
        Similarity.ivfTopK(vecs, queries, K).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      }
      found = lists(kRows)
      CurationOut(qRows, pRows, cRows, kRows)
    }

    private def lists(rows: Seq[(Long, Long, Int)]): Map[Long, Seq[Long]] =
      rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2) }

    def verify(out: CurationOut): Option[String] =
      Expect.checkQuality(c.docs, out.quality)
        .orElse(Expect.checkPairs(pairs, out.pairs))
        .orElse(Expect.checkComponents(clusters, out.clusters))
        .orElse(Expect.checkTopK(c.vecs, exact, K, out.topk))

    def outcome(out: CurationOut, error: Option[String]): Outcome = {
      val foundPairs = out.pairs.map(r => (r._1, r._2)).toSet
      val planted = c.planted.count(foundPairs).toDouble / math.max(1, c.planted.size)
      Outcome(error, c.docs.size.toLong,
        (out.quality.size + out.pairs.size + out.clusters.size + out.topk.size).toLong,
        Map("ext.Dedup.planted_recall" -> planted))
    }

    /** One planted pair lost. */
    def corrupt(out: CurationOut): CurationOut = out.copy(pairs = out.pairs.drop(1))

    def requiredColumns: Seq[String] = Seq("doc_id", "n_words", "keep", "a_id", "b_id", "jaccard",
      "cluster_id", "query_id", "neighbor_id", "rank")

    /** Recall against the engine's own exact search, outside the timer. */
    override def untimedLayer(ctx: Ctx): Map[String, Double] = {
      val truth = Similarity.bruteForceTopK(vecs, queries, K).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      Map("ext.Similarity.recall_at_k" -> Expect.recall(lists(truth), found))
    }
  }
}
