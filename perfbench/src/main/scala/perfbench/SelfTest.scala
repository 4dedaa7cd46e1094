package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.{RuleCompiler, RuleJson, SmartLoad}

/** The harness's own tests: `perfbench.SelfTest` (via `run.py --selftest`).
  *
  *  - the generator gives byte-identical inputs for one seed, different
  *    inputs for another, and inputs with the properties the checks need;
  *  - every column a job must produce is present in the physical plans of
  *    the actions that materialise its output (a job ending in count()
  *    would let Catalyst prune the rule columns away);
  *  - each workload's check passes the engine's real output and fails the
  *    same output with one value corrupted.
  * Exit code 1 when any test fails. */
object SelfTest {

  /** Every attribute name in a physical plan, looking through adaptive
    * plans and query stages. */
  def planColumns(p: SparkPlan): Set[String] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p.output.map(_.name).toSet ++ (p.children ++ inner).flatMap(planColumns)
  }

  private def files(d: Path): Map[String, Seq[Byte]] =
    Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => d.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap

  def main(args: Array[String]): Unit = {
    val root = Paths.get(".perfbench").toAbsolutePath.resolve(s"selftest-${ProcessHandle.current().pid()}")
    Files.createDirectories(root)
    var failures = 0
    def test(name: String)(body: => Option[String]): Unit = {
      val r = try body catch { case NonFatal(e) => Some(s"exception: $e") }
      println(s"${if (r.isEmpty) "PASS" else "FAIL"} $name${r.fold("")(" — " + _)}")
      if (r.nonEmpty) failures += 1
    }
    val spark = Main.session(root)
    try {
      val plans = mutable.ArrayBuffer.empty[SparkPlan]
      spark.listenerManager.register(new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          plans.synchronized(plans += qe.executedPlan)
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      })
      def drainedColumns(): Set[String] = {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        plans.synchronized(plans.flatMap(planColumns).toSet)
      }
      def ctx(seed: Long, sub: String) = Ctx(spark, new Tracer, root.resolve(sub), seed)

      // ---- generator
      val gens = Seq(EtlBatch -> 0L, LlmCuration -> 0L)
      def generate(seed: Long, sub: String): Map[String, Seq[Byte]] = {
        val c = ctx(seed, sub)
        gens.foreach { case (w, u) => w.unit(c, u) }
        files(c.dir)
      }
      val a = generate(7, "gen-a")
      val b = generate(7, "gen-b")
      val other = generate(8, "gen-c")
      test("same seed gives byte-identical inputs") {
        if (a.isEmpty) Some("nothing generated")
        else if (a.keySet != b.keySet) Some(s"file sets differ: ${(a.keySet diff b.keySet) ++ (b.keySet diff a.keySet)}")
        else a.keys.find(k => a(k) != b(k)).map(k => s"$k differs")
      }
      test("another seed gives different inputs") {
        val data = a.keys.filter(k => Seq("extract", "documents", "embeddings").exists(k.contains))
        if (data.size < 6) Some(s"only ${data.size} data files")
        else data.find(k => other.get(k).contains(a(k))).map(k => s"$k is identical under seed 8")
      }
      test("inputs carry duplicate mapping keys, nulls in conditional columns, planted pairs") {
        val keys = Files.readAllLines(root.resolve("gen-a/batch_0_csv/customer_mapping.csv")).asScala.drop(1)
          .map(_.takeWhile(_ != ','))
        val recs = Gen.records(Gen.rng(7, "selftest", 0), 5000, 0)
        val c = Gen.corpus(7, 0, Gen.vocabulary(7), LlmCuration.Docs, LlmCuration.Vecs, LlmCuration.Queries)
        val pairs = Expect.nearDupPairs(c.docs, LlmCuration.Threshold)
        if (keys.distinct.size == keys.size) Some("no duplicate mapping keys")
        else if (!recs.exists(_.amount.isEmpty) || !recs.exists(_.status.isEmpty)) Some("no nulls")
        else if (c.planted.isEmpty) Some("no planted pairs")
        else if (!c.planted.forall(pairs.contains)) Some("a planted pair is below the Jaccard threshold")
        else None
      }

      // ---- plans and checks, one job per workload on warm-up-sized inputs
      Workloads.all.foreach { w =>
        val c = ctx(11, s"run-${w.name}")
        val job = w.unit(c, -1L).last
        plans.synchronized(plans.clear())
        val out = job.produce(c, 0)
        val cols = drainedColumns()
        test(s"${w.name}: executed plans carry every output column") {
          val missing = job.requiredColumns.filterNot(cols)
          if (missing.isEmpty) None else Some(s"absent: ${missing.mkString(", ")}")
        }
        test(s"${w.name}: the check passes the engine's output")(job.verify(out))
        test(s"${w.name}: the check fails a corrupted output") {
          if (job.verify(job.corrupt(out)).isDefined) None else Some("corruption not detected")
        }
      }
      test("the plan check catches a count() that prunes the rule columns") {
        val d = root.resolve("gen-a/batch_0_csv")
        val maps = Seq("customer_mapping", "region_mapping")
          .map(m => m -> SmartLoad.load(spark, d.resolve(s"$m.csv").toString)).toMap
        val out = RuleCompiler.run(SmartLoad.load(spark, d.resolve("extract.csv").toString),
          RuleJson.parse(Gen.specJson(Gen.batchSpec))._1, maps).output
        plans.synchronized(plans.clear())
        out.count()
        val missing = Gen.batchSpec.map(_.name).filterNot(drainedColumns())
        if (missing.nonEmpty) None else Some("count() plan still shows every rule column")
      }
    } finally {
      Main.stop(spark)
      Gen.deleteTree(root.toFile)
    }
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
