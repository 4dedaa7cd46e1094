package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver: one client, one process, local[N].
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *
  * A run first warms the JVM up (class loading, JIT, codegen) once with
  * the workload's warm-up jobs. Set-up is then measured [[Main.Setups]]
  * times and reported as a median: stop the session, start a new one and
  * run one small first job on it (the [[EtlBatch]] job on a 1,000-row CSV
  * extract, the same for every workload). Input generation is excluded
  * from every timing. The timed loop then runs whole units of jobs on the
  * last session until `--seconds` of job time has passed. With
  * `--trace 0` the last stdout line carries the end-to-end metrics; with
  * `--trace 1` every unit also runs traced, and the last line carries the
  * per-layer metrics and the tracing overhead. Exit code 1 when any output
  * check failed. */
object Main {
  val Setups = 3
  /** Wall-clock budget after which no further unit starts. */
  val WallBudgetS = 140.0

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workloads.byName(need("workload")).getOrElse(
      sys.error(s"unknown workload ${need("workload")}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1")
  }

  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Stopwatch that can leave untimed work (input generation) out. */
  final class Clock {
    private var total = 0L
    private var from = -1L
    def start(): Unit = from = System.nanoTime()
    def pause(): Unit = { total += System.nanoTime() - from; from = -1L }
    def seconds: Double = total / 1e9
    def untimed[T](body: => T): T = { pause(); try body finally start() }
  }

  final case class Sample(id: Long, seconds: Double, outcome: Outcome)

  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Process high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  def runJob(ctx: Ctx, job: Job, id: Long): Sample = {
    val t0 = System.nanoTime()
    val o = ctx.tracer.span("job", id) {
      try job.run(ctx, id)
      catch { case NonFatal(e) => Outcome(Some(s"exception: $e"), 0, 0) }
    }
    Sample(id, (System.nanoTime() - t0) / 1e9, o)
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: ${e.getMessage}")
        System.err.println("usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1")
        sys.exit(2)
    }
    val wallStart = System.nanoTime()
    def wall = (System.nanoTime() - wallStart) / 1e9
    val root = Paths.get(".perfbench").toAbsolutePath
    val dir = root.resolve(s"${a.workload.name}-${a.seed}-${ProcessHandle.current().pid()}")
    Files.createDirectories(dir)
    val tracer = new Tracer
    var genS = 0.0
    def gen[T](body: => T): T = {
      val t0 = System.nanoTime(); try body finally genS += (System.nanoTime() - t0) / 1e9
    }
    val exitCode = try {
      // ---- warm-up, once: the first jobs in the JVM pay class loading,
      // JIT and codegen, which no later set-up repeats
      val warmClock = new Clock
      warmClock.start()
      var spark = session(dir)
      val warmCtx = Ctx(spark, tracer, dir, a.seed)
      val (warm, firstJob) = warmClock.untimed(gen(
        (a.workload.unit(warmCtx, -1L), EtlBatch.job(warmCtx, -2L, "csv"))))
      def runChecked(ctx: Ctx, j: Job, id: Long): Unit =
        runJob(ctx, j, id).outcome.error.foreach(e => sys.error(s"warm-up job failed: $e"))
      (warm :+ firstJob).zipWithIndex.foreach { case (j, k) => runChecked(warmCtx, j, -1L - k) }
      warmClock.pause()

      // ---- set-up, repeated: a new session and its first job; the last
      // session stays for the timed loop
      val setups = mutable.ArrayBuffer.empty[Double]
      val starts = mutable.ArrayBuffer.empty[Double]
      for (i <- 0 until Setups) {
        stop(spark)
        val t0 = System.nanoTime()
        spark = session(dir)
        starts += (System.nanoTime() - t0) / 1e9
        runChecked(Ctx(spark, tracer, dir, a.seed), firstJob, -100L - i)
        setups += (System.nanoTime() - t0) / 1e9
      }
      val ctx = Ctx(spark, tracer, dir, a.seed)

      /** Run whole units until `budget` seconds of untraced job time have
        * run. A traced run executes every unit twice, untraced and traced
        * in alternating order, each time on freshly written inputs, and
        * runs an even number of units unless the wall-clock budget runs
        * out, so each side goes first equally often and the two medians
        * differ by the tracing alone. */
      def loop(budget: Double): (Seq[Sample], Seq[Sample]) = {
        val plain = mutable.ArrayBuffer.empty[Sample]
        val traced = mutable.ArrayBuffer.empty[Sample]
        var timed = 0.0
        var u = 0L
        while (u == 0 || ((timed < budget || (a.trace && u % 2 == 1)) && wall < WallBudgetS)) {
          val passes = if (!a.trace) Seq(false) else if (u % 2 == 0) Seq(false, true) else Seq(true, false)
          passes.foreach { t =>
            val c = if (t) ctx.copy(dir = dir.resolve("traced")) else ctx
            tracer.recording = t
            gen(a.workload.unit(c, u)).foreach { j =>
              val s = runJob(c, j, (plain.size + traced.size).toLong)
              if (!t) { timed += s.seconds; plain += s }
              else {
                tracer.drain()
                traced += s.copy(outcome = s.outcome.copy(layer = s.outcome.layer ++ gen(j.untimedLayer(c))))
              }
            }
          }
          u += 1
        }
        tracer.recording = false
        (plain.toSeq, traced.toSeq)
      }

      if (a.trace) tracer.start(spark.sparkContext)
      val (plain, traced) = loop(if (a.trace) a.seconds / 2 else a.seconds)
      val layer = if (!a.trace) Nil else {
        tracer.write(root.resolve(s"trace-${a.workload.name}-${a.seed}.json"))
        Layers.table(tracer, traced).foreach(l => println(s"[${a.workload.name}] span $l"))
        Layers.metrics(tracer, plain, traced, cores)
      }
      val ok = report(a, plain ++ traced, plain, warmClock.seconds, setups.toSeq, starts.toSeq, genS, wall, layer)
      stop(spark)
      if (ok) 0 else 1
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: run aborted: $e")
        e.printStackTrace()
        3
    } finally Gen.deleteTree(dir.toFile)
    sys.exit(exitCode)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Print the human-readable lines and, last, the JSON result; true
    * when every attempted job passed its check. `samples` are timed,
    * `attempted` every job whose output was checked. */
  def report(a: Args, attempted: Seq[Sample], samples: Seq[Sample], warmupS: Double, setups: Seq[Double],
      starts: Seq[Double], genS: Double, wall: Double,
      layer: Seq[(String, String, Double)]): Boolean = {
    val w = a.workload.name
    val failed = attempted.count(_.outcome.error.isDefined)
    attempted.flatMap(s => s.outcome.error.map(e => s"job ${s.id}: $e")).take(5)
      .foreach(e => System.err.println(s"perfbench: FAILED $e"))
    val times = samples.map(_.seconds)
    val timed = times.sum
    val records = samples.map(_.outcome.records).sum
    val endToEnd = Seq(
      ("setup_s", "s", median(setups)),
      ("job_s_p50", "s", median(times)),
      ("job_s_p90", "s", quantile(times, 0.9)),
      ("rows_per_s", "1/s", records / timed),
      ("peak_rss_mb", "MB", peakRssMb()))
    val failRate = failed.toDouble / math.max(1, attempted.size)
    println(f"[$w] seed=${a.seed} cores=$cores loop=closed clients=1 jobs=${samples.size} " +
      f"timed_s=$timed%.3f wall_s=$wall%.1f input_gen_s=$genS%.2f warmup_s=$warmupS%.2f " +
      f"setups=${setups.map(x => f"$x%.3f").mkString(",")} " +
      f"of_which_session_start=${starts.map(x => f"$x%.3f").mkString(",")}")
    endToEnd.foreach { case (n, u, v) => println(f"[$w] $n%-12s ${fmt(v)}%-22s $u") }
    println(f"[$w] fail_rate    $failRate%-22s ratio ($failed of ${attempted.size} jobs; p50/p90 over ${samples.size} samples)")
    layer.foreach { case (n, u, v) => println(f"[$w] $n%-40s ${fmt(v)}%-22s $u") }
    val metrics = (if (a.trace) layer else endToEnd).map { case (n, u, v) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${attempted.size}, "failed": $failed, "metrics": {$metrics}}""")
    System.out.flush()
    failed == 0
  }
}
