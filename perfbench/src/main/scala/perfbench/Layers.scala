package perfbench

import Main.{Sample, mean, median}

/** Per-layer metrics of a traced run. Layer times are span self times,
  * summed per job and reported as the median over jobs; counts are means
  * per job. A layer a workload never calls reports 0. */
object Layers {

  /** Span names, one per public function the harness calls. */
  val Spans: Seq[String] = Seq(
    "etl.SmartLoad.load", "etl.RuleJson.parse", "etl.RuleCompiler.run", "etl.Sinks.write",
    "spark.preview", "ext.TextAnalysis.quality", "ext.Dedup.minhash", "ext.Dedup.components",
    "ext.Similarity.topk", "bench.check")

  /** One line per span name: calls per job, self time, and the Spark
    * counters attributed to it, per job. */
  def table(tracer: Tracer, traced: Seq[Sample]): Seq[String] = {
    val n = math.max(1, traced.size).toDouble
    val ids = traced.map(_.id).toSet
    tracer.all.filter(s => ids(s.job)).groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val c = SparkCounters.sum(ss)
      f"$name%-28s calls/job ${ss.size / n}%6.1f  self_s/job ${ss.map(tracer.selfSeconds).sum / n}%8.4f  " +
        f"spark jobs ${c.jobs / n}%6.1f stages ${c.stages / n}%6.1f tasks ${c.tasks / n}%7.1f " +
        f"busy_s ${c.taskBusyMs / 1000.0 / n}%7.3f gc_s ${c.gcMs / 1000.0 / n}%6.3f " +
        f"in_rec ${c.inputRecords / n}%10.0f shuf_w ${c.shuffleWriteBytes / n}%10.0f"
    }
  }

  def metrics(tracer: Tracer, plain: Seq[Sample], traced: Seq[Sample],
      cores: Int): Seq[(String, String, Double)] = {
    val byJob = tracer.all.groupBy(_.job)
    def spans(s: Sample, name: String) = byJob.getOrElse(s.id, Nil).filter(_.name == name)
    val perJob = traced.map(s => s -> SparkCounters.sum(byJob.getOrElse(s.id, Nil)))
    def layer(key: String) = mean(traced.map(_.outcome.layer.getOrElse(key, 0.0)))
    def sparkJobs(name: String) = mean(traced.map(s => spans(s, name).map(_.spark.jobs).sum.toDouble))
    val skews = perJob.flatMap(_._2.stageSkews)
    val tracedP50 = median(traced.map(_.seconds))
    val plainP50 = median(plain.map(_.seconds))

    Spans.map { n =>
      (s"${n}_s", "s", median(traced.map(s => spans(s, n).map(tracer.selfSeconds).sum)))
    } ++ Seq(
      ("etl.SmartLoad.jobs", "count", sparkJobs("etl.SmartLoad.load")),
      (Workloads.RuleErrors, "count", layer(Workloads.RuleErrors)),
      ("ext.Dedup.components_jobs", "count", sparkJobs("ext.Dedup.components")),
      ("ext.Dedup.planted_recall", "ratio", layer("ext.Dedup.planted_recall")),
      ("ext.Similarity.recall_at_k", "ratio", layer("ext.Similarity.recall_at_k")),
      ("spark.jobs", "count", mean(perJob.map(_._2.jobs.toDouble))),
      ("spark.stages", "count", mean(perJob.map(_._2.stages.toDouble))),
      ("spark.tasks", "count", mean(perJob.map(_._2.tasks.toDouble))),
      ("spark.failed_tasks", "count", mean(perJob.map(_._2.failedTasks.toDouble))),
      ("spark.task_busy_s", "s", mean(perJob.map(_._2.taskBusyMs / 1000.0))),
      ("spark.core_busy_share", "ratio",
        median(perJob.map { case (s, c) => c.taskBusyMs / 1000.0 / (s.seconds * cores) })),
      ("spark.gc_s", "s", mean(perJob.map(_._2.gcMs / 1000.0))),
      ("spark.input_records_per_output_row", "ratio",
        median(perJob.map { case (s, c) => c.inputRecords.toDouble / math.max(1L, s.outcome.outputRows) })),
      ("spark.shuffle_write_bytes", "bytes", mean(perJob.map(_._2.shuffleWriteBytes.toDouble))),
      ("spark.shuffle_read_bytes", "bytes", mean(perJob.map(_._2.shuffleReadBytes.toDouble))),
      ("spark.spill_bytes", "bytes", mean(perJob.map(_._2.spillBytes.toDouble))),
      ("spark.task_skew", "ratio", if (skews.isEmpty) 1.0 else median(skews.toSeq)),
      ("bench.job_self_s", "s", median(traced.map(s => spans(s, "job").map(tracer.selfSeconds).sum))),
      ("trace.job_s_p50", "s", tracedP50),
      ("trace.overhead_s", "s", tracedP50 - plainP50))
  }
}
