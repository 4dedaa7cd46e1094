package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark counters gathered for one span. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskBusyMs = 0L
  var gcMs = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** slowest ÷ median task duration, one entry per stage of >= 2 tasks */
  val stageSkews: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskBusyMs += o.taskBusyMs; gcMs += o.gcMs; inputRecords += o.inputRecords
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; stageSkews ++= o.stageSkews
  }
}

object SparkCounters {
  def sum(spans: Iterable[Span]): SparkCounters = {
    val c = new SparkCounters
    spans.foreach(s => c.add(s.spark))
    c
  }
}

/** One timed region around a call into a layer. */
final case class Span(id: Int, name: String, parent: Int, job: Long, startNs: Long) {
  var endNs: Long = startNs
  val spark = new SparkCounters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are kept in memory and written out once at the
  * end of the run. While not recording, `span` only runs its body: no
  * clock reads, no local properties — the end-to-end metrics are measured
  * this way, in runs that never register the listener. Spark work is
  * attributed to the innermost open span through a thread-local property
  * that the listener reads back from each job's properties. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var sc: SparkContext = _
  var recording = false

  /** Register the span listener on `context`; recording is switched on
    * and off per job with [[recording]]. */
  def start(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(new SpanListener(id => spans.synchronized(spans.lift(id))))
  }

  def span[T](name: String, job: Long)(body: => T): T =
    if (!recording) body
    else {
      val s = spans.synchronized {
        val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), job, System.nanoTime())
        spans += s; s
      }
      open = s :: open
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Span duration minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  def write(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    val body = all.map { s =>
      val c = s.spark
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"job":${s.job},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)},""" +
        s""""spark_jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""failed_tasks":${c.failedTasks},"task_busy_ms":${c.taskBusyMs},"gc_ms":${c.gcMs},""" +
        s""""input_records":${c.inputRecords},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""shuffle_read_bytes":${c.shuffleReadBytes},"spill_bytes":${c.spillBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Attributes job, stage and task events to the span named by the job's
  * local property. Runs on the listener bus thread. */
final class SpanListener(spanOf: Int => Option[Span]) extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def spanFrom(props: Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).flatMap(id => spanOf(id.toInt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanFrom(e.properties).foreach { s =>
      s.spark.jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = s.spark
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      c.taskBusyMs += e.taskInfo.duration
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        c.gcMs += m.jvmGCTime
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSpan.get(id).foreach { s =>
      s.spark.stages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ms =>
        val sorted = ms.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        s.spark.stageSkews += sorted.last.toDouble / median
      }
    }
  }
}
