package graft

import org.apache.spark.SparkContext

/** Names the engine's own eager Spark jobs, so a user reading the UI or
  * a listener sees which operator phase a job belongs to. */
object Obs {

  private final val JobDescription = "spark.job.description"

  /** Runs `body` with `spark.job.description` set to `label` on this
    * thread, and restores the previous description afterwards, also
    * when `body` throws. Local properties are per thread, so concurrent
    * sessions keep their own labels. */
  def phase[T](sc: SparkContext, label: String)(body: => T): T = {
    val previous = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, label)
    try body finally sc.setLocalProperty(JobDescription, previous)
  }
}
