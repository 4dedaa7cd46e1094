package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Fault-tolerance-aware materialization fence for iterative operators
  * (connected components, fuzzy-join candidate staging).
  *
  * Iterative plans must cut lineage each round — otherwise the logical
  * plan grows without bound and any recomputation replays every round.
  * The two ways to cut lineage trade durability for speed:
  *
  *  - `checkpoint` (reliable): blocks are written to the configured
  *    checkpoint directory (HDFS/object store on a cluster). Surviving
  *    executor loss is exactly what a multi-round job on a 1000-executor
  *    cluster needs — one preempted executor must not kill round 37.
  *  - `localCheckpoint` (ephemeral): blocks live in executor
  *    storage memory/disk. Fast, but an executor loss permanently
  *    destroys the truncated lineage. Fine on local[n] where "executor
  *    loss" means the whole JVM died anyway.
  *
  * This fence picks reliable checkpointing whenever the session has a
  * checkpoint directory configured (`SparkContext.setCheckpointDir`,
  * the cluster deployment contract) and falls back to localCheckpoint
  * otherwise, so the same operator code is durable on a cluster and
  * fast in local tests. [[rdd]] applies the same choice to RDD-level
  * loops.
  */
object Materialize {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

  /** Materialize AND count in ONE action. Iterative loops that fence a
    * round frame and then probe it (`count`/`isEmpty` for the early-out)
    * pay one extra driver round-trip per round on top of the eager
    * checkpoint job; here the count RIDES the materializing action —
    * the lazy checkpoint is forced by the count itself, so the fence
    * and the probe are a single job. Durability contract identical to
    * [[apply]] (reliable checkpoint under a configured dir, local
    * otherwise). */
  def withCount(df: DataFrame): (DataFrame, Long) = {
    val fenced = lazyFence(df)
    (fenced, fenced.count())
  }

  /** A fence whose materialization RIDES THE CALLER'S NEXT ACTION
    * instead of running an eager job of its own. Contract: the caller
    * must run an action on the returned frame IMMEDIATELY (before
    * building further lineage on it) — the iterative-loop probe shape
    * (a per-round convergence count), where the probe action
    * itself forces the checkpoint and the following round then consumes
    * materialized blocks exactly as with [[apply]]. Durability matches
    * [[apply]] (reliable under a configured dir, local otherwise). */
  def lazyFence(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  /** [[lazyFence]] for an RDD: marks `r` for a reliable checkpoint when
    * a checkpoint dir is configured, a local one otherwise, and returns
    * it. Same contract: the caller's next action materializes it. The
    * reliable branch also persists, so the checkpoint write after that
    * action reads the cached blocks instead of recomputing the lineage. */
  def rdd[T](r: RDD[T]): RDD[T] = {
    if (r.sparkContext.getCheckpointDir.isDefined) {
      r.persist(StorageLevel.MEMORY_AND_DISK)
      r.checkpoint()
    } else r.localCheckpoint()
    r
  }
}
