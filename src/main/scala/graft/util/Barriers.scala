package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place the engine makes and drops lineage barriers.
  *
  * A barrier is an eager `localCheckpoint`: the frame's RDD blocks are
  * persisted at MEMORY_AND_DISK and every later plan starts from a flat
  * `LogicalRDD` leaf, so a frame with several consumers is derived once
  * and an iterative fold does not re-analyze a plan that grows per round.
  *
  * Two costs come with it:
  *  - it runs a REAL Spark job at query-BUILD time: a builder that calls
  *    [[eager]] executes work before any action on the frame it returns,
  *    plan-only and audit paths included. Helpers that call it say so in
  *    their scaladoc.
  *  - it truncates lineage and stores blocks executor-local without
  *    replication, so on a cluster an executor lost while a corpus-sized
  *    barrier (tx26 `toks`) is live fails the query instead of
  *    recomputing it. `persist(DISK_ONLY)` keeps lineage, but CacheManager
  *    dedupes equivalent plans, so a second build of the same query in one
  *    session reads the first build's blocks; it was rejected for that
  *    (OPTIMIZATION_r17.md).
  *
  * Superseded barriers must be released: otherwise every round of a fold
  * keeps its blocks until the driver GC collects the RDD handle, storage
  * pressure charged to whatever runs later in the same JVM.
  */
object Barriers {

  /** Eager checkpoint barrier; runs a Spark job now (see the object doc). */
  def eager(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Release the blocks of a SUPERSEDED checkpoint barrier.
    *
    * MUST only be called on a frame that is never referenced again: a
    * localCheckpoint is lineage-truncating, so a released frame cannot
    * be recomputed. No-op for plans that are not checkpoint leaves
    * (e.g. the un-checkpointed seed frame a fold starts from). */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Fixed-count fold: `n` applications of `step` from `seed`, each
    * output barriered and each step's input released as soon as its
    * output is at rest — round N−1's blocks are dead once round N
    * materializes, so only the returned frame keeps blocks. The seed is
    * released after step 1 when it is itself a checkpoint leaf, so pass
    * only a seed nothing else references; a plain seed is left alone.
    * Runs `n` Spark jobs at build time. */
  def iterate(seed: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(seed) { (prev, _) =>
      val next = eager(step(prev))
      release(prev)
      next
    }
}
