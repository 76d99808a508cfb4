// Package-injected shim: private[sql] access is needed to rebase a
// DataFrame onto its own evaluated RDD without the Row round-trip that
// the public createDataFrame(RDD[Row], schema) path would pay. This is
// the same internal surface Dataset.checkpoint/localCheckpoint build on.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Single-evaluation plan cut for H.prefixSums (r14, ADVICE fix).
  *
  * The kernel's range-partitioned subplan is consumed by TWO branches
  * (the per-pid offset aggregation and the probe side it joins back to).
  * Left declarative, each branch plans its OWN range exchange the moment
  * the optimizer prunes them differently — observed in r14: column
  * pruning dropped the probe-only payload columns below the offsets
  * branch's exchange, the canonical plans diverged, AQE stage reuse
  * stopped firing, and the final plan carried two independent range
  * shuffles whose boundaries are sampled with different seeds (RDD-id
  * seeded). At small SF the sampler sees every row, so both sides cut
  * identically and the oracles stay green; at scale the samples diverge
  * and `spark_partition_id()` silently misaligns between the branches.
  *
  * `once` makes divergence impossible by construction: the subplan is
  * evaluated into ONE RDD[InternalRow]; both consumers read that single
  * RDD through a LogicalRDD scan, so there is exactly one shuffle
  * dependency, one boundary sample, and one map-output set — shared by
  * the downstream stages at the MapOutputTracker level. Unlike
  * localCheckpoint this does not pin blocks or truncate fault-recovery
  * lineage past the shuffle (reducers re-fetch the same map outputs),
  * and unlike persist() it leaves nothing registered in CacheManager.
  * Bonus at scale: the upstream (source reduce + range shuffle) now runs
  * once instead of twice.
  *
  * Rows are copied before the hand-off (`_.copy()`), exactly as
  * Dataset.checkpoint does — the scan's UnsafeRow buffer is reused
  * per-partition and a LogicalRDD must own its rows.
  *
  * API-drift fallback (r15, pinned by PlanAuditSpec's AQE-off/reuse-off
  * case): the classic-Dataset cast and internalCreateDataFrame are
  * internal surfaces. If a future Spark removes them, substitute
  * `df.localCheckpoint()` — identical one-RDD rebase semantics, at the
  * cost of pinning blocks in the block manager for the session and
  * truncating fault-recovery lineage past the cut (reducers can no
  * longer re-fetch map outputs; failed executors force a recompute from
  * the checkpoint blocks' replicas). */
object PlanCut {
  def once(df: DataFrame): DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd.map(_.copy()), classic.schema)
  }
}

/** A DataFrame over a resolved logical plan, the pattern of Spark's
  * package-private `Dataset.ofRows`: [[graft.plans.TopK.rewrite]] turns a
  * rewritten optimized plan back into a frame, and the window-scale
  * guard runs a window's child subplan on its own. */
object Frames {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
