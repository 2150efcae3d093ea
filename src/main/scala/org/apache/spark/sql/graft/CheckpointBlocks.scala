package org.apache.spark.sql.graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of the storage blocks behind a
  * `localCheckpoint`'d Dataset.
  *
  * A checkpointed Dataset's plan is a [[LogicalRDD]] over the persisted
  * internal RDD; dropping the Dataset reference only frees the blocks
  * when the async ContextCleaner eventually notices — in a long session
  * (the bench loop, a REPL) superseded BFS frontiers pile up in storage
  * memory. This helper unpersists the backing RDD as soon as the caller
  * knows the blocks are no longer reachable from any live plan.
  *
  * Lives in `org.apache.spark.sql` for access to the `private[sql]`
  * execution plan node — same pattern as [[StaticPlanner]].
  */
object CheckpointBlocks {
  /** Unpersist the checkpoint blocks behind `ds` (no-op for a
    * non-checkpointed Dataset). Descends through Project nodes: an
    * operator that returns `checkpoint.select(...)`/`drop(...)` is
    * still "a bare checkpoint" to its caller, and the top-node-only
    * match silently leaked exactly those (components/lpaCommunities —
    * every REST request stranded a node-sized checkpoint; r15 review
    * finding). UNSAFE if any live plan still references the blocks:
    * localCheckpoint truncates lineage, so they cannot be recomputed. */
  def unpersist(ds: Dataset[_], blocking: Boolean = false): Unit = {
    @scala.annotation.tailrec
    def descend(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      p match {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking)
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
          descend(pr.child)
        case _ => ()
      }
    descend(ds.queryExecution.analyzed)
  }

  /** Unpersist EVERY checkpoint anywhere in `ds`'s plan (not just a
    * top-level one — operators return projections OVER their final
    * checkpoint, which [[unpersist]]'s top-node match misses). For use
    * when the whole plan is provably dead — e.g. [[graft.Materialize]]
    * after the builder frame has been written to parquet; the same
    * UNSAFE caveat applies to every block freed. */
  def unpersistAll(ds: Dataset[_], blocking: Boolean = false): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }
}
