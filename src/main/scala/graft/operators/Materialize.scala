package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.GraftBridge

/** Lineage-cutting materialization for iterative loops and DML
  * source pinning — the one switch between the LOCAL and CLUSTER
  * materialization primitives.
  *
  * `localCheckpoint` is the right default on a single machine (no
  * disk round-trip, blocks freed by the ContextCleaner), but it PINS
  * blocks to executors: on a real cluster one executor loss
  * mid-merge or mid-CC-loop fails the job, and it is unsafe under
  * dynamic allocation. Setting
  * `spark.graft.materialize.reliable=true` (with
  * `sparkContext.setCheckpointDir(...)` configured) routes every
  * `pin` site through reliable `checkpoint()` instead — same
  * semantics, fault-tolerant blocks in the checkpoint dir (at the
  * cost of the checkpoint write, and — standard RDD-checkpoint
  * caveat — one recomputation of the frame being checkpointed).
  *
  * Lazy pins (`eager = false`) are materialized by the caller's next
  * action in BOTH modes, so loop job counts are identical. */
object Materialize {

  val ReliableConf = "spark.graft.materialize.reliable"

  /** Runs `body` over a lazy pin of `df` and frees the pinned blocks
    * when `body` returns or throws: a DML source pin lives as long as
    * its commit, not until the ContextCleaner happens to collect it. */
  def withPin[T](df: DataFrame)(body: DataFrame => T): T = {
    val pinned = df.pin(eager = false)
    try body(pinned)
    finally pinned.queryExecution.logical match {
      case r: LogicalRDD => GraftBridge.releasePin(r.rdd)
      case _ =>
    }
  }

  implicit class Pinnable(private val df: DataFrame) extends AnyVal {
    def pin(eager: Boolean = true): DataFrame =
      if (df.sparkSession.conf.getOption(Materialize.ReliableConf)
          .exists(_.equalsIgnoreCase("true")))
        df.checkpoint(eager)
      else df.localCheckpoint(eager)
  }
}
