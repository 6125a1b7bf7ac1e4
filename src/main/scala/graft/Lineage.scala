package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Shared lineage plumbing for ITERATIVE operators (Components, KCore,
  * HyperBall, …): each round `localCheckpoint`s to truncate the
  * exponentially-referencing plan (the round-3 pointer-jumping lesson),
  * and the superseded round's materialized blocks are released here. */
object Lineage {

  /** Unpersist the materialized RDD blocks behind a localCheckpoint'd
    * Dataset (safe only once nothing will read it again — its lineage is
    * truncated, so the blocks cannot be recomputed). Only `df`'s own root
    * is released: a Dataset derived from a checkpoint releases nothing,
    * so the checkpoints it reads stay registered for their other readers. */
  def dropCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case NonFatal(_) => () }
}
