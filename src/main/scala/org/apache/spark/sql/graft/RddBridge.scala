package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to the private[sql] LogicalRDD node: after `df.localCheckpoint()`
  * the returned frame's plan is a LogicalRDD over the persisted checkpoint
  * RDD. Exposing that RDD lets the engine release the checkpoint's block
  * storage once the consuming action finishes (see graft.util.Checkpoints) —
  * without it, every near-dup query would leak its lineage-cut blocks into
  * the block manager for the life of the session. */
object RddBridge {
  def backingRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }

  /** Drop a lineage cut's blocks without `RDD.unpersist`, which warns on
    * every locally checkpointed RDD that its lineage "cannot be recomputed
    * after unpersisting" — true, and exactly why a cut is released only
    * after its consuming action. Goes through the private[spark]
    * `SparkContext.unpersistRDD`, the call `unpersist` itself makes. */
  def release(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
