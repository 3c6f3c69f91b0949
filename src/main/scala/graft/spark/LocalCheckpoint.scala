package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Releases what an eager `localCheckpoint` holds once nothing reads it. */
private[graft] object LocalCheckpoint {

  /** Drop the blocks behind an eager `localCheckpoint`: its plan is a
    * `LogicalRDD` over the checkpointed RDD, which the Dataset cache
    * manager does not track, so `Dataset.unpersist` would not free them. */
  def release(ds: DataFrame): Unit =
    ds.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))
}
