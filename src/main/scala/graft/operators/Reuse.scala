package graft.operators

import org.apache.spark.sql.Dataset

object Reuse {

  /** Frees the blocks of a `localCheckpoint`ed frame, which live on the RDD
    * at its plan root where `unpersist` does not reach. Only the frame's own
    * root: checkpoints further down its lineage may belong to others. */
  def release(ds: Dataset[_]): Unit = ds.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    case _ => ()
  }
}
