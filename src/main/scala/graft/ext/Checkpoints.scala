package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Releases the blocks of the local checkpoints a frame reads. An operator
  * that checkpoints and then runs its own action calls this once the action
  * has run, so a long-lived session calling it repeatedly does not
  * accumulate checkpointed blocks. `Dataset.unpersist` does not do this: a
  * checkpoint is not in the cache manager, its blocks belong to the RDD
  * behind the plan's `LogicalRDD` leaf. Pass only frames whose every
  * checkpoint the caller owns: all of them are released.
  */
private[graft] object Checkpoints {
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }
}
