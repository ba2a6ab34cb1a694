package org.apache.spark.rdd.graftbridge

import org.apache.spark.rdd.RDD

/** `RDD.unpersist` logs a WARN ("was locally checkpointed, its lineage
  * has been truncated…") for every locally checkpointed RDD, which is
  * every deliberate [[graft.util.BlockRelease]] of a checkpoint: one line
  * per released frame buried the engine's own stderr diagnostics.
  * `SparkContext.unpersistRDD` is the block removal `unpersist` performs
  * after that warning. It and `RDD.isLocallyCheckpointed` are private to
  * spark, so this bridge lives under the rdd package, like
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]] under sql. */
object BlockBridge {

  /** Drop `rdd`'s storage blocks. A locally checkpointed RDD goes
    * straight to the block removal; any other RDD through `unpersist`. */
  def dropBlocks(rdd: RDD[_]): Unit =
    if (rdd.isLocallyCheckpointed) rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else { rdd.unpersist(blocking = false); () }
}
