package graft.util

import org.apache.spark.sql.DataFrame

/** Re-parallelize a too-small input before a compute-dense per-row kernel
  * (optimization guide §2.5, input skew: "one huge unsplittable file …
  * repartition immediately after the read").
  *
  * The near-dup kernels run expensive per-row expressions — word-shingle
  * md5/FNV scans, 64-mix MinHash signatures, hyperplane signature banks —
  * whose cost per row dwarfs the scan itself. Spark sizes the scan stage
  * by INPUT BYTES (`spark.sql.files.maxPartitionBytes`), so a corpus that
  * fits one split (the oracle SFs: one ~2 MB parquet file) runs the whole
  * kernel in ONE task regardless of core count — measured at sf0.1 × 32
  * cpus: the q36 signature stage 2.26 s / 1 task, q112 2.42 s / 1 task,
  * with 31 cores idle.
  *
  * [[spread]] round-robin-repartitions to the default parallelism ONLY
  * when the plan's estimated size says the scan cannot reach half the
  * cores (estimate < maxPartitionBytes × cores/2) — so at any real scale
  * (splits ≥ cores) it is a literal no-op: no exchange is added to the
  * plan, and the decision reads optimizer statistics, never runs a job.
  * Checkpointed inputs (LogicalRDD without stats) report the default
  * sizeInBytes (Long.Max-ish) and are left alone. The added exchange on
  * the small-input branch moves raw text once — bounded by the branch
  * condition itself to < maxPartitionBytes × cores/2 bytes — and row
  * order stays deterministic (Spark sorts before round-robin,
  * SPARK-23207); every consumer is key-based, so results are unchanged
  * (oracle-verified across the family).
  */
object SpreadScan {
  def spread(df: DataFrame): DataFrame =
    if (small(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** [[spread]]'s decision, with the round-robin repartition done on the
    * RDD under the plan instead of in it. An adaptive plan submits a
    * plan-level exchange as a job of its own; this shuffle runs inside
    * the first job over the returned frame, and later jobs over the same
    * frame reuse its map output. The returned frame carries no size
    * statistics, so use it for a frame that is collected, not joined. */
  def spreadInline(df: DataFrame): DataFrame =
    if (!small(df)) df
    else org.apache.spark.sql.graftbridge.ColumnBridge.ofInternalRows(
      df.sparkSession,
      df.queryExecution.toRdd.map(_.copy()) // scans reuse their row buffers
        .repartition(df.sparkSession.sparkContext.defaultParallelism),
      df.schema)

  private def small(df: DataFrame): Boolean = {
    val sess = df.sparkSession
    val target = sess.sparkContext.defaultParallelism
    val maxPB = sess.sessionState.conf.filesMaxPartitionBytes
    df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(maxPB) * target / 2
  }
}
