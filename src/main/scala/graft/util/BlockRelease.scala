package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of the storage blocks behind a finished
  * DataFrame.
  *
  * `Dataset.unpersist` only covers `cache()`/`persist()` entries in the
  * CacheManager; the blocks materialized by `localCheckpoint()` belong to
  * an internal RDD that only the async ContextCleaner reclaims — after a
  * driver GC, on a 30-minute default period. Long sessions that invoke
  * checkpoint-using operators repeatedly (every iterative graph algorithm
  * here, the dedup banding, the crawler) accumulate those blocks until
  * memory pressure drags every later job: measured on this repo, the 5th+
  * consecutive label-propagation call went 1.2 s → 5.5 s from exactly
  * this. Operators therefore release their scratch state explicitly the
  * moment a downstream checkpoint makes it unreachable.
  *
  * CAUTION: releasing a checkpointed DF whose blocks a LAZY (not yet
  * materialized) downstream plan still needs destroys that plan's only
  * data source (checkpointing truncated the lineage). Call this only once
  * every consumer has materialized.
  */
object BlockRelease {

  /** RDD ids whose storage blocks survive [[release]] (r16 — the q73
    * session memo): callers legitimately release frames DERIVED from a
    * memoized checkpointed frame, and the leaf-walking release would
    * otherwise destroy the memo's only data source (checkpointing
    * truncated its lineage). Bounded by the memos' own LRU bounds —
    * eviction unprotects before releasing. */
  private val protectedIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Logged-once flag for a protect() that found no LogicalRDD leaves:
    * leafRdds swallows plan-walk exceptions into Seq.empty, so without
    * this a memo believes its blocks are shielded while a caller-contract
    * release destroys them — missing-block failures far from the cause.
    * One stderr line makes the silently-unprotected memo observable. */
  @volatile private var warnedEmptyProtect = false

  /** Shield every checkpoint block reachable from `df`'s plan leaves
    * from [[release]] — for session-memoized frames only. */
  def protect(df: DataFrame): Unit = {
    val leaves = leafRdds(df)
    if (leaves.isEmpty && !warnedEmptyProtect) {
      warnedEmptyProtect = true
      System.err.println(
        "[graft] BlockRelease.protect found no LogicalRDD leaves; the " +
          "frame is NOT shielded from release (plan walk failed or the " +
          "frame is not checkpointed); a later release of this memo's " +
          "blocks can surface as missing-block errors.")
    }
    leaves.foreach(r => protectedIds.add(r.id))
  }

  /** Undo [[protect]]; call before releasing an evicted memo entry. */
  def unprotect(df: DataFrame): Unit =
    leafRdds(df).foreach(r => protectedIds.remove(r.id))

  private def leafRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    try df.queryExecution.logical.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
    } catch { case _: Exception => Seq.empty }

  /** Release cache entries AND checkpoint blocks reachable from `df`'s
    * plan leaves. Safe to call twice; never throws. Checkpoint blocks
    * drop through [[org.apache.spark.rdd.graftbridge.BlockBridge]], so a
    * deliberate release logs nothing. */
  def release(df: DataFrame): Unit = {
    try df.unpersist(blocking = false)
    catch { case _: Exception => () }
    try df.queryExecution.logical.collectLeaves().foreach {
      case l: LogicalRDD if !protectedIds.contains(l.rdd.id) =>
        try org.apache.spark.rdd.graftbridge.BlockBridge.dropBlocks(l.rdd)
        catch { case _: Exception => () }
      case _ => ()
    } catch { case _: Exception => () }
  }

  def release(dfs: Seq[DataFrame]): Unit = dfs.foreach(release)
}
