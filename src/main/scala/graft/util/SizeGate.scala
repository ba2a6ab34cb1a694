package graft.util

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Shared size gate for explicit `broadcast()` hints (r9 VERDICT item 5:
  * "route corpus-shaped sides through one shared maybeBroadcast util").
  *
  * An unconditional `broadcast()` hint is a 100 TB hazard whenever the
  * hinted side is not bounded BY CONSTRUCTION (a d×w sketch grid, a k-row
  * codebook, a fixed-count md5 sample are bounded; "all doc vectors" is
  * not). This helper makes the decision explicit and cheap: the caller
  * supplies an ALREADY-KNOWN count when one is lying around (most call
  * sites just counted the frame for another reason), or lets the gate
  * count once. Below [[BroadcastRows]] the frame
  * broadcasts — map-side join, zero shuffle on the big side; at or above
  * it the frame is returned un-hinted and AQE/the planner picks the
  * shuffle join that actually fits. Same tiering discipline as the
  * graph algos' [[collectThreshold]] — identical results either way,
  * only the exchange strategy changes.
  */
object SizeGate {

  /** Row bound below which [[maybeBroadcast]] broadcasts: generous for a
    * 128 GiB driver, far below "corpus". At or above it the join is one
    * plain shuffle join (`Dedup.gidByContent` says why the dedup
    * join-backs need no heavy-hitter split there). */
  val BroadcastRows: Long = 2000000L

  /** The collect gate's one default: how many units a driver tier may
    * hold or evaluate. Each gate counts its own unit (edge rows, label
    * rows, vector elements, members × bands, or point pairs for the
    * brute tiers of [[graft.graph.Hdbscan]] and
    * [[graft.graph.DensityCluster]], which puts them at n ≤ 2,000). */
  private[graft] val DefaultCollectThreshold: Long = 2000000L

  /** The collect-tier gate of the graph and dedup operators, read by
    * each operator at each of its gates: the value of the innermost
    * [[withCollectThreshold]] scope, else `SPARK_GRAFT_COLLECT_THRESHOLD`
    * (a deployment setting; the forced-distributed oracle leg sets it to
    * 0, which puts every gate, nested ones included, on its distributed
    * tier), else [[DefaultCollectThreshold]]. */
  private[graft] def collectThreshold: Long =
    scoped.value.getOrElse(envLong("SPARK_GRAFT_COLLECT_THRESHOLD",
      DefaultCollectThreshold, min = 0L))

  /** n(n−1)/2, the point pairs a brute tier over `n` points evaluates
    * (saturating at Long.MaxValue). */
  private[graft] def pairCount(n: Long): Long =
    (BigInt(n) * (n - 1) / 2).min(Long.MaxValue).toLong

  /** Whether a brute tier over `n` points fits the collect gate, counted
    * in point pairs. A gate of 0 fits none and leaves `n` unevaluated. */
  private[graft] def pairsFit(n: => Long): Boolean = {
    val gate = collectThreshold
    gate > 0 && pairCount(n) <= gate
  }

  private val scoped = new scala.util.DynamicVariable[Option[Long]](None)

  /** Runs `body` with every [[collectThreshold]] read on this thread
    * returning `n` (0 forces every distributed tier). Tests pick a tier
    * with it; the engine takes no threshold parameter. */
  private[graft] def withCollectThreshold[T](n: Long)(body: => T): T = {
    require(n >= 0, s"graft: collect threshold $n must be >= 0")
    scoped.withValue(Some(n))(body)
  }

  /** The bounded collect of the collect tiers: every partition's rows,
    * packed on the executor by `pack` (which must consume its iterator),
    * or None when they weigh more than `bound` units (`units(row)` each).
    * Every partition hands `pack` rows only while it holds at most an
    * equal share of the bound; a partition past its share stops reading
    * and refuses, so nothing past the bound reaches the driver. A bound
    * ≤ 0 runs no job. One job. */
  private[graft] def collectWithin[R, P: ClassTag](rows: RDD[R], bound: Long,
      units: R => Long = (_: R) => 1L)(pack: Iterator[R] => P): Option[Array[P]] = {
    if (bound <= 0) return None
    val share = bound / math.max(rows.getNumPartitions, 1)
    val parts = rows.sparkContext.runJob(rows, (it: Iterator[R]) => {
      var used = 0L
      val packed = pack(it.takeWhile { r => used += units(r); used <= share })
      if (used > share) None else Some(packed)
    })
    if (parts.contains(None)) None else Some(parts.map(_.get))
  }

  /** An env-only setting (no system-property twin): `default` when
    * `name` is unset, else its value, which must parse and be ≥ `min`. */
  private[graft] def envLong(name: String, default: Long, min: Long): Long =
    sys.env.get(name).fold(default)(parsedEnvLong(name, _, min))

  /** Pure parse behind [[envLong]]: fails naming the variable. */
  private[graft] def parsedEnvLong(name: String, s: String, min: Long): Long = {
    val src = s"env $name"
    val v = parsedLong(src, s)
    require(v >= min, s"graft: $src = $v must be >= $min")
    v
  }

  private def parsedLong(src: String, s: String): Long =
    scala.util.Try(s.trim.toLong).getOrElse(
      throw new IllegalArgumentException(s"graft: $src = '$s' is not a long"))

  /** Broadcast `df` iff its row count is below [[BroadcastRows]]. Pass
    * `known = Some(n)` when the caller already counted (or holds an upper
    * bound) — the gate then costs nothing. Counting here is one extra job
    * over (usually) an already checkpointed frame, and it is the job that
    * materializes a lazy checkpoint of `df`. */
  def maybeBroadcast(df: DataFrame, known: Option[Long] = None): DataFrame = {
    val n = known.getOrElse(df.count())
    if (n < BroadcastRows) broadcast(df) else df
  }
}
