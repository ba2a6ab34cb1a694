package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Shared size gate for explicit `broadcast()` hints (r9 VERDICT item 5:
  * "route corpus-shaped sides through one shared maybeBroadcast util").
  *
  * An unconditional `broadcast()` hint is a 100 TB hazard whenever the
  * hinted side is not bounded BY CONSTRUCTION (a d×w sketch grid, a k-row
  * codebook, a fixed-count md5 sample are bounded; "all doc vectors" is
  * not). This helper makes the decision explicit and cheap: the caller
  * supplies a row-count bound and an ALREADY-KNOWN count when one is
  * lying around (most call sites just counted the frame for another
  * reason), or lets the gate count once. Below the bound the frame
  * broadcasts — map-side join, zero shuffle on the big side; at or above
  * it the frame is returned un-hinted and AQE/the planner picks the
  * shuffle join that actually fits. Same tiering discipline as
  * `PageRank.run`'s node-tier `maybeB` and the graph algos'
  * `collectThreshold` — identical results either way, only the exchange
  * strategy changes.
  */
object SizeGate {

  /** Default bound: generous for a 128 GiB driver, far below "corpus".
    * Tunable (r15): `graft.sizegate.rows` system property, then
    * SPARK_GRAFT_SIZEGATE_ROWS — size it to the executors' broadcast
    * budget on a real cluster (SCALE_CELLS_r15.txt's hot-group cell ran
    * at `graft.sizegate.rows=1000` to force the shuffle-join branch). */
  def DefaultRows: Long =
    parsedPositiveLong("graft.sizegate.rows", "SPARK_GRAFT_SIZEGATE_ROWS",
      2000000L)

  /** Knob parsing shared by the row-bound tunables (r15 ADVICE): a bare
    * `.toLong` threw NumberFormatException from deep inside a plan build
    * with no hint which knob was malformed, and values ≤ 0 silently
    * degenerated (a zero hot-key bound marks EVERY key hot). Fails with
    * the property/env name in the message; requires positive. */
  private[graft] def parsedPositiveLong(prop: String, env: String,
      default: Long): Long = {
    val raw = sys.props.get(prop).map((s"system property $prop", _))
      .orElse(sys.env.get(env).map((s"env $env", _)))
    raw.fold(default) { case (src, s) =>
      val v = parsedLong(src, s)
      require(v > 0, s"graft: $src = $v must be positive")
      v
    }
  }

  /** The graph/dedup collect-tier gate: `SPARK_GRAFT_COLLECT_THRESHOLD`
    * (a deployment setting; the forced-distributed oracle leg sets it to
    * 0, which puts every gated algorithm on its distributed tier) or
    * `default` when unset. */
  private[graft] def collectThreshold(default: Long): Long =
    envLong("SPARK_GRAFT_COLLECT_THRESHOLD", default, min = 0L)

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

  /** Broadcast `df` iff its row count is below `bound`. Pass `known =
    * Some(n)` when the caller already counted — the gate then costs
    * nothing. Counting here is one extra job over (usually) an already
    * checkpointed frame; callers on a hot path should prefer `known`. */
  def maybeBroadcast(df: DataFrame, bound: Long = -1L,
      known: Option[Long] = None): DataFrame = {
    val b = if (bound < 0) DefaultRows else bound
    val n = known.getOrElse(df.count())
    if (n < b) broadcast(df) else df
  }
}
