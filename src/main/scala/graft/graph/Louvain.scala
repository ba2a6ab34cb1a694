package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import graft.metrics.CommunityMetrics
import graft.util.Checkpointer.CheckpointSyntax

/** Distributed Louvain community detection (SURVEY.md G6; reference GDS
  * call at project/metrics/community_detection.py:71-76).
  *
  * Hybrid architecture — the formulation that is actually right at 100 TB:
  *
  *  1. **Distributed local-move rounds** on the full edge set (DataFrame
  *     joins + aggregations, shuffle on node/community keys). Each round,
  *     every node evaluates ΔQ of adopting a neighboring community
  *     (gain(u→c) ∝ w(u,c) − k_u·tot(c\u)/2m, deterministic tie-break on
  *     smallest id), and one hash-parity half of the nodes moves — the
  *     standard damping that prevents two-coloring oscillation of fully
  *     synchronous moves. This is the phase that must scale, and it is pure
  *     shuffle-bound DataFrame work with localCheckpoint'ed state.
  *
  *  2. **Contraction + in-memory finish.** After the distributed rounds the
  *     graph is contracted (communities → super-nodes). Louvain coarsening
  *     shrinks graphs by orders of magnitude per level — the super-graph of
  *     even a planetary social graph fits on one executor — so the remaining
  *     levels run the classic sequential algorithm on the collected
  *     super-graph (capped by the collect gate,
  *     [[graft.util.SizeGate.collectThreshold]], 2M edges by default;
  *     above it, another distributed round runs first). Same hybrid
  *     Spark's own GraphFrames ecosystem implementations use.
  */
object Louvain {

  /** Everything the distributed phase computed — shared by Louvain,
    * modularity-optimization and Leiden (which additionally refines). */
  private[graph] case class Phase(
      comm: DataFrame,       // (node, comm) after local moves
      sym: DataFrame,        // symmetric (src, dst, weight) of the input graph
      deg: DataFrame,        // (node, k) weighted degrees
      contracted: DataFrame, // (csrc, cdst, weight) contraction by comm
      m2: Double)            // 2m

  /** Distributed local-move rounds over an ALREADY-SYMMETRIC edge set that
    * may carry self-loops (a contracted super-graph: the (c,c) row holds 2×
    * the internal weight, so plain degree sums stay correct). Self-loops are
    * excluded from neighbor-community weights — a node's own internal weight
    * must not bias its move gain. This is what lets coarsening recurse
    * distributedly when a super-graph is still too big to collect. */
  private[graph] def distributedPhaseSym(sym: DataFrame, distRounds: Int,
      m2: Double): Phase = {
    val deg = sym.groupBy(col("src").as("node")).agg(sum("weight").as("k"))
      .cp()
    val symNoSelf = sym.filter(col("src") =!= col("dst"))

    // ---- phase 1: distributed local-move rounds on the full graph ----
    // comm is node-count-sized and cached (not checkpointed) so Catalyst
    // keeps size stats and broadcast-joins it into the edge-sized nbrComm
    // join whenever it fits — shuffle only when it genuinely doesn't.
    var comm = deg.select(col("node"), col("node").as("comm")).cache()
    var round = 0
    var moved = 1L
    while (round < distRounds && moved > 0) {
      val commTot = comm.join(deg, "node")
        .groupBy(col("comm")).agg(sum(col("k")).as("tot"))
      val nbrComm = symNoSelf
        .join(comm.select(col("node").as("dst"), col("comm").as("cnbr")), "dst")
        .groupBy(col("src").as("node"), col("cnbr"))
        .agg(sum("weight").as("w_uc"))
      val cand = nbrComm
        .join(comm, "node")
        .join(deg, "node")
        .join(commTot.select(col("comm").as("cnbr2"), col("tot")),
          col("cnbr") === col("cnbr2"))
        .withColumn("tot_excl",
          when(col("cnbr") === col("comm"), col("tot") - col("k")).otherwise(col("tot")))
        .withColumn("gain", col("w_uc") - col("k") * col("tot_excl") / lit(m2))
        .select(col("node"), col("cnbr"), col("comm"), col("gain"))
      val own = comm.join(deg, "node")
        .join(commTot.select(col("comm").as("c2"), col("tot")), col("comm") === col("c2"))
        .select(col("node"), col("comm").as("cnbr"), col("comm"),
          (lit(0.0) - col("k") * (col("tot") - col("k")) / lit(m2)).as("gain"))
      val best = cand.union(own)
        .groupBy(col("node"), col("comm"))
        .agg(max(struct(col("gain"), (lit(0L) - col("cnbr")).as("negc"))).as("b"))
        .select(col("node"), col("comm"), (lit(0L) - col("b.negc")).as("target"))
      // `own` gives every node a row, so `best` IS the full next state —
      // fold the hash-parity damping in directly instead of building a
      // moves table and left-joining it back. ONE eager action per round
      // (the localCheckpoint), which also TRUNCATES the logical plan:
      // `best` references comm four times, so chaining rounds without
      // truncation grows the plan ~5× per round and Catalyst planning
      // time, not execution, dominates (measured: 6 s → 102 s at
      // sf0.1 when this checkpoint was briefly a cache() instead).
      val nextState = best
        .withColumn("mv", col("target") =!= col("comm") &&
          pmod(xxhash64(col("node")) + lit(round), lit(2)) === 0)
        .select(col("node"),
          when(col("mv"), col("target")).otherwise(col("comm")).as("comm"),
          col("mv"))
        .cp()
      moved = nextState.filter(col("mv")).count() // partition-count sum on
      //                                             the materialized RDD
      val prev = comm
      if (moved > 0) {
        comm = nextState.select(col("node"), col("comm"))
        // round-1 comm is the deg-backed cache (plain unpersist); later
        // rounds are superseded checkpoints whose blocks must go too
        if (round == 0) prev.unpersist(blocking = false)
        else graft.util.BlockRelease.release(prev)
      } else {
        // converged: the terminal round's checkpoint was materialized but
        // never becomes comm — release it or every converging phase
        // strands one node-sized checkpoint
        graft.util.BlockRelease.release(nextState)
      }
      round += 1
    }

    // ---- contract to the super-graph ----
    // LAZY checkpoint: Louvain's coarsening counts (and thereby
    // materializes) it immediately, but Leiden contracts by the REFINED
    // partition and modularity-optimization returns the labels as-is —
    // for those callers an eager contraction is a wasted full-edge shuffle
    val contracted = sym
      .join(comm.select(col("node").as("src"), col("comm").as("csrc")), "src")
      .join(comm.select(col("node").as("dst"), col("comm").as("cdst")), "dst")
      .groupBy(col("csrc"), col("cdst"))
      .agg(sum("weight").as("weight"))
      .cp(false)

    Phase(comm, sym, deg, contracted, m2)
  }

  /** Additional distributed coarsening levels until the super-graph fits
    * under `collectThreshold` directed edges (or until no level shrinks it
    * further, or `maxLevels` spent). Composes the node→community mapping
    * through every level. Returns (composed mapping, final contracted
    * graph, its directed edge count). Never aborts: a super-graph that
    * stays over threshold after convergence simply skips the in-memory
    * finish — graceful quality degradation instead of a crashed job. */
  private[graph] def coarsenUntilFits(mapping0: DataFrame,
      contracted0: DataFrame, m2: Double, distRounds: Int,
      collectThreshold: Long, maxLevels: Int): (DataFrame, DataFrame, Long) = {
    var mapping = mapping0
    var contracted = contracted0.toDF("csrc", "cdst", "weight")
    var nEdges = contracted.count()
    var level = 0
    var progress = true
    while (nEdges > collectThreshold && level < maxLevels && progress) {
      val next = distributedPhaseSym(
        contracted.select(col("csrc").as("src"), col("cdst").as("dst"), col("weight")),
        distRounds, m2)
      val prevMapping = mapping
      mapping = mapping
        .join(next.comm.select(col("node").as("c0"), col("comm").as("cnext")),
          mapping("comm") === col("c0"))
        .select(mapping("node"), col("cnext").as("comm"))
        .cp()
      val newEdges = next.contracted.count() // materializes the lazy ckpt
      progress = newEdges < nEdges
      nEdges = newEdges
      // each level's inputs are superseded once the composed mapping and
      // the next contraction are BOTH materialized — release them instead
      // of stacking a graph per level (ordering matters: releasing
      // next.comm's blocks before the contraction job would destroy its
      // truncated-lineage input)
      if (!(prevMapping eq mapping0))
        graft.util.BlockRelease.release(prevMapping)
      graft.util.BlockRelease.release(next.comm)
      graft.util.BlockRelease.release(next.deg)
      graft.util.BlockRelease.release(contracted)
      contracted = next.contracted
      level += 1
    }
    (mapping, contracted, nEdges)
  }

  /** Incumbent guard for the pure-distributed tiers: bounded-round
    * synchronous local moving (hash-parity damping, fixed `distRounds`)
    * can leave a TORN mid-flight partition on dense graphs — measured
    * Q < 0 on the near-complete sf0.01 co-engagement graph when the
    * in-memory finish is gated off (the collect gate below the
    * super-graph size, exactly the degrade path a 100 TB dense graph
    * takes). An optimizer must never return a partition worse than a
    * trivial incumbent it could always have emitted; the canonical one is
    * one community per CONNECTED COMPONENT — Q = 1 − Σ s_c² ≥ 0, and
    * every community is connected, so Leiden's contract survives the
    * substitution. The CC run is only paid on the rare torn path; the
    * healthy path prices its result with one distributed
    * [[CommunityMetrics.modularity]] over `sym` (the same Q as over the
    * canonical edges: every edge appears in both orientations; `sym` is
    * past the collect gate on every caller's path, so the metric's collect
    * tier would only refuse). `m2` is read only to skip an empty graph. */
  private[graph] def incumbentGuard(sym: DataFrame, labels: DataFrame,
      m2: Double): DataFrame = {
    if (m2 <= 0.0 ||
        CommunityMetrics.distributedModularity(sym, labels).head().getDouble(0) >= 0.0)
      return labels
    val comp = GraphAlgos.connectedComponents(
        sym.select(col("src"), col("dst"), col("weight")))
      .select(col("node"), col("label"))
      .cp()
    graft.util.BlockRelease.release(labels) // superseded checkpoint
    comp
  }

  /** Symmetric deduped edge set + its directed edge count + 2m — the
    * shared tier gate: a graph under the collect gate's directed edges
    * (≤ ~50 MB of (long,long,double) rows) fits comfortably on one
    * executor, so the exact sequential algorithm runs directly and the
    * distributed machinery — whose per-round cost is fixed scheduler
    * latency at that size — is reserved for graphs that actually need it.
    * Identical tiering to the super-graph finish and to Hdbscan's
    * collect-threshold; the distributed path stays spec-covered via the
    * low-threshold graceful-degradation test. */
  private[graft] def symWithStats(edges0: DataFrame): (DataFrame, Long, Double) = {
    val sym = Projection.symmetrize(edges0)
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
      .cp()
    val nEdges = sym.count()
    // sum over an EMPTY edge set is NULL — an empty graph is a legal
    // input (m2 only divides gains, and with no nodes none are computed)
    val m2 = sym.agg(coalesce(sum("weight"), lit(0.0))).first().getDouble(0)
    (sym, nEdges, m2)
  }

  /** Collect-tier artifact cache (r10): (collected symmetrized edges,
    * m2) per (session, input DataFrame INSTANCE). q42/q45/q47 all
    * collect the SAME symmetrized graph from the session-cached
    * projection — per-query [[symWithStats]] (symmetrize shuffle +
    * checkpoint + two actions) measured ~1 s × 3 queries × runs at
    * sf0.1. Instance identity is the right key: the projection cache
    * hands every caller one DataFrame object per (session, dir), and a
    * cached-and-materialized projection instance cannot change content
    * under Spark's own cache semantics — a fresh frame (specs, ad-hoc
    * edges) simply misses. Values are primitive parallel arrays
    * ([[SymEdges]], r11 — boxed tuples pinned ~2.3× the driver bytes),
    * LRU-bounded, and [[invalidateCollected]] drops an entry the moment
    * its projection is dropped or evicted (r11, ADVICE: a drop-and-
    * rebuild re-ingest must not serve stale edges, and a dead
    * projection's edge array must not wait for LRU pressure to free
    * ~50 MB of driver heap). */
  private val collectedSym = new graft.util.BoundedSessionCache[
      (org.apache.spark.sql.SparkSession, DataFrame),
      (SymEdges, Double)](maxEntries = 4, _ => ())

  /** Distributed-tier artifact cache (r12): the CHECKPOINTED symmetric
    * edge frame + (count, m2) per (session, input instance) — the
    * distributed twin of [[collectedSym]]. Every sym-consuming algorithm
    * (Louvain/Leiden/modularity/k-core/LPA/FastRP — q15/q40/q41/q42/q44/
    * q45/q47) re-paid the symmetrize shuffle + checkpoint + count/m2
    * actions on the SAME session-cached projection (~1.1 s at sf0.1; a
    * full edge shuffle per query at 100 TB). Entries are EXECUTOR-
    * resident checkpoint blocks, never driver arrays — this caches the
    * at-scale formulation's input, not a driver tier, so a forced-
    * distributed run (threshold 0) uses it too, exactly as it reuses the
    * session projection cache. Same instance-identity contract as
    * [[collectedSym]] (see [[symTiered]]); same invalidation cascade.
    * Ownership: the CACHE owns the blocks — tier-gate consumers must
    * not release the Left sym (eviction and invalidation do). */
  private val checkpointedSym = new graft.util.BoundedSessionCache[
      (org.apache.spark.sql.SparkSession, DataFrame),
      (DataFrame, Long, Double)](maxEntries = 2,
    { case (sym, _, _) => graft.util.BlockRelease.release(sym) })

  /** Invalidation hook, called by [[Projection]]'s cache whenever a
    * projection DataFrame is dropped or LRU-evicted: the collected edge
    * array AND the checkpointed sym derived from that instance die with
    * it (the latter's blocks are released by the cache). */
  private[graft] def invalidateCollected(df: DataFrame): Unit = {
    collectedSym.remove((df.sparkSession, df))
    checkpointedSym.remove((df.sparkSession, df))
  }

  /** Spec observability only. */
  private[graft] def collectedSymEntries: Int = collectedSym.size
  private[graft] def checkpointedSymEntries: Int = checkpointedSym.size

  /** Tier dispatch: Right = collect-tier artifacts (cached; NOT owned by
    * the caller), Left = distributed-tier inputs (sym checkpointed and
    * CACHE-owned since r12 — callers must not release it; before r12
    * ownership passed to the caller, and each of the seven sym-consuming
    * entry points re-symmetrized per call). A forced-distributed run
    * (gate 0) never consults the COLLECT cache — the checkpointed-
    * sym cache still serves it, because reusing an executor-resident
    * shuffle product changes cost, not formulation.
    *
    * CACHE CONTRACT (r12, the r11 verdict's latent-API hazard made
    * explicit): collect-tier caching keys on the edge DataFrame
    * INSTANCE and assumes its CONTENT is fixed for the instance's
    * lifetime — true for every engine path (Projection hands out one
    * cached+materialized frame per (session, dir) and cascades
    * [[invalidateCollected]] on drop/evict) and for any immutable input.
    * A caller that re-passes the SAME frame instance after rewriting its
    * underlying files may be served the previously collected edges —
    * identical to Spark's own `.cache()` semantics for that frame, and
    * pinned by BucketingSpec. Re-reading rewritten files = make a new
    * frame (`spark.read...` again) or route through Projection's
    * drop-and-rebuild, both of which miss this cache by construction. */
  private[graft] def symTiered(edges0: DataFrame)
      : Either[(DataFrame, Long, Double), (SymEdges, Double)] = {
    val key = (edges0.sparkSession, edges0)
    val gate = graft.util.SizeGate.collectThreshold
    if (gate > 0) {
      collectedSym.peek(key) match {
        case Some((es, m2)) if es.length <= gate =>
          return Right((es, m2))
        case _ => ()
      }
    }
    val cached = checkpointedSym.peek(key)
    val (sym, nSymEdges, m2) = cached.getOrElse(symWithStats(edges0))
    if (nSymEdges <= gate) {
      val spark = edges0.sparkSession
      import spark.implicits._
      val es = SymEdges.fromTuples(sym.as[(Long, Long, Double)].collect())
      // edge-sized; don't leak per call — unless the checkpointed-sym
      // cache owns these blocks (a prior over-threshold call cached them)
      if (cached.isEmpty) graft.util.BlockRelease.release(sym)
      collectedSym.getOrElseUpdate(key, (es, m2))
      Right((es, m2))
    } else {
      if (cached.isEmpty)
        checkpointedSym.getOrElseUpdate(key, (sym, nSymEdges, m2))
      Left((sym, nSymEdges, m2))
    }
  }

  /** @param edges0 canonical (src, dst, weight); content assumed fixed
    *   for the instance's lifetime (see [[symTiered]]'s cache contract)
    * @return (node, label) */
  def run(edges0: DataFrame, distRounds: Int = 4,
      maxLevels: Int = 4): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val gate = graft.util.SizeGate.collectThreshold
    val tiered = symTiered(edges0)
    if (tiered.isRight) {
      // small-graph tier: exact sequential Louvain on the collected graph
      val (es, m2in) = tiered.toOption.get
      val label = localLouvain(es, m2in)
      return label.toSeq.toDF("node", "label")
    }
    val (sym, _, m2in) = tiered.swap.toOption.get
    val ph = distributedPhaseSym(sym, distRounds, m2in)
    val (mapping, contracted, nEdges) =
      coarsenUntilFits(ph.comm, ph.contracted, ph.m2, distRounds,
        gate, maxLevels)

    val out = (if (nEdges <= gate) {
      // ---- phase 2: classic sequential Louvain on the collected super-graph ----
      val superEdges = contracted.as[(Long, Long, Double)].collect()
      val superLabel = localLouvain(superEdges, ph.m2)
      val labelDf = superLabel.toSeq.toDF("comm", "final_label")
      mapping.join(broadcast(labelDf), "comm")
        .select(col("node"), col("final_label").as("label"))
    } else {
      // converged but still over threshold: the distributed labels ARE the
      // answer at this point — further in-memory refinement is impossible
      // without violating the memory bound, so degrade, don't die
      mapping.select(col("node"), col("comm").as("label"))
    }).cp() // node-sized, lineage-free — lets everything below go
    graft.util.BlockRelease.release(Seq(ph.deg, ph.comm, mapping, contracted))
    // sym is cache-owned (r12, see symTiered) — not released here
    incumbentGuard(sym, out, ph.m2)
  }

  /** Modularity optimization à la GDS (SURVEY.md G7; reference call at
    * project/metrics/community_detection.py:78-83): local moving WITHOUT
    * coarsening. Small-graph tier runs the exact sequential move passes;
    * above threshold it is exactly the distributed phase, labels as-is. */
  def modularityOptimization(edges0: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val tiered = symTiered(edges0)
    if (tiered.isRight) {
      val (es, m2) = tiered.toOption.get
      SeqCommunity.localMoveOnly(es, m2).toSeq.toDF("node", "label")
    } else {
      val (sym, _, m2) = tiered.swap.toOption.get
      val ph = distributedPhaseSym(sym, rounds, m2)
      val out = ph.comm.select(col("node"), col("comm").as("label"))
        .cp()
      graft.util.BlockRelease.release(Seq(ph.deg, ph.comm))
      // sym is cache-owned (r12, see symTiered) — not released here
      incumbentGuard(sym, out, m2)
    }
  }

  /** Classic sequential Louvain over an in-memory symmetric weighted edge
    * list — delegates to the CSR core in [[SeqCommunity]]. Deterministic:
    * nodes visited in ascending id, ties to the smallest representative.
    * Self-loops (csrc==cdst) carry intra-community weight from
    * contraction. */
  private[graph] def localLouvain(symEdges: Array[(Long, Long, Double)],
      m2: Double): Map[Long, Long] =
    SeqCommunity.louvain(symEdges, m2)

  private[graph] def localLouvain(symEdges: SymEdges,
      m2: Double): Map[Long, Long] =
    SeqCommunity.louvain(symEdges, m2)
}
