package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Checkpointer.CheckpointSyntax

/** Leiden community detection (SURVEY.md G5; reference GDS call at
  * project/metrics/community_detection.py:64-69).
  *
  * Same hybrid shape as [[Louvain]] (distributed local-move rounds on the
  * full graph, then contraction and an in-memory finish) — Leiden differs in
  * the **refinement phase** (Traag et al. 2019): before each contraction,
  * every community is re-partitioned from singletons, nodes merging only
  * within their community and only when actually connected to the target
  * subcommunity. This guarantees well-connected communities — the known
  * defect of Louvain that Leiden fixes — and the refined partition is what
  * gets contracted, while the coarse partition seeds the next level.
  */
object Leiden {

  /** @param edges0 canonical (src, dst, weight); content assumed fixed
    *   for the instance's lifetime (see Louvain.symTiered's cache contract)
    * @return (node, label) */
  def run(edges0: DataFrame, distRounds: Int = 2,
      maxLevels: Int = 4): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val gate = graft.util.SizeGate.collectThreshold

    // Small-graph tier (same gate as Louvain/Hdbscan): under the collect
    // threshold the exact sequential Leiden runs directly — the
    // distributed rounds' per-round cost is pure scheduler latency there.
    // Collected artifacts ride Louvain's r10 session cache (q42/q45/q47
    // share one symmetrize+collect per cached projection).
    val tiered = Louvain.symTiered(edges0)
    if (tiered.isRight) {
      val (es, m2) = tiered.toOption.get
      val label = leidenInMemory(es, m2)
      return label.toSeq.toDF("node", "label")
    }
    val (sym0, _, m2in) = tiered.swap.toOption.get

    // Phase 1 (distributed local moves) shared with Louvain
    val phase = Louvain.distributedPhaseSym(sym0, distRounds, m2in)

    // Phase 2: DISTRIBUTED refinement at the full-graph level — the
    // scale-critical part of Leiden's guarantee happens before any
    // contraction (ROADMAP gap 1 closed)
    val ref = refineDistributed(phase, rounds = 2)

    // contract by the REFINED partition (Leiden's rule), then finish in
    // memory on the super-graph; if the refined super-graph is still over
    // the collect threshold, run further DISTRIBUTED Louvain-style
    // coarsening levels first (graceful degradation — never abort)
    val contractedRef = phase.sym
      .join(ref.select(col("node").as("src"), col("ref").as("rsrc")), "src")
      .join(ref.select(col("node").as("dst"), col("ref").as("rdst")), "dst")
      .groupBy(col("rsrc"), col("rdst")).agg(sum("weight").as("weight"))
      .cp()
    val (mapping, contracted, nEdges) = Louvain.coarsenUntilFits(
      ref.select(col("node"), col("ref").as("comm")), contractedRef,
      phase.m2, distRounds, gate, maxLevels)

    val out = (if (nEdges <= gate) {
      val finished = leidenInMemory(contracted.as[(Long, Long, Double)].collect(), phase.m2)
      val labelDf = finished.toSeq.toDF("rl", "label")
      mapping.join(broadcast(labelDf), mapping("comm") === labelDf("rl"))
        .select(col("node"), labelDf("label"))
    } else {
      mapping.select(col("node"), col("comm").as("label"))
    }).cp() // node-sized, lineage-free — lets everything below go
    graft.util.BlockRelease.release(
      Seq(phase.deg, phase.comm, ref, contractedRef, mapping, contracted))
    // incumbent guard (see Louvain.incumbentGuard): the components
    // partition is connected per community, so the Leiden contract holds
    // for the substitute too
    // sym0 is cache-owned (r12, see Louvain.symTiered) — not released here
    Louvain.incumbentGuard(sym0, out, phase.m2)
  }

  /** Distributed Leiden refinement: within each coarse community, nodes
    * that are still SINGLETONS in the refined partition greedily merge
    * into a refined subcommunity of their coarse community they are
    * actually CONNECTED to, when the modularity gain is positive
    * (Traag et al. §A, the move set that guarantees well-connected
    * communities). Same shuffle shape — and the same ONE-eager-action-per-
    * round discipline — as the Louvain local-move phase: group size
    * (singleton test) and group degree total (gain denominator) come out
    * of a single aggregation, and the winning move is folded back onto the
    * full state with parity damping in one localCheckpoint, whose
    * materialized RDD the mover count then scans for free. Every structure
    * node-or-edge-sized. */
  private[graph] def refineDistributed(phase: Louvain.Phase, rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val sym = phase.sym
    val comm = phase.comm
    val deg = phase.deg
    val m2 = phase.m2

    // edges with BOTH endpoints in the same coarse community (only these
    // participate in refinement)
    val intra = sym
      .join(comm.select(col("node").as("src"), col("comm").as("csrc")), "src")
      .join(comm.select(col("node").as("dst"), col("comm").as("cdst")), "dst")
      .filter(col("csrc") === col("cdst"))
      .select(col("src"), col("dst"), col("weight"))
      .cp()

    // comm is already cached, so re-deriving the singleton seed per
    // reference is a projection of cached blocks — no materialization
    var ref = comm.select(col("node"), col("node").as("ref"))
    var prevCkpt: DataFrame = null
    var round = 0
    var moved = 1L
    while (round < rounds && moved > 0) {
      // ROUND-1 FAST PATH (r8 profiling item): with ref = identity, every
      // refined group is a singleton of size 1 and tot(ref) = k(ref), so
      // refAgg/singles/the edge-sized SEMI-JOIN all compute trivialities —
      // rnbr IS dst and w_ur IS the (already-aggregated) edge weight. The
      // first round is the expensive one (every node participates), and
      // this collapses its 6-join shape to intra ⋈ deg ⋈ deg. Rounds > 1
      // run the general shape. Measured at the k=10 scale cell (4.54M
      // edges, BENCH_LOCAL_r8.md §2): 34.4–46.6 → 22.9–26.2 s, identical
      // output (the general-shape round-1 result is reproduced exactly —
      // same gain formula, same tie-break — see LeidenSpec round-1
      // equality).
      val cand = if (round == 0) {
        intra
          .select(col("src").as("node"), col("dst").as("rnbr"), col("weight").as("w_ur"))
          .join(deg, "node")
          .join(deg.select(col("node").as("rnbr"), col("k").as("tot")), "rnbr")
          .filter(col("rnbr") =!= col("node"))
          .withColumn("gain", col("w_ur") - col("k") * col("tot") / lit(m2))
          .filter(col("gain") > 0.0)
      } else {
        val refAgg = ref.join(deg, "node")
          .groupBy(col("ref"))
          .agg(count(lit(1)).as("sz"), sum(col("k")).as("tot"))
        val singles = ref.join(refAgg.select(col("ref"), col("sz")), "ref")
          .filter(col("sz") === 1).select(col("node"))
        intra
          .join(singles.select(col("node").as("src")), "src", "left_semi")
          .join(ref.select(col("node").as("dst"), col("ref").as("rnbr")), "dst")
          .groupBy(col("src").as("node"), col("rnbr"))
          .agg(sum("weight").as("w_ur"))
          .join(deg, "node")
          .join(refAgg.select(col("ref").as("r2"), col("tot")), col("rnbr") === col("r2"))
          .filter(col("rnbr") =!= col("node")) // its own singleton group is no target
          .withColumn("gain", col("w_ur") - col("k") * col("tot") / lit(m2))
          .filter(col("gain") > 0.0) // positive-gain, connected merges only
      }
      val best = cand
        .groupBy(col("node"))
        .agg(max(struct(col("gain"), (lit(0L) - col("rnbr")).as("negr"))).as("b"))
        .select(col("node").as("mn"), (lit(0L) - col("b.negr")).as("target"))
      val parity = pmod(xxhash64(col("r.node")) + lit(round), lit(2)) === 0
      val nextState = ref.as("r")
        .join(best, col("r.node") === col("mn"), "left")
        .select(col("r.node").as("node"),
          when(col("target").isNotNull && parity, col("target"))
            .otherwise(col("r.ref")).as("ref"),
          (col("target").isNotNull && parity).as("mv"))
        .cp()
      moved = nextState.filter(col("mv")).count()
      if (prevCkpt != null) graft.util.BlockRelease.release(prevCkpt)
      prevCkpt = nextState
      ref = nextState.select(col("node"), col("ref"))
      round += 1
    }
    graft.util.BlockRelease.release(intra) // every round's state is checkpointed
    ref
  }

  /** In-memory Leiden over a symmetric weighted edge list (with self-loops
    * from contraction): local move → refine → contract, iterated —
    * delegates to the CSR core in [[SeqCommunity]]. */
  private[graph] def leidenInMemory(symEdges: Array[(Long, Long, Double)],
      m2: Double): Map[Long, Long] =
    SeqCommunity.leiden(symEdges, m2)

  private[graph] def leidenInMemory(symEdges: SymEdges,
      m2: Double): Map[Long, Long] =
    SeqCommunity.leiden(symEdges, m2)
}
