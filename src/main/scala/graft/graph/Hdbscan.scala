package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

import graft.functions.VectorFunctions
import graft.util.BlockPairs
import graft.util.Checkpointer.CheckpointSyntax

/** True HDBSCAN over embedding vectors (SURVEY.md G2; reference GDS call at
  * project/metrics/community_detection.py:49-54) — the real algorithm, not
  * the DBSCAN substitute ([[DensityCluster]] remains as the flat-ε tier):
  *
  *  1. **Core distances**: distance to the minPts-th nearest neighbor —
  *     EXACT at every scale (r10): in-memory brute while its n(n−1)/2
  *     point pairs fit the collect gate
  *     ([[graft.util.SizeGate.collectThreshold]]: n ≤ 2,000 by default; 0
  *     forces the blocked tier), block-pair partitioned passes above it
  *     ([[blockedCores]] — every point pair is evaluated in exactly one
  *     memory-bounded task).
  *  2. **Mutual reachability**: d_mreach(a,b) = max(core_a, core_b, d(a,b)),
  *     never materialized as an edge set — each block-pair task folds it
  *     inside its local dense Prim ([[blockedMstEdges]]), whose ≤ P−1
  *     output edges form an exact MST superset by the cycle property.
  *  3. **MST**: Kruskal over the collected sparsified union when its
  *     edges fit the collect gate, else distributed Borůvka: each
  *     component picks its minimum outgoing edge (deterministic total
  *     order on (w, a, b)), components merge by pointer-doubling over the
  *     chosen-edge functional graph — O(log n) rounds of node-sized
  *     shuffles, never all-pairs — or on the driver once the components
  *     fit the gate.
  *  4. **Hierarchy extraction** on the collected MST (n−1 edges — NODE-
  *     sized, the same collect-threshold discipline as [[Louvain]]):
  *     single-linkage dendrogram via union-find, condensed tree with
  *     `minClusterSize`, Excess-of-Mass cluster selection, noise = −1 —
  *     the hdbscan condensed-tree algorithm (Campello–Moulavi–Sander).
  *     Over the threshold the extraction stays EXACT and keeps EOM
  *     semantics via the pivot-split factorization
  *     ([[extractLabelsDistributed]]): a lexicographic top-K pivot always
  *     exists, and a component too big for one executor recurses into the
  *     same split — no approximate fallback remains at any scale (r11).
  */
object Hdbscan {

  /** @param points (id, v) with v array<double>
    * @param minPts          core-distance neighbor rank (density smoothing)
    * @param minClusterSize  smallest condensed cluster
    * @param taskTarget      ≈ points per block in the exact at-scale tier
    *                        (a task holds two blocks; memory ∝ taskTarget,
    *                        per-task work ∝ taskTarget²)
    * @return (id, label) — label = min member id of the cluster, −1 noise */
  def run(points: DataFrame, minPts: Int = 5, minClusterSize: Int = 5,
      taskTarget: Int = 2048): DataFrame = {
    require(minPts >= 1, s"minPts ($minPts) must be ≥ 1")
    require(taskTarget >= 2, s"taskTarget ($taskTarget) must be ≥ 2")
    // minClusterSize = 1 is degenerate HDBSCAN (every point a cluster, no
    // noise) and the distributed extraction tier would silently drop
    // singleton components (a size-1 'big root' emits no membership rows)
    require(minClusterSize >= 2,
      s"minClusterSize ($minClusterSize) must be ≥ 2")
    val spark = points.sparkSession
    import spark.implicits._

    val n = points.count()
    // Candidate edge tiers: with point pairs in the gate the COMPLETE graph —
    // this makes the small-n tier EXACT HDBSCAN (the MST and hierarchy are
    // the true ones; a kNN-only candidate set loses the inter-cluster
    // bridge edges, which inverts where sparse points fall out of the
    // hierarchy). The whole exact tier runs IN MEMORY (n ≤ 2000 → ≤ 2M
    // pairs): pairwise distances, core distances, mutual reachability and
    // Kruskal are one collect of n vectors plus ~n²·dim flops — the
    // DataFrame formulation of the same O(n²) work was pure scheduler and
    // shuffle overhead at this size. Above the threshold, the block-pair
    // partitioned tier below — still EXACT (every pair charged to exactly
    // one task), just memory-bounded and distributed.
    if (graft.util.SizeGate.pairsFit(n)) {
      val pts = points.select(col("id"), col("v"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      return exactInMemory(pts, minPts, minClusterSize).toSeq.toDF("id", "label")
    }
    // EXACT at-scale tier (r10 — the LSH approximate kNN tier is gone):
    // block-pair partitioned core distances + per-task local-MST
    // sparsification; see the machinery section comment for the proof
    // that the edge union contains the unique global MST.
    val nBlocks = math.max(1, math.ceil(n.toDouble / taskTarget).toInt)
    val core = blockedCores(points.select(col("id"), col("v")), minPts, nBlocks)
      .cp()
    // a point absent from `core` has fewer than minPts neighbors in the
    // whole corpus (only possible when n ≤ minPts) — the 1e30 sentinel
    // sends it to the hierarchy top, where it condenses out as noise
    // (the exactInMemory convention)
    val withCore = points.select(col("id"), col("v"))
      .join(core, Seq("id"), "left")
      .select(col("id"), col("v"), coalesce(col("core"), lit(1e30)).as("core"))
    val mre = blockedMstEdges(withCore, nBlocks).cp()
    graft.util.BlockRelease.release(core)

    // MST tiering (same collect-threshold discipline as Louvain/Leiden):
    // when the SPARSIFIED edge union (≤ n·B rows) fits in memory,
    // sequential Kruskal under the same lexicographic (w, a, b) total
    // order produces the identical unique MST in one collect — the
    // distributed Borůvka rounds (several eager jobs each, O(log n) of
    // them) are reserved for unions that genuinely exceed one executor.
    val nCand = mre.count()
    val gate = graft.util.SizeGate.collectThreshold
    val labels =
      if (nCand <= gate) {
        val edges = kruskalMst(mre.select(col("a"), col("b"), col("w"))
          .as[(Long, Long, Double)].collect())
        val ids = points.select(col("id")).as[Long].collect()
        extractLabels(edges, ids, minClusterSize).toSeq.toDF("id", "label")
      } else {
        runDistributedMst(points, mre, minClusterSize, gate)
      }
    // both branches have materialized everything derived from the
    // sparsified edges — release them instead of leaking per call
    graft.util.BlockRelease.release(mre)

    points.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), lit(-1L)).as("label"))
  }

  /** Distributed Borůvka MST + hierarchy extraction — the at-scale path of
    * [[run]] once the candidate edge set no longer fits in memory. */
  private def runDistributedMst(points: DataFrame, mre: DataFrame,
      minClusterSize: Int, gate: Long): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val mst = boruvkaMst(mre).cp()
    val mstSize = mst.count()

    val out = if (mstSize <= gate) {
        val edges = mst.select(col("a"), col("b"), col("w"))
          .as[(Long, Long, Double)].collect()
        val ids = points.select(col("id")).as[Long].collect()
        val lab = extractLabels(edges, ids, minClusterSize)
        lab.toSeq.toDF("id", "label")
      } else {
        // at-scale tier: EXACT recursive condensed-tree extraction —
        // EOM semantics preserved at every scale (no flat-cut fallback)
        extractLabelsDistributed(mst, points.select(col("id")),
          minClusterSize, topFit = gate)
      }
    graft.util.BlockRelease.release(mst)
    out
  }

  /** Executor-phase emission row for [[extractLabelsDistributed]]:
    * kind 0 = point membership (id, pgid = condensed parent cluster);
    * kind 1 = cluster record (gid, pgid = parent, lam = λ_birth);
    * kind 2 = stability partial (pgid, sls = Σ λ·size, ss = Σ size). */
  private[graft] final case class XRow(kind: Int, id: Long, gid: Long,
      pgid: Long, lam: Double, sls: Double, ss: Long)

  /** Shared single-linkage dendrogram builder: `edges` MUST be pre-sorted
    * by the lexicographic (w, origA, origB) total order; leaves 0..n-1
    * with caller-supplied sizes, internal nodes n.. allocated in merge
    * order. Returns (childL, childR, height, sz, roots, nodeCount). */
  private def dendrogram(n: Int, edges: Array[(Int, Int, Double)],
      leafSz: Int => Long): (Array[Int], Array[Int], Array[Double],
      Array[Long], Seq[Int], Int) = {
    val maxNodes = (2 * n - 1) max 1
    val parent = Array.tabulate(maxNodes)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    val m = edges.length
    val childL = new Array[Int](m max 1)
    val childR = new Array[Int](m max 1)
    val height = new Array[Double](m max 1)
    val sz = new Array[Long](maxNodes)
    var i = 0
    while (i < n) { sz(i) = leafSz(i); i += 1 }
    var next = n
    edges.foreach { case (a, b, w) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val id = next; next += 1
        childL(id - n) = ra; childR(id - n) = rb; height(id - n) = w
        sz(id) = sz(ra) + sz(rb)
        parent(ra) = id; parent(rb) = id
      }
    }
    val roots = (0 until next).filter(i => find(i) == i)
    (childL, childR, height, sz, roots, next)
  }

  /** EXACT distributed condensed-tree extraction — the at-scale tier of
    * [[run]]. EOM semantics at EVERY scale: the r10 "no viable weight
    * pivot" flat-cut degradation is GONE (r11).
    *
    * Exactness rests on the single-linkage factorization: the dendrogram
    * processes MST edges in ascending (w, a, b) order, so splitting the
    * edge set at ANY prefix of that total order — not merely at a weight
    * value — cannot change a single merge; the union-find state after the
    * prefix IS the below-forest's component set. r11 uses the full
    * strength of that statement:
    *
    *  1. **Lexicographic top-K pivot — always viable** (the r10 weight-
    *     quantile search could fail on near-uniform or tied weights): the
    *     K ≈ 0.8·topFit (floored at `minDriverBatch`) largest edges under
    *     (w, a, b) are collected with ONE TakeOrdered job; the smallest of
    *     them is the pivot and `below` is the strict lexicographic prefix.
    *     The driver piece is bounded BY CONSTRUCTION, and weight ties
    *     split exactly — MST edges are distinct (a, b) pairs, so the
    *     order is strictly total.
    *  2. **Top condensed walk** (driver): dendrogram over below-component
    *     super-nodes (≤ K + #input-trees of them; the mutual-reachability
    *     MST is one tree, so ≤ K + 1 in production), virtual-root /
    *     single-root semantics identical to [[extractLabels]]. A component
    *     leaf either SPILLS (all its points leave cluster `cid` at λ —
    *     cluster-level stability, zero per-point driver work) or
    *     CONTINUES (the walk resumes inside the component).
    *  3. **Continuation components**: one with ≤ componentFit edges runs
    *     its sequential condensed walk in an executor ([[condenseComponent]]
    *     via one `mapGroups`; memberships stay distributed). One LARGER
    *     than componentFit — the case that used to degrade to a flat cut —
    *     now RECURSES: the component re-enters the SAME split at its own
    *     lexicographic pivot, its top walk running on the driver resumed
    *     at the entry cluster (a connected component contracts to a
    *     single-rooted super-tree, so the resume is one `descend`). The
    *     factorization composes level by level; every level retires K
    *     edges into a driver walk, so recursion ends in ≤ m/K levels. A
    *     giant near-uniform single component costs driver TIME (one
    *     streamed pass over its edges across levels, O(K + #comps) driver
    *     memory per level) — never memory, and never semantics.
    *  4. **Global EOM** (driver, cluster-tree-sized): stabilities = driver
    *     terms + executor partials; bottom-up Excess-of-Mass selection and
    *     top-down winner absorption exactly as [[extractLabels]]. One
    *     honest caveat on "exact": stabilities are accumulated as
    *     Σλ·size − λ_birth·Σsize here vs per-event (λ−λ_birth)·size in
    *     the sequential walk — algebraically identical, but a different
    *     FP summation order, so a cluster whose stability MATHEMATICALLY
    *     ties its children's sum (symmetric density degeneracy) could
    *     resolve the strict `>` differently by an ulp. Non-degenerate
    *     data (every spec fixture, incl. the randomized forests) is
    *     label-identical.
    *  5. **Labels** (distributed): memberships ∪ per-level spills →
    *     broadcast-join the winner map → min member id per winning
    *     cluster → (id, label).
    */
  private[graft] def extractLabelsDistributed(mst: DataFrame,
      points: DataFrame, minClusterSize: Int,
      topFit: Long, componentFit: Long = 50000000L,
      minDriverBatch: Int = 4096): DataFrame = {
    val spark = mst.sparkSession
    import spark.implicits._
    require(minClusterSize >= 2, // see run(): singleton 'big roots' would vanish
      s"minClusterSize ($minClusterSize) must be ≥ 2")
    require(minDriverBatch >= 1,
      s"minDriverBatch ($minDriverBatch) must be ≥ 1")
    val mcs = minClusterSize

    // global cluster bookkeeping, shared by all levels (condensed-tree-
    // sized: ≤ n/mcs clusters + spills/continuation records)
    val lambdaBirth = mutable.Map[Long, Double]()
    val clusterParent = mutable.Map[Long, Long]()
    val stab = mutable.Map[Long, Double]().withDefaultValue(0.0)
    var nextCluster = 0L
    def newCluster(birth: Double, par: Long): Long = {
      val c = nextCluster; nextCluster += 1
      // executor gids are base | local with base ≥ 1 << 32 — the spaces
      // never collide as long as driver ids stay below bit 32
      require(c < (1L << 32), "driver condensed-cluster id space exhausted")
      lambdaBirth(c) = birth
      if (par >= 0) clusterParent(c) = par
      c
    }
    val virtualRoot = newCluster(0.0, -1L)
    val rootLike = mutable.Set[Long]()
    var nextBase = 0L // executor gid base allocator, global across levels
    val memberParts = mutable.ArrayBuffer[DataFrame]() // (id, pgid) checkpoints
    val retired = mutable.ArrayBuffer[DataFrame]() // level artifacts → released at end

    // a level = one pivot-split pass: the whole MST in root-mode
    // (entry < 0), or one oversized continuation component resumed at
    // its entry cluster
    final case class Lvl(edges: DataFrame, nodes: DataFrame, entry: Long,
        m: Long)
    val queue = mutable.Queue(Lvl(mst.select(col("a"), col("b"), col("w")),
      points.select(col("id").as("node")), -1L, mst.count()))

    while (queue.nonEmpty) {
      val lvl = queue.dequeue()

      // ---- 1. lexicographic top-K split (always viable) ----
      val budget = math.min(
        math.max(minDriverBatch.toLong, (0.8 * topFit).toLong),
        (Int.MaxValue / 2).toLong)
      val K = math.min(lvl.m, budget).toInt
      val aboveRaw = lvl.edges
        .orderBy(col("w").desc, col("a").desc, col("b").desc)
        .limit(K).as[(Long, Long, Double)].collect()
      val below =
        if (K >= lvl.m) lvl.edges.limit(0) // whole level walks on the driver
        else {
          val (pa, pb, pw) = aboveRaw.last // K-th largest = the pivot
          lvl.edges.filter(col("w") < pw || (col("w") === pw &&
            (col("a") < pa || (col("a") === pa && col("b") < pb))))
        }
      val belowCp = below.cp()
      retired += belowCp

      // ---- below-forest components (≤ K + #trees super-nodes) ----
      val cc = GraphAlgos.connectedComponents(
        belowCp.select(col("a").as("src"), col("b").as("dst")))
      val compOf = cc.select(col("node"), col("label").as("comp"))
        .unionByName(lvl.nodes.join(cc, Seq("node"), "left_anti")
          .select(col("node"), col("node").as("comp")))
        .cp()
      graft.util.BlockRelease.release(cc)
      retired += compOf
      val compSizes = compOf.groupBy("comp").agg(count(lit(1)).as("sz"))
        .as[(Long, Long)].collect().sortBy(_._1)
      val compIdx = compSizes.iterator.map(_._1).zipWithIndex.toMap
      val nC = compSizes.length

      // comps of the above endpoints: ≤ 2K driver rows via one semi-join
      // (cheaper than joining the collected edges back through Spark)
      val aboveNodes = aboveRaw.iterator
        .flatMap(e => Iterator(e._1, e._2)).toSet.toSeq
      val compOfAbove = compOf
        .join(broadcast(aboveNodes.toDF("node")), Seq("node"), "left_semi")
        .as[(Long, Long)].collect().toMap
      val topEdges = aboveRaw.sortBy(e => (e._3, e._1, e._2)) // shared (w, a, b) order
        .map(e => (compIdx(compOfAbove(e._1)), compIdx(compOfAbove(e._2)), e._3))
      val (childL, childR, height, sz, roots, _) =
        dendrogram(nC, topEdges, i => compSizes(i)._2)

      def leavesOf(node: Int): List[Int] = {
        var acc = List.empty[Int]
        val stack = mutable.Stack(node)
        while (stack.nonEmpty) {
          val x = stack.pop()
          if (x < nC) acc ::= x
          else { stack.push(childL(x - nC)); stack.push(childR(x - nC)) }
        }
        acc
      }

      // ---- 2. top condensed walk on the component super-graph ----
      val spills = mutable.ArrayBuffer[(Int, Long)]()  // comp leaf → cid
      val continuations = mutable.LinkedHashMap[Int, Long]() // comp leaf → entry cid
      def spill(ci: Int, cid: Long, lam: Double): Unit = {
        stab(cid) += (lam - lambdaBirth(cid)) * compSizes(ci)._2
        spills += ((ci, cid))
      }
      val stack = mutable.Stack[(Int, Long)]()
      def descend(x: Int, cid: Long): Unit =
        if (x >= nC) stack.push((x, cid)) else continuations(x) = cid
      def drainWalk(): Unit = while (stack.nonEmpty) {
        val (node, cid) = stack.pop()
        val l = childL(node - nC); val r = childR(node - nC)
        val lam = if (height(node - nC) > 0.0) 1.0 / height(node - nC) else 1e30
        val bigL = sz(l) >= mcs; val bigR = sz(r) >= mcs
        if (bigL && bigR) {
          val cl = newCluster(lam, cid)
          val cr = newCluster(lam, cid)
          stab(cid) += (lam - lambdaBirth(cid)) * sz(l)
          stab(cid) += (lam - lambdaBirth(cid)) * sz(r)
          descend(l, cl); descend(r, cr)
        } else if (bigL) {
          leavesOf(r).foreach(ci => spill(ci, cid, lam))
          descend(l, cid)
        } else if (bigR) {
          leavesOf(l).foreach(ci => spill(ci, cid, lam))
          descend(r, cid)
        } else {
          (leavesOf(l) ++ leavesOf(r)).foreach(ci => spill(ci, cid, lam))
        }
      }
      if (lvl.entry < 0L) { // root-mode: the true tops of the forest
        val bigRoots = roots.count(r => sz(r) >= mcs)
        roots.foreach { root =>
          if (sz(root) >= mcs) {
            val rootCluster = newCluster(0.0, virtualRoot)
            stab(virtualRoot) += 0.0 // λ = λ_birth(virtualRoot) = 0 — explicit no-op
            if (bigRoots == 1) rootLike += rootCluster
            descend(root, rootCluster)
            drainWalk()
          } else {
            leavesOf(root).foreach(ci => spill(ci, virtualRoot, 0.0))
          }
        }
      } else {
        // resume-mode: this level IS one connected component, so its
        // above-pivot super-graph is a single-rooted tree — the walk
        // re-enters the entry cluster exactly as condenseComponent would
        descend(roots.head, lvl.entry)
        drainWalk()
      }

      // ---- 3. continuation components: executor walk or recursion ----
      if (continuations.nonEmpty) {
        val belowByComp = belowCp
          .join(compOf.select(col("node").as("a"), col("comp")), "a")
          .cp()
        retired += belowByComp
        val ecnt = belowByComp.groupBy("comp").agg(count(lit(1)).as("ec"))
          .as[(Long, Long)].collect().toMap
        val smalls = mutable.LinkedHashMap[Long, Long]() // comp → entry cid
        continuations.foreach { case (ci, cid) =>
          val comp = compSizes(ci)._1
          if (ecnt.getOrElse(comp, 0L) <= componentFit) smalls(comp) = cid
          else queue.enqueue(Lvl( // oversized → recurse (used to flat-cut)
            belowByComp.filter(col("comp") === comp)
              .select(col("a"), col("b"), col("w")),
            compOf.filter(col("comp") === comp).select(col("node")),
            cid, ecnt(comp)))
        }
        if (smalls.nonEmpty) {
          val contBases: Map[Long, (Long, Long)] = smalls.iterator
            .map { case (comp, cid) =>
              nextBase += 1
              comp -> (cid, nextBase << 32)
            }.toMap
          val bcCont = spark.sparkContext.broadcast(contBases)
          val contDf = broadcast(contBases.keys.toSeq.toDF("comp"))
          val xr = belowByComp
            .join(contDf, Seq("comp"), "left_semi")
            .select(col("comp"), col("a"), col("b"), col("w"))
            .as[(Long, Long, Long, Double)]
            .groupByKey(_._1)
            .flatMapGroups { (comp, rows) =>
              val (entryCid, base) = bcCont.value(comp)
              val edges = rows.map(r => (r._2, r._3, r._4)).toArray
              condenseComponent(edges, entryCid, base, mcs)
            }
            .cp()
          bcCont.destroy()
          xr.filter(_.kind == 1).collect().foreach { r =>
            lambdaBirth(r.gid) = r.lam
            clusterParent(r.gid) = r.pgid
          }
          xr.filter(_.kind == 2)
            .groupByKey(_.pgid)
            .mapGroups { (pg, rs) =>
              var sls = 0.0; var ss = 0L
              rs.foreach { r => sls += r.sls; ss += r.ss }
              (pg, sls, ss)
            }.collect().foreach { case (pg, sls, ss) =>
              stab(pg) += sls - lambdaBirth(pg) * ss
            }
          memberParts += xr.filter(_.kind == 0)
            .map(r => (r.id, r.pgid)).toDF("id", "pgid").cp()
          graft.util.BlockRelease.release(xr.toDF())
        }
      }
      // per-level spill memberships, materialized node-sized (every point
      // spills at exactly one level → ≤ n rows total across all levels)
      if (spills.nonEmpty) {
        val spillDf = broadcast(spills.iterator
          .map { case (ci, cid) => (compSizes(ci)._1, cid) }
          .toSeq.toDF("comp", "pgid"))
        memberParts += compOf.join(spillDf, Seq("comp"))
          .select(col("node").as("id"), col("pgid")).cp()
      }
    }

    // ---- 4. global EOM on the assembled cluster tree ----
    val childrenOf = mutable.Map[Long, mutable.ArrayBuffer[Long]]()
    clusterParent.foreach { case (c, p) =>
      childrenOf.getOrElseUpdate(p, mutable.ArrayBuffer[Long]()) += c
    }
    val allClusters = lambdaBirth.keys.toArray
    val depth = mutable.Map[Long, Int]()
    // iterative depth fill (a condensed chain can reach n/minClusterSize
    // deep in pathological hierarchies — recursion would overflow the
    // driver stack): walk up to the nearest node with a known depth, then
    // assign on the way back down the recorded path
    allClusters.foreach { c0 =>
      var path = List.empty[Long]
      var c = c0
      while (!depth.contains(c) && clusterParent.contains(c)) {
        path ::= c
        c = clusterParent(c)
      }
      var d = depth.getOrElse(c, 0)
      if (!depth.contains(c)) depth(c) = d
      path.foreach { x => d += 1; depth(x) = d }
    }
    val isRoot = allClusters.filter(!clusterParent.contains(_)).toSet ++ rootLike
    val selected = mutable.Set[Long]()
    val subtreeStab = mutable.Map[Long, Double]()
    allClusters.sortBy(c => (-depth(c), c)).foreach { c =>
      val kids = childrenOf.getOrElse(c, mutable.ArrayBuffer.empty[Long])
      if (kids.isEmpty) {
        if (!isRoot(c)) selected += c
        subtreeStab(c) = stab(c)
      } else {
        val s = kids.iterator.map(subtreeStab).sum
        if (stab(c) > s && !isRoot(c)) { selected += c; subtreeStab(c) = stab(c) }
        else subtreeStab(c) = s
      }
    }
    val winner = mutable.Map[Long, Long]()
    val wstack = mutable.Stack[(Long, Long)]() // (cluster, winning ancestor or -1)
    isRoot.foreach(r => wstack.push((r, -1L)))
    while (wstack.nonEmpty) {
      val (c, w0) = wstack.pop()
      val w1 = if (w0 >= 0) w0 else if (selected(c)) c else -1L
      if (w1 >= 0) winner(c) = w1
      childrenOf.getOrElse(c, mutable.ArrayBuffer.empty[Long])
        .foreach(k => wstack.push((k, w1)))
    }

    // ---- 5. labels, fully distributed ----
    val winnerDf = broadcast(winner.toSeq.toDF("pgid", "wgid"))
    val members =
      if (memberParts.isEmpty) spark.emptyDataset[(Long, Long)].toDF("id", "pgid")
      else memberParts.reduce(_ unionByName _)
    val assigned = members.join(winnerDf, Seq("pgid"), "left")
    val minIds = broadcast(assigned.filter(col("wgid").isNotNull)
      .groupBy("wgid").agg(min(col("id")).as("clab")))
    val out = assigned.join(minIds, Seq("wgid"), "left")
      .select(col("id"), coalesce(col("clab"), lit(-1L)).as("label"))
      .cp()
    (retired ++ memberParts).foreach(graft.util.BlockRelease.release)
    out
  }

  /** The sequential condensed walk of ONE below-pivot component, resumed
    * at entry cluster `entryCid` (λ_birth lives on the driver; stability
    * partials are emitted relative to λ alone and the driver subtracts
    * λ_birth·Σsize). Cluster ids allocated as `base | local`. */
  private[graft] def condenseComponent(rawEdges: Array[(Long, Long, Double)],
      entryCid: Long, base: Long, mcs: Int): Iterator[XRow] = {
    val ids = rawEdges.iterator.flatMap(e => Iterator(e._1, e._2))
      .toArray.distinct.sorted
    val n = ids.length
    val idx = ids.zipWithIndex.toMap
    val edges = rawEdges
      .sortBy(e => (e._3, e._1, e._2))
      .map(e => (idx(e._1), idx(e._2), e._3))
    val (childL, childR, height, sz, roots, _) = dendrogram(n, edges, _ => 1L)

    def leavesOf(node: Int): List[Int] = {
      var acc = List.empty[Int]
      val stack = mutable.Stack(node)
      while (stack.nonEmpty) {
        val x = stack.pop()
        if (x < n) acc ::= x
        else { stack.push(childL(x - n)); stack.push(childR(x - n)) }
      }
      acc
    }

    val out = mutable.ArrayBuffer[XRow]()
    val stats = mutable.Map[Long, (Double, Long)]() // parent → (Σλ·sz, Σsz)
    def statAdd(pg: Long, lam: Double, s: Long): Unit = {
      val (a, b) = stats.getOrElse(pg, (0.0, 0L))
      stats(pg) = (a + lam * s, b + s)
    }
    var nextLocal = 0L
    def newCluster(birth: Double, par: Long): Long = {
      val c = base | nextLocal; nextLocal += 1
      out += XRow(1, 0L, c, par, birth, 0.0, 0L)
      c
    }
    def pointRow(p: Int, cid: Long, lam: Double): Unit = {
      out += XRow(0, ids(p), 0L, cid, 0.0, 0.0, 0L)
      statAdd(cid, lam, 1L)
    }

    // a component is connected by construction → exactly one dendrogram
    // root; its subtree is already inside `entryCid`
    val stack = mutable.Stack[(Int, Long)]()
    roots.foreach { root =>
      if (root >= n) stack.push((root, entryCid))
      else pointRow(root, entryCid, 1e30) // 1-point component: not reachable
      //          via continuations (size ≥ mcs ≥ 2), defensive only
    }
    while (stack.nonEmpty) {
      val (node, cid) = stack.pop()
      val l = childL(node - n); val r = childR(node - n)
      val lam = if (height(node - n) > 0.0) 1.0 / height(node - n) else 1e30
      val bigL = sz(l) >= mcs; val bigR = sz(r) >= mcs
      def descend(x: Int, c: Long): Unit =
        if (x >= n) stack.push((x, c)) else pointRow(x, c, lam)
      if (bigL && bigR) {
        val cl = newCluster(lam, cid)
        val cr = newCluster(lam, cid)
        statAdd(cid, lam, sz(l)); statAdd(cid, lam, sz(r))
        descend(l, cl); descend(r, cr)
      } else if (bigL) {
        leavesOf(r).foreach(p => pointRow(p, cid, lam))
        descend(l, cid)
      } else if (bigR) {
        leavesOf(l).foreach(p => pointRow(p, cid, lam))
        descend(r, cid)
      } else {
        (leavesOf(l) ++ leavesOf(r)).foreach(p => pointRow(p, cid, lam))
      }
    }
    stats.foreach { case (pg, (sls, ss)) => out += XRow(2, 0L, 0L, pg, 0.0, sls, ss) }
    out.iterator
  }

  /** Sequential Kruskal under the lexicographic (w, a, b) edge order —
    * the same strict total order [[boruvkaMst]] breaks ties with, so both
    * produce the identical unique MST. */
  private[graft] def kruskalMst(
      edges: Array[(Long, Long, Double)]): Array[(Long, Long, Double)] = {
    val uf = new graft.util.UnionFind.Longs
    val out = mutable.ArrayBuffer[(Long, Long, Double)]()
    val order = graft.util.IndirectSort.sorted(edges.length) { (x, y) =>
      val ex = edges(x); val ey = edges(y)
      ex._3 < ey._3 || (ex._3 == ey._3 &&
        (ex._1 < ey._1 || (ex._1 == ey._1 && ex._2 < ey._2)))
    }
    order.foreach { i =>
      val e = edges(i)
      if (uf.union(e._1, e._2)) out += e
    }
    out.toArray
  }

  /** Exact in-memory HDBSCAN for the small-n tier: complete pairwise
    * distances, core distance = minPts-th smallest neighbor distance,
    * mutual reachability folded in place, Kruskal MST under the (w, a, b)
    * total order, condensed-tree labels — identical semantics (and, via
    * the shared strict edge order, the identical MST) to the distributed
    * formulation. `pts` must be sorted by id. */
  private[graft] def exactInMemory(pts: Array[(Long, Array[Double])],
      minPts: Int, minClusterSize: Int): Map[Long, Long] = {
    val n = pts.length
    if (n == 0) return Map.empty
    val ids = pts.map(_._1)
    val vs = pts.map(_._2)
    // the pair arrays and their sort index are Int-indexed, and the
    // sort's merge width reaches twice the pair count
    val pairs = graft.util.SizeGate.pairCount(n)
    if (pairs > Int.MaxValue / 2) throw new IllegalArgumentException(
      s"graft: exact in-memory HDBSCAN over n = $n points needs $pairs " +
        s"pairs, more than the ${Int.MaxValue / 2} its Int-indexed pair " +
        "sort holds; a lower collect gate runs the blocked tier")
    val m = pairs.toInt
    val w = new Array[Double](m) // pair distances, then mreach in place
    val ai = new Array[Int](m)
    val bi = new Array[Int](m)
    val perNode = Array.ofDim[Double](n, n - 1)
    val cnt = new Array[Int](n)
    var p = 0
    var i = 0
    while (i < n) {
      val vi = vs(i)
      var j = i + 1
      while (j < n) {
        val vj = vs(j)
        var s = 0.0
        var d0 = 0
        while (d0 < vi.length) { val t = vi(d0) - vj(d0); s += t * t; d0 += 1 }
        val d = math.sqrt(s)
        w(p) = d; ai(p) = i; bi(p) = j
        perNode(i)(cnt(i)) = d; cnt(i) += 1
        perNode(j)(cnt(j)) = d; cnt(j) += 1
        p += 1
        j += 1
      }
      i += 1
    }
    val core = new Array[Double](n)
    i = 0
    while (i < n) {
      if (n - 1 >= minPts) {
        java.util.Arrays.sort(perNode(i))
        core(i) = perNode(i)(minPts - 1)
      } else core(i) = 1e30 // isolated region → condenses out as noise
      i += 1
    }
    p = 0
    while (p < m) {
      val c = math.max(core(ai(p)), core(bi(p)))
      if (c > w(p)) w(p) = c
      p += 1
    }
    // stable sort by w keeps the (a, b)-ascending enumeration order for
    // ties — exactly the lexicographic (w, a, b) order Borůvka uses
    val order = graft.util.IndirectSort.sorted(m)((x, y) => w(x) < w(y))
    val uf = new graft.util.UnionFind.Ints(n)
    val mstEdges = mutable.ArrayBuffer[(Long, Long, Double)]()
    var o = 0
    while (o < m && mstEdges.length < n - 1) {
      val e = order(o)
      if (uf.union(ai(e), bi(e)))
        mstEdges += ((ids(ai(e)), ids(bi(e)), w(e)))
      o += 1
    }
    extractLabels(mstEdges.toArray, ids, minClusterSize)
  }

  // ---- EXACT at-scale candidate machinery (r10 — replaces the LSH
  // approximate kNN tier, the repo's last non-exact surface) ----
  //
  // BLOCK-PAIR EDGE PARTITIONING ([[graft.util.BlockPairs]] — the shared
  // replicate + pair-charging skeleton, also q102's): every point PAIR
  // co-occurs in EXACTLY ONE task (cross-block pairs in mixed tasks,
  // same-block pairs in the diagonal task). Two passes, both map-side
  // quadratic, per-task memory-BOUNDED — but note (r10 verdict
  // correction) the replicate itself shuffles n·B = n²/taskTarget
  // full-vector rows into each pass's groupByKey, which dominates bytes
  // moved and is quadratic in n for fixed taskTarget; only the passes'
  // OUTPUT shuffles are small:
  //
  //  1. [[blockedCores]] — each task emits each point's minPts smallest
  //     in-task distances; a global per-point window takes the true
  //     minPts-th smallest. Exact: any of a point's global minPts
  //     nearest pairs is, inside its one task, preceded by at most
  //     minPts−1 closer pairs, so it survives the local cut. Output
  //     shuffle ∝ n·B·minPts scalar rows.
  //  2. [[blockedMstEdges]] — each task runs dense Prim (O(P²) time,
  //     O(P) memory, NO edge materialization) over its local
  //     mutual-reachability graph under the global lexicographic
  //     (w, a, b) edge order and emits its ≤ P−1 local-MST edges. By
  //     the strong cycle property under a STRICT total order, an edge
  //     outside its task's MST is the order-maximum of a cycle that
  //     also exists in the full graph — hence outside the unique global
  //     MST. So the union of local MSTs (≤ n·B edges) CONTAINS the
  //     global MST, and Kruskal/Borůvka over that union reproduces it
  //     EXACTLY (classic MST-sparsification, the Karger–Klein–Tarjan
  //     filter step made deterministic by the total order).
  //
  // Θ(n²) distance evaluations in total — the honest cost of exact
  // high-dimensional EMST (there is no sub-quadratic exact algorithm
  // once dim is large enough that space partitioning stops pruning) —
  // but no n²-ROW shuffle ever exists (the replicate is n·B rows), no
  // task exceeds ~(2·taskTarget)² evaluations, and B grows ∝ n so
  // executor memory stays FLAT at 100 TB: this is the same
  // flops-distributed/memory-bounded contract as the q39 brute tier,
  // minus its sampling concession.

  /** Exact core distances (minPts-th nearest over ALL points) via
    * block-pair tasks. Returns (id, core); a point with fewer than
    * minPts neighbors corpus-wide (only possible when n ≤ minPts) is
    * absent — the caller coalesces to the 1e30 sentinel. */
  private[graft] def blockedCores(points: DataFrame, minPts: Int,
      nBlocks: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val rep = BlockPairs.replicate(points.select(col("id"), col("v")),
        "id", "hdb", nBlocks)
      .as[(Long, Int, Long, Array[Double])]
    val cand = rep.groupByKey(_._1).flatMapGroups { (task, it) =>
      val pts = it.toArray
      val diag = BlockPairs.isDiagonal(task, nBlocks)
      val n = pts.length
      // per-point sorted array of the minPts smallest in-task distances
      val keep = Array.fill(n)(Array.fill(minPts)(Double.MaxValue))
      def add(a: Array[Double], d: Double): Unit = if (d < a(minPts - 1)) {
        var i = minPts - 1
        while (i > 0 && a(i - 1) > d) { a(i) = a(i - 1); i -= 1 }
        a(i) = d
      }
      var x = 0
      while (x < n) {
        val bx = pts(x)._2; val vx = pts(x)._4
        var y = x + 1
        while (y < n) {
          if (BlockPairs.charged(diag, bx, pts(y)._2)) {
            val vy = pts(y)._4
            var s = 0.0; var d0 = 0
            while (d0 < vx.length) { val t = vx(d0) - vy(d0); s += t * t; d0 += 1 }
            val d = math.sqrt(s)
            add(keep(x), d); add(keep(y), d)
          }
          y += 1
        }
        x += 1
      }
      pts.indices.iterator.flatMap { i =>
        keep(i).iterator.filter(_ < Double.MaxValue).map(d => (pts(i)._3, d))
      }
    }.toDF("id", "d")
    val w = Window.partitionBy(col("id")).orderBy(col("d").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === minPts)
      .select(col("id"), col("d").as("core"))
  }

  /** Union of per-task local-MST edges over the mutual-reachability
    * graph — a ≤ n·B-edge EXACT superset of the global MST (proof in the
    * section comment above). Input (id, v, core); output (a, b, w) with
    * a < b, each edge derived in exactly one task (no dedup needed). */
  private[graft] def blockedMstEdges(ptsWithCore: DataFrame,
      nBlocks: Int): DataFrame = {
    val spark = ptsWithCore.sparkSession
    import spark.implicits._
    val rep = BlockPairs.replicate(
        ptsWithCore.select(col("id"), col("v"), col("core")),
        "id", "hdb", nBlocks)
      .as[(Long, Int, Long, Array[Double], Double)]
    rep.groupByKey(_._1).flatMapGroups { (task, it) =>
      val pts = it.toArray.sortBy(_._3) // deterministic start point
      val diag = BlockPairs.isDiagonal(task, nBlocks)
      val n = pts.length
      val ids = pts.map(_._3); val vs = pts.map(_._4)
      val cores = pts.map(_._5); val blks = pts.map(_._2)
      // a mixed task can degenerate to one side when a block is empty —
      // its bipartite graph then has no edges
      if (n < 2 || (!diag && blks.distinct.length < 2)) Iterator.empty
      else {
        @inline def mreach(x: Int, y: Int): Double = {
          val vx = vs(x); val vy = vs(y)
          var s = 0.0; var i = 0
          while (i < vx.length) { val t = vx(i) - vy(i); s += t * t; i += 1 }
          math.max(math.sqrt(s), math.max(cores(x), cores(y)))
        }
        @inline def lo(x: Int, y: Int): Long = math.min(ids(x), ids(y))
        @inline def hi(x: Int, y: Int): Long = math.max(ids(x), ids(y))
        // the repo-wide strict (w, a, b) edge order — Prim under it
        // yields the unique local MST, which the sparsification proof
        // requires
        def less(w1: Double, x1: Int, y1: Int,
            w2: Double, x2: Int, y2: Int): Boolean =
          w1 < w2 || (w1 == w2 && (lo(x1, y1) < lo(x2, y2) ||
            (lo(x1, y1) == lo(x2, y2) && hi(x1, y1) < hi(x2, y2))))
        val inTree = new Array[Boolean](n)
        val bw = Array.fill(n)(Double.MaxValue)
        val bf = Array.fill(n)(-1)
        val out = new mutable.ArrayBuffer[(Long, Long, Double)](n - 1)
        var cur = 0
        inTree(cur) = true
        var added = 0
        var disconnected = false
        while (!disconnected && added < n - 1) {
          var i = 0
          while (i < n) {
            // mixed tasks relax CROSS edges only (complete bipartite —
            // connected whenever both sides are non-empty); same-block
            // pairs belong to the diagonal task's subgraph
            if (!inTree(i) && BlockPairs.charged(diag, blks(i), blks(cur))) {
              val d = mreach(cur, i)
              if (bf(i) < 0 || less(d, cur, i, bw(i), bf(i), i)) {
                bw(i) = d; bf(i) = cur
              }
            }
            i += 1
          }
          var pick = -1
          i = 0
          while (i < n) {
            if (!inTree(i) && bf(i) >= 0 &&
                (pick < 0 || less(bw(i), bf(i), i, bw(pick), bf(pick), pick)))
              pick = i
            i += 1
          }
          if (pick < 0) disconnected = true // unreachable for our graphs
          else {
            out += ((lo(bf(pick), pick), hi(bf(pick), pick), bw(pick)))
            inTree(pick) = true
            cur = pick
            added += 1
          }
        }
        out.iterator
      }
    }.toDF("a", "b", "w")
  }

  /** Distributed Borůvka: O(log n) rounds; each round every component
    * adopts its minimum-weight outgoing edge (total order (w, a, b) makes
    * the choice — and the MST under distinct weights — deterministic), and
    * touching components merge via pointer doubling over the chosen-edge
    * functional graph (whose cycles are exactly the mutual-min 2-cycles). */
  private[graft] def boruvkaMst(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val und = edges.select(col("a"), col("b"), col("w")).cp()
    var comp = und.select(col("a").as("node")).union(und.select(col("b")))
      .distinct().select(col("node"), col("node").as("comp"))
      .cp()
    // minE checkpoints feed the LAZY mst union across rounds — they are
    // only releasable after the final mst materializes; everything else is
    // released the round it is superseded
    val minEs = mutable.ArrayBuffer[DataFrame]()
    var mst: DataFrame = null
    var done = false
    while (!done) {
      val e = und
        .join(comp.select(col("node").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("node").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
        .cp()
      if (e.isEmpty) done = true
      else {
        val cand = e.select(col("ca").as("c"),
            struct(col("w"), col("a"), col("b"), col("cb").as("tc")).as("ed"))
          .union(e.select(col("cb").as("c"),
            struct(col("w"), col("a"), col("b"), col("ca").as("tc")).as("ed")))
        val minE = cand.groupBy("c").agg(min(col("ed")).as("ed"))
          .select(col("c"), col("ed.a").as("a"), col("ed.b").as("b"),
            col("ed.w").as("w"), col("ed.tc").as("tc"))
          .cp()
        minEs += minE
        val nComps = minE.count()
        val chosen = minE.select(col("a"), col("b"), col("w")).distinct()
        mst = if (mst == null) chosen else mst.union(chosen)
        // Component merge. The merge graph is COMPONENT-sized and shrinks
        // geometrically per round, so once it fits the collect gate, a
        // driver union-find + broadcast relabel map is one job — the same
        // contracted-finish discipline as Louvain. Above the threshold
        // (first rounds at extreme n) pointer doubling over the chosen-
        // edge functional graph merges distributedly in O(log) hops.
        val relabel: DataFrame =
          if (nComps <= graft.util.SizeGate.collectThreshold) {
            import spark.implicits._
            val pairs = minE.select(col("c"), col("tc")).as[(Long, Long)].collect()
            val uf = new graft.util.UnionFind.Longs
            pairs.foreach { case (c, tc) => uf.union(c, tc) }
            val entries = pairs.flatMap { case (c, tc) => Seq(c, tc) }.distinct
              .map(c => (c, uf.find(c)))
            broadcast(entries.toSeq.toDF("comp", "nc"))
          } else {
            // root mutual-min 2-cycles at the smaller comp id, then
            // pointer-double to the roots (3 lazy hops per materialization)
            val p0 = minE.select(col("c"), col("tc"))
            var p = p0.as("x")
              .join(p0.select(col("c").as("tc"), col("tc").as("ttc")).as("y"), Seq("tc"), "left")
              .select(col("c"),
                when(col("ttc") === col("c") && col("tc") > col("c"), col("c"))
                  .otherwise(col("tc")).as("p"))
              .cp()
            var changed = 1L
            while (changed > 0) {
              var q = p
              for (_ <- 1 to 3)
                q = q.as("x")
                  .join(q.select(col("c").as("p"), col("p").as("gp")).as("y"), Seq("p"), "left")
                  .select(col("c"), coalesce(col("gp"), col("p")).as("p"))
              // each hop's self-join squares the planner's size estimate,
              // and a checkpoint keeps its plan's estimate: checkpointing
              // a fresh frame keeps the estimate from growing eightfold in
              // digits per pass, which stalled planning at 500 points
              val nxt = spark.createDataFrame(q.rdd, q.schema).cp()
              changed = nxt.as("n")
                .join(p.select(col("c"), col("p").as("prev")).as("o"), Seq("c"))
                .filter(col("p") =!= col("prev")).count()
              graft.util.BlockRelease.release(p) // superseded doubling state
              p = nxt
            }
            p.select(col("c").as("comp"), col("p").as("nc"))
          }
        val prevComp = comp
        comp = comp
          .join(relabel, Seq("comp"), "left")
          .select(col("node"), coalesce(col("nc"), col("comp")).as("comp"))
          .cp()
        graft.util.BlockRelease.release(prevComp)
      }
      graft.util.BlockRelease.release(e) // consumed into minE/mst this round
    }
    val result =
      if (mst == null) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], und.schema)
      else mst.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("w")).distinct()
        .cp()
    graft.util.BlockRelease.release(und)
    graft.util.BlockRelease.release(comp)
    minEs.foreach(graft.util.BlockRelease.release)
    result
  }

  /** In-memory hierarchy extraction: single-linkage dendrogram (union-find
    * over MST edges sorted by weight), condensed tree at `minClusterSize`,
    * Excess-of-Mass selection, labels = min member id, noise −1. */
  private[graft] def extractLabels(mstEdges: Array[(Long, Long, Double)],
      pointIds: Array[Long], minClusterSize: Int): Map[Long, Long] = {
    val n = pointIds.length
    if (n == 0) return Map.empty
    val idx = pointIds.zipWithIndex.map { case (id, i) => id -> i }.toMap

    // ---- dendrogram via union-find (internal nodes n .. n+m-1) ----
    val maxNodes = 2 * n - 1 max 1
    val parent = Array.tabulate(maxNodes)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    val childL = new Array[Int](n - 1 max 1)
    val childR = new Array[Int](n - 1 max 1)
    val height = new Array[Double](n - 1 max 1)
    val sz = Array.fill(maxNodes)(1)
    var next = n
    mstEdges.sortBy(e => (e._3, e._1, e._2)).foreach { case (a, b, w) =>
      val ra = find(idx(a)); val rb = find(idx(b))
      if (ra != rb) {
        val id = next; next += 1
        childL(id - n) = ra; childR(id - n) = rb; height(id - n) = w
        sz(id) = sz(ra) + sz(rb)
        parent(ra) = id; parent(rb) = id
      }
    }
    val roots = (0 until next).filter(i => find(i) == i)

    def leavesOf(node: Int): List[Int] = {
      var acc = List.empty[Int]
      val stack = mutable.Stack(node)
      while (stack.nonEmpty) {
        val x = stack.pop()
        if (x < n) acc ::= x
        else { stack.push(childL(x - n)); stack.push(childR(x - n)) }
      }
      acc
    }

    // ---- condensed tree ----
    // rows: (parentCluster, Left(point) | Right(childCluster), λ, size)
    final case class CRow(parent: Int, point: Int, childCluster: Int,
        lambda: Double, size: Int)
    val rows = mutable.ArrayBuffer[CRow]()
    val lambdaBirth = mutable.Map[Int, Double]()
    val clusterParent = mutable.Map[Int, Int]() // condensed child → parent
    var nextCluster = 0
    def newCluster(birth: Double, par: Int): Int = {
      val c = nextCluster; nextCluster += 1
      lambdaBirth(c) = birth
      if (par >= 0) clusterParent(c) = par
      c
    }

    val mcs = minClusterSize
    // The kNN candidate graph can leave the MST a FOREST (true HDBSCAN's
    // complete graph is always connected). Semantically that equals a
    // single tree whose top edge has weight → ∞: a VIRTUAL super-root
    // splits into the components at λ → 0, so each big component becomes a
    // candidate cluster. With exactly one component the virtual root is
    // transparent and its single child takes the true root's role
    // (never selectable — allow_single_cluster=False).
    val virtualRoot = newCluster(0.0, -1)
    val bigRoots = roots.count(r => r >= n && sz(r) >= mcs)
    val rootLike = mutable.Set[Int]()
    roots.foreach { root =>
      if (root >= n && sz(root) >= mcs) {
        val rootCluster = newCluster(0.0, virtualRoot)
        rows += CRow(virtualRoot, -1, rootCluster, 0.0, sz(root))
        if (bigRoots == 1) rootLike += rootCluster
        val stack = mutable.Stack[(Int, Int)]((root, rootCluster))
        while (stack.nonEmpty) {
          val (node, cid) = stack.pop()
          val l = childL(node - n); val r = childR(node - n)
          val lam = if (height(node - n) > 0.0) 1.0 / height(node - n) else 1e30
          val bigL = sz(l) >= mcs; val bigR = sz(r) >= mcs
          if (bigL && bigR) {
            val cl = newCluster(lam, cid)
            val cr = newCluster(lam, cid)
            rows += CRow(cid, -1, cl, lam, sz(l))
            rows += CRow(cid, -1, cr, lam, sz(r))
            stack.push((l, cl)); stack.push((r, cr))
          } else if (bigL) {
            leavesOf(r).foreach(p => rows += CRow(cid, p, -1, lam, 1))
            if (l >= n) stack.push((l, cid))
            else rows += CRow(cid, l, -1, lam, 1) // unreachable: sz(l) ≥ mcs ≥ 2
          } else if (bigR) {
            leavesOf(l).foreach(p => rows += CRow(cid, p, -1, lam, 1))
            if (r >= n) stack.push((r, cid))
            else rows += CRow(cid, r, -1, lam, 1)
          } else {
            (leavesOf(l) ++ leavesOf(r)).foreach(p => rows += CRow(cid, p, -1, lam, 1))
          }
        }
      } else {
        // component smaller than mcs: its points fall out of the virtual
        // root at λ = 0 (zero stability contribution) → noise
        leavesOf(root).foreach(p => rows += CRow(virtualRoot, p, -1, 0.0, 1))
      }
    }

    // ---- stability + Excess-of-Mass selection ----
    val stability = Array.fill(nextCluster)(0.0)
    rows.foreach { r =>
      stability(r.parent) += (r.lambda - lambdaBirth(r.parent)) * r.size
    }
    val childrenOf = (0 until nextCluster)
      .map(c => c -> mutable.ArrayBuffer[Int]()).toMap
    clusterParent.foreach { case (c, p) => childrenOf(p) += c }
    // never-selectable: the virtual root, plus the single component root
    // when the forest is actually one tree (allow_single_cluster=False)
    val isRoot = (0 until nextCluster).filter(!clusterParent.contains(_)).toSet ++ rootLike
    val selected = Array.fill(nextCluster)(false)
    val subtreeStab = Array.fill(nextCluster)(0.0)
    // children have larger ids than parents (allocation order) → reverse id
    // order IS bottom-up
    (nextCluster - 1 to 0 by -1).foreach { c =>
      val kids = childrenOf(c)
      // a childless ROOT is never selected (allow_single_cluster=False —
      // matching the reference library's default semantics)
      if (kids.isEmpty) { selected(c) = !isRoot(c); subtreeStab(c) = stability(c) }
      else {
        val s = kids.map(subtreeStab).sum
        if (stability(c) > s && !isRoot(c)) {
          selected(c) = true; subtreeStab(c) = stability(c)
        } else subtreeStab(c) = s
      }
    }
    // top-down: a selected cluster absorbs its whole condensed subtree
    val winner = Array.fill(nextCluster)(-1)
    def markSubtree(c: Int, w: Int): Unit = {
      winner(c) = w
      childrenOf(c).foreach(markSubtree(_, w))
    }
    def walk(c: Int): Unit =
      if (selected(c)) markSubtree(c, c)
      else childrenOf(c).foreach(walk)
    isRoot.foreach(walk)

    // ---- labels: min member point id per winning cluster ----
    val memberOf = mutable.Map[Int, Int]() // point idx → winning cluster
    rows.foreach { r =>
      if (r.point >= 0 && winner(r.parent) >= 0)
        memberOf(r.point) = winner(r.parent)
    }
    val minId = mutable.Map[Int, Long]()
    memberOf.foreach { case (p, c) =>
      val id = pointIds(p)
      minId(c) = math.min(minId.getOrElse(c, Long.MaxValue), id)
    }
    pointIds.zipWithIndex.map { case (id, i) =>
      id -> memberOf.get(i).map(minId).getOrElse(-1L)
    }.toMap
  }
}
