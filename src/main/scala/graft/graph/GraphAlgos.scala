package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.graphx.lib.{ConnectedComponents => CCLib}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Checkpointer.CheckpointSyntax

/** Label propagation (SURVEY.md G4) and connected components (GraphX
  * above the collect gate, [[graft.util.SizeGate.collectThreshold]]).
  * Canonical-edge DataFrames in, (node, label) DataFrames out. */
object GraphAlgos {

  /** Partition count proportional to edge volume (~50k edges/partition,
    * capped by cluster parallelism): iterative GraphX jobs pay per-partition
    * scheduling overhead every superstep, so a small graph on 32 partitions
    * is pure waste, while message-heavy supersteps (LPA label maps) still
    * need real parallelism once edges reach the hundreds of thousands. */
  private[graph] def sizedPartitions(edges: DataFrame, nEdges: Long): Int = {
    val par = edges.sparkSession.sparkContext.defaultParallelism
    math.max(2, math.min(par, (nEdges / 50000L).toInt + 1))
  }

  /** Returns the graph AND the cached edge DataFrame backing it — the
    * caller releases the cache once the (internally materializing)
    * GraphX run has finished, so repeated calls don't stack a cached
    * edge set per invocation. */
  private def toGraph(edges: DataFrame): (Graph[Int, Int], DataFrame) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cached = edges.select(col("src").cast("long"), col("dst").cast("long")).cache()
    val p = sizedPartitions(cached, cached.count())
    val edgeRdd = cached.as[(Long, Long)].rdd
      .coalesce(p).map { case (s, d) => Edge(s, d, 1) }
    (Graph.fromEdges(edgeRdd, defaultValue = 0), cached)
  }

  /** Synchronous label propagation (reference GDS call at
    * project/metrics/community_detection.py:60-62) as pure DataFrame
    * iteration: every node adopts its neighborhood's most frequent label
    * each step, with a deterministic smallest-label tie-break. Each
    * superstep is two shuffles of (node, label) pairs with map-side
    * combine instead of Pregel's per-vertex Map[label,count] messages —
    * dense graphs propagate an order of magnitude cheaper, and the same
    * plan scales out. Edge content is assumed fixed for the instance's
    * lifetime (see Louvain.symTiered's cache contract). */
  def labelPropagationDF(edges: DataFrame, maxSteps: Int = 5): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Small-graph tier (same gate as the Louvain family): the synchronous
    // update is deterministic integer arithmetic, so the sequential run
    // returns bit-identical labels to the DataFrame supersteps. The
    // collected array rides Louvain's r10 session cache — LPA is
    // weight-agnostic (lpaInMemory counts adjacency), so the shared
    // weighted array serves unchanged.
    val tiered = Louvain.symTiered(edges)
    if (tiered.isRight) {
      val csr = SeqCommunity.build(tiered.toOption.get._1)
      return lpaInMemory(csr, maxSteps).toSeq.toDF("node", "label")
    }
    // at-scale: the superstep loop reads the checkpointed weighted sym
    // lazily (weights projected away); released at the end as before
    val sym = tiered.swap.toOption.get._1.select(col("src"), col("dst"))
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    var prevCkpt: DataFrame = null
    for (step <- 1 to maxSteps) {
      val counts = sym
        .join(labels.select(col("node").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src"), col("nl"))
        .agg(count(lit(1)).as("cnt"))
      labels = counts
        .groupBy(col("src").as("node"))
        .agg(max(struct(col("cnt"), (lit(0L) - col("nl")).as("negl"))).as("b"))
        .select(col("node"), (lit(0L) - col("b.negl")).as("label"))
      // supersteps chain LAZILY into one DAG (AQE re-plans each shuffle
      // stage from runtime stats); materialize every 3rd step only to
      // bound lineage/codegen depth — per-step eager actions were 5
      // scheduler round-trips of pure fixed overhead on a node-sized DF
      if (step % 3 == 0 && step < maxSteps) {
        labels = labels.cp()
        if (prevCkpt != null) graft.util.BlockRelease.release(prevCkpt)
        prevCkpt = labels
      }
    }
    val out = labels.cp() // lineage-free node-sized result
    // superseded intermediates are no longer reachable from `out` —
    // release their blocks instead of letting repeated calls accumulate
    // them. The sym checkpoint itself is cache-owned (r12, see
    // Louvain.symTiered) — releasing the derived `sym` frame here would
    // cascade into the cached blocks through its plan leaves.
    if (prevCkpt != null) graft.util.BlockRelease.release(prevCkpt)
    out
  }

  /** Synchronous LPA over CSR arrays — the small-graph twin of the
    * DataFrame supersteps (same most-frequent-neighbor update, same
    * smallest-label tie-break, same fixed step count → identical labels). */
  private def lpaInMemory(csr: SeqCommunity.Csr, maxSteps: Int): Seq[(Long, Long)] = {
    val n = csr.n
    var lab = Array.tabulate(n)(identity)
    val cnt = new Array[Int](n)
    val touched = new Array[Int](n)
    var step = 0
    while (step < maxSteps) {
      val next = new Array[Int](n)
      var u = 0
      while (u < n) {
        var nt = 0
        var j = csr.off(u)
        while (j < csr.off(u + 1)) {
          val l = lab(csr.nbr(j))
          if (cnt(l) == 0) { touched(nt) = l; nt += 1 }
          cnt(l) += 1
          j += 1
        }
        var bestC = Int.MaxValue
        var bestN = 0
        var t = 0
        while (t < nt) {
          val l = touched(t)
          if (cnt(l) > bestN || (cnt(l) == bestN && l < bestC)) {
            bestN = cnt(l); bestC = l
          }
          t += 1
        }
        next(u) = if (bestN > 0) bestC else lab(u) // isolated node keeps its label
        t = 0
        while (t < nt) { cnt(touched(t)) = 0; t += 1 }
        u += 1
      }
      lab = next
      step += 1
    }
    (0 until n).map(i => csr.ids(i) -> csr.ids(lab(i)))
  }

  /** Connected components (label = min vertex id). Small-graph tier:
    * min-root union-find on the collected edge list — identical labels to
    * the GraphX formulation; above the collect gate (2M edges by default),
    * GraphX's pointer-jumping Pregel. Callers nest it (q45, DBSCAN,
    * HDBSCAN's extraction, the dedup group forms), and each call reads
    * the gate itself. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .cp()
    if (pairs.count() <= graft.util.SizeGate.collectThreshold) {
      val es = pairs.as[(Long, Long)].collect()
      graft.util.BlockRelease.release(pairs) // edge-sized; don't leak per call
      val uf = new graft.util.UnionFind.Longs
      es.foreach { case (a, b) => uf.union(a, b) }
      return es.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n0 => (n0, uf.find(n0))).toSeq.toDF("node", "label")
    }
    graft.util.BlockRelease.release(pairs)
    val (g, scratch) = toGraph(edges)
    val result = CCLib.run(g)
    val out = result.vertices.toDF("node", "label").cp()
    scratch.unpersist(blocking = false)
    g.unpersist(blocking = false)
    result.unpersist(blocking = false) // Pregel caches its result graph too
    out
  }
}
