package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.util.Checkpointer.CheckpointSyntax

/** Density clustering over embedding vectors (SURVEY.md G2 — the engine's
  * substitute for the reference's HDBSCAN-over-FastRP GDS call at
  * project/metrics/community_detection.py:49-54).
  *
  * Exact HDBSCAN parity is explicitly out of scope (the reference's own
  * output is nondeterministic; SURVEY.md §5) — what the workload needs is
  * "density clustering with noise labels (-1)" over node embeddings, which
  * this provides as distributed DBSCAN in cosine space:
  *
  *  1. candidate pairs via random-hyperplane LSH buckets (equality join on
  *     (table, bucket-signature) — never all-pairs);
  *  2. ε-neighbor edges verified with the codegen'd dot-product kernel;
  *  3. core points = ≥ minPts neighbors; clusters = connected components
  *     of the core-core ε-graph (GraphX); border points attach to any
  *     neighboring core's cluster; everything else is noise (-1), matching
  *     the reference's noise-label convention (F3).
  *
  * Multi-probe: `tables` independent hyperplane sets trade shuffle volume
  * for recall, the standard LSH knob.
  *
  * Below the collect gate ([[graft.util.SizeGate.collectThreshold]], in
  * point pairs: n ≤ 2,000 by default) the whole clustering runs exactly
  * on the driver instead; a gate of 0 forces the distributed tiers.
  */
object DensityCluster {

  /** @param points (id, v) with v array<double> L2-normalized
    * @param eps    cosine-similarity threshold (neighbors: sim ≥ eps)
    * @param minPts core threshold (neighbors counted excluding self)
    * @param dim    embedding width — callers know it (their embed config);
    *               the default −1 falls back to a one-row probe, which
    *               costs a driver action per call (the q46 path passes it)
    * @param exactCandidates distributed EXACT tier: the ε-graph comes from
    *               the brute all-pairs join (q39's shape) instead of LSH
    *               buckets — quadratic by construction, the exactness
    *               baseline (q64) whose labels DuckDB re-derives in full;
    *               the LSH tier remains the registered scale path (q46)
    * @return (id, label) — label = min core id of the cluster, or -1 noise */
  def dbscan(points: DataFrame, eps: Double, minPts: Int,
      bits: Int = 12, tables: Int = 4, dim: Int = -1,
      exactCandidates: Boolean = false): DataFrame = {
    val spark = points.sparkSession

    // Small-n tier (Hdbscan's exact-tier gate): EXACT DBSCAN on the
    // collected points while their n(n−1)/2 pairs fit the collect gate
    // (n ≤ 2,000 by default) — all-pairs ε-graph instead of candidates,
    // so below the gate the result is approximation-free while the
    // distributed tiers serve the scale they were built for. A gate of 0
    // forces them and skips the count() action too.
    if (graft.util.SizeGate.pairsFit(points.count())) {
      import spark.implicits._
      val pts = points.select(col("id"), col("v"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
      return dbscanInMemory(pts, eps, minPts).toSeq.toDF("id", "label")
    }

    val pairs = if (exactCandidates) {
      // distributed exact ε-graph: all pairs, similarity verified inside
      // the join projection, only qualifying 16-byte id pairs survive
      val n = points.select(col("id"), col("v"))
      n.as("a").join(n.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("src"), col("b.id").as("dst"),
          VectorFunctions.dot(col("a.v"), col("b.v")).as("sim"))
        .filter(col("sim") >= eps)
        .select(col("src"), col("dst"))
        .cp()
    } else {
      lshPairs(points, eps, bits, tables, dim)
    }

    clusterFromPairs(points, pairs, minPts)
  }

  /** LSH candidate ε-edges (the scale tier of [[dbscan]]). No driver
    * action before the candidate join (the round-4 discipline of
    * `Ann.lshTopK`): the centering mean rides a
    * broadcast 1-row aggregate instead of a `first()` probe, and the
    * hyperplane width comes from the `dim` parameter (callers know their
    * embed config; the −1 fallback probes once, documented). */
  private def lshPairs(points: DataFrame, eps: Double, bits: Int,
      tables: Int, dim: Int): DataFrame = {
    // 0. center the data: sign-bit LSH on uncentered embeddings collapses
    // into two complementary mega-buckets whenever the corpus shares a
    // dominant direction (measured: top bucket held 42% of points on the
    // testdata) — subtracting the global mean rebalances the signatures.
    // ε-verification still uses the ORIGINAL vectors, so precision is
    // unaffected; centering only shapes the candidate buckets.
    val meanDf = points.agg(graft.functions.VectorMean(col("v")).as("m"))
    val centered = points.crossJoin(broadcast(meanDf))
      .withColumn("vc", zip_with(col("v"), col("m"), (x, mm) => x - mm))
      .drop("m")

    // 1. random-hyperplane signatures: bit b of table t = sign(vc · h_{t,b}),
    // hyperplanes seeded deterministically from (t, b, dim index)
    val d = if (dim > 0) dim else points.select(size(col("v"))).first().getInt(0)
    val allSigs = graft.functions.VectorExpressions
      .hyperplane_sigs(col("vc"), d, "dbscan", bits, tables)
    val bucketed = centered
      .select(col("id"), col("v"), posexplode(allSigs).as(Seq("t", "sig")))
      .repartition(col("t"), col("sig")) // don't inherit the scan's (often
      //        single-file) partitioning into the bucket self-join
      .cp()

    // 2. ε-edges from bucket-mates: similarity verified INSIDE the join
    // projection so the cross-table dedup shuffles 16-byte id pairs, not
    // kilobyte vector pairs (a whole cluster can share one bucket)
    val pairs = bucketed.as("a").join(bucketed.as("b"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        VectorFunctions.dot(col("a.v"), col("b.v")).as("sim"))
      .filter(col("sim") >= eps)
      .select(col("src"), col("dst"))
      .dropDuplicates("src", "dst")
      .cp()
    graft.util.BlockRelease.release(bucketed)
    pairs
  }

  /** Cores → clusters → borders → noise from a materialized ε-edge set —
    * shared by the LSH and distributed-exact tiers. */
  private def clusterFromPairs(points: DataFrame, pairs: DataFrame,
      minPts: Int): DataFrame = {
    // 3. core points: neighbor degree ≥ minPts
    val degrees = pairs.select(col("src").as("id"))
      .union(pairs.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val core = degrees.filter(col("deg") >= minPts).select(col("id")).cache()

    // clusters = CC over the core-core subgraph
    val coreEdges = pairs
      .join(core.select(col("id").as("src")), "src", "left_semi")
      .join(core.select(col("id").as("dst")), "dst", "left_semi")
      .select(col("src"), col("dst"))
    val coreLabels =
      if (coreEdges.isEmpty) core.select(col("id").as("node"), col("id").as("label"))
      else GraphAlgos.connectedComponents(coreEdges)
        .unionByName(
          // isolated cores (no core neighbor) are their own cluster
          core.select(col("id").as("node"), col("id").as("label"))
            .join(coreEdges.select(col("src").as("node"))
              .union(coreEdges.select(col("dst").as("node"))).distinct(),
              Seq("node"), "left_anti"))

    // 4. border points: any non-core with a core ε-neighbor joins its
    // (smallest-label) cluster; the rest is noise (-1)
    val nbrOfCore = pairs.select(col("src").as("node"), col("dst").as("nbr"))
      .union(pairs.select(col("dst").as("node"), col("src").as("nbr")))
      .join(coreLabels.select(col("node").as("nbr"), col("label")), "nbr")
      .groupBy("node").agg(min(col("label")).as("border_label"))
    val out = points.select(col("id").as("node"))
      .join(coreLabels.withColumnRenamed("label", "core_label"), Seq("node"), "left")
      .join(nbrOfCore, Seq("node"), "left")
      .select(col("node").as("id"),
        coalesce(col("core_label"), col("border_label"), lit(-1L)).as("label"))
      .cp() // point-sized, lineage-free
    // scratch state (ε-edges, core cache) is unreachable from the
    // checkpointed result — release instead of leaking per call (the LSH
    // tier's bucket rows are already released inside lshPairs)
    graft.util.BlockRelease.release(Seq(pairs, core))
    out
  }

  /** Exact sequential DBSCAN in cosine space (the small-n tier): all-pairs
    * ε-graph, cores = degree ≥ minPts, clusters = min-id connected
    * components over core-core edges (isolated cores are their own
    * cluster), borders take the smallest neighboring core's label, rest
    * is −1 — the same label semantics as the distributed path with the
    * LSH candidate approximation removed. `pts` must be sorted by id. */
  private[graph] def dbscanInMemory(pts: Array[(Long, Array[Double])],
      eps: Double, minPts: Int): Map[Long, Long] = {
    val n = pts.length
    if (n == 0) return Map.empty
    val ids = pts.map(_._1)
    val vs = pts.map(_._2)
    // ε-adjacency (index pairs i<j with cosine ≥ eps)
    val adj = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[Int]())
    var i = 0
    while (i < n) {
      val vi = vs(i)
      var j = i + 1
      while (j < n) {
        val vj = vs(j)
        var s = 0.0
        var d = 0
        while (d < vi.length) { s += vi(d) * vj(d); d += 1 }
        if (s >= eps) { adj(i) += j; adj(j) += i }
        j += 1
      }
      i += 1
    }
    val isCore = Array.tabulate(n)(u => adj(u).length >= minPts)
    // min-id CC over core-core edges
    val uf = new graft.util.UnionFind.Ints(n)
    i = 0
    while (i < n) {
      if (isCore(i)) adj(i).foreach { j => if (isCore(j)) uf.union(i, j) }
      i += 1
    }
    val out = Map.newBuilder[Long, Long]
    i = 0
    while (i < n) {
      if (isCore(i)) out += ids(i) -> ids(uf.find(i))
      else {
        var best = -1L
        adj(i).foreach { j =>
          if (isCore(j)) {
            val l = ids(uf.find(j))
            if (best == -1L || l < best) best = l
          }
        }
        out += ids(i) -> best // -1 when no core neighbor: noise
      }
      i += 1
    }
    out.result()
  }
}
