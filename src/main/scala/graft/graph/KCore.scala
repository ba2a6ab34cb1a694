package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Checkpointer.CheckpointSyntax

/** Distributed k-core decomposition (SURVEY.md G3; reference GDS call at
  * project/metrics/community_detection.py:56-58) by h-index convergence
  * (Montresor et al., "Distributed k-core decomposition"):
  * every node starts at its degree and repeatedly lowers its estimate to the
  * h-index of its neighbors' estimates; the fixpoint is the coreness.
  *
  * Fully parallel (no sequential peeling), converges in a few dozen rounds
  * on social graphs — the formulation that survives a 1000-executor graph,
  * unlike peel-min-degree which is inherently sequential. Below the
  * collect gate ([[graft.util.SizeGate.collectThreshold]], 2M symmetrized
  * edges by default) [[run]] peels instead; the peel is the reference the
  * DataFrame tier is tested against.
  */
object KCore {

  /** @param edges canonical (src, dst, weight) DataFrame; unweighted
    *   cores. Content assumed fixed for the instance's lifetime (see
    *   Louvain.symTiered's cache contract).
    * @return (node, core) DataFrame */
  def run(edges: DataFrame, maxIter: Int = 64): DataFrame = {
    // Small-graph tier (same gate as the Louvain family): exact
    // Batagelj–Zaveršnik peeling on the collected graph. Coreness is
    // unique, so this returns bit-identical cores to the h-index fixpoint
    // — peeling is inherently sequential, which is exactly why it is the
    // right algorithm below the threshold and the wrong one above it.
    val spark = edges.sparkSession
    import spark.implicits._
    // symmetrized edges ride Louvain's r10 session cache — coreness is
    // weight-agnostic (peel reads adjacency only), so the weighted shared
    // array serves unchanged and q40 shares q42/q45/q47's one collect
    val tiered = Louvain.symTiered(edges)
    if (tiered.isRight) {
      val (es, _) = tiered.toOption.get
      val csr = SeqCommunity.build(es)
      val core = peel(csr)
      return (0 until csr.n).map(i => (csr.ids(i), core(i)))
        .toDF("node", "core")
    }
    val (sym, _, _) = tiered.swap.toOption.get
    // At-scale path: the DataFrame h-index iteration. Its per-round
    // shuffles move 16-byte (node, estimate) rows with map-side combine;
    // a Pregel histogram formulation allocates a (capCore+1)-int array
    // per edge side per round, which on a DENSE graph was a measured
    // multi-GB-per-round storm (BENCH_LOCAL_r3.md: 16 s here vs 35+ min
    // for Pregel on a 4.5M-edge dense fixture; same fixpoint).
    // self-loops do not contribute to coreness (peel's CSR routes them
    // out of the adjacency) — drop them here so all tiers agree
    hIndexCores(sym.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")), maxIter)
  }

  /** h-index k-core as pure DataFrame iteration (no GraphX) over a
    * symmetric, deduped (src, dst) edge set without self-loops: per round,
    * every node's new estimate is max over distinct neighbor-estimate
    * values v of min(v, #neighbors with estimate ≥ v), capped by its own
    * estimate — the same fixpoint as the peel, expressed as two shuffles
    * per round (grouped histogram + running count) with map-side
    * combine, 16-byte rows throughout. With one plan-truncating action
    * per round its cost is data-bound; BENCH_LOCAL_r3.md records it at
    * 16 s on a dense 4.5M-edge fixture where the Pregel histogram
    * messages ran 35+ min. `sym` derives from the cache-owned tier sym
    * (Louvain.symTiered) and is not released here: that would cascade
    * into the cached checkpoint blocks through the plan leaves. */
  private def hIndexCores(sym: DataFrame, maxIter: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var est = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("int").as("est")).cp()
    var iter = 0
    var changed = 1L
    while (iter < maxIter && changed > 0) {
      val hist = sym
        .join(est.select(col("node").as("dst"), col("est").as("ne")), "dst")
        .groupBy(col("src").as("node"), col("ne"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("node")).orderBy(col("ne").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val h = hist
        .withColumn("cum", sum(col("cnt")).over(w))
        .select(col("node"),
          least(col("ne"), col("cum")).cast("int").as("cand"))
        .groupBy(col("node"))
        .agg(max(col("cand")).as("h"))
      // ONE eager action per round (the Louvain local-move discipline):
      // the new estimate and the did-it-change flag come out of the same
      // localCheckpoint — which also TRUNCATES the plan; the earlier
      // cache()-per-round version grew the logical plan every round and
      // Catalyst analysis, not execution, came to dominate long runs
      val next = est.join(h, Seq("node"), "left")
        .select(col("node"),
          least(col("est"), coalesce(col("h"), lit(0))).as("est"),
          (least(col("est"), coalesce(col("h"), lit(0))) =!= col("est")).as("mv"))
        .cp()
      changed = next.filter(col("mv")).count()
      graft.util.BlockRelease.release(est) // superseded round state
      est = next.select(col("node"), col("est"))
      iter += 1
    }
    val out = est.cp()
    graft.util.BlockRelease.release(est)
    out.select(col("node"), col("est").as("core"))
  }

  /** Batagelj–Zaveršnik bucket peeling over CSR arrays: O(E), exact. */
  private[graph] def peel(csr: SeqCommunity.Csr): Array[Int] = {
    val n = csr.n
    if (n == 0) return Array.empty
    val core = Array.tabulate(n)(u => csr.off(u + 1) - csr.off(u))
    val maxDeg = core.max
    val bin = new Array[Int](maxDeg + 2)
    core.foreach(d => bin(d) += 1)
    var start = 0
    var d = 0
    while (d <= maxDeg) { val c = bin(d); bin(d) = start; start += c; d += 1 }
    val vert = new Array[Int](n)
    val pos = new Array[Int](n)
    var v = 0
    while (v < n) { pos(v) = bin(core(v)); vert(pos(v)) = v; bin(core(v)) += 1; v += 1 }
    d = maxDeg
    while (d >= 1) { bin(d) = bin(d - 1); d -= 1 }
    bin(0) = 0
    var i = 0
    while (i < n) {
      val u = vert(i)
      var j = csr.off(u)
      while (j < csr.off(u + 1)) {
        val w0 = csr.nbr(j)
        if (core(w0) > core(u)) { // lower w0's bucket by one, swap to front
          val dw = core(w0); val pw = pos(w0)
          val pt = bin(dw); val t = vert(pt)
          if (t != w0) { vert(pt) = w0; vert(pw) = t; pos(w0) = pt; pos(t) = pw }
          bin(dw) += 1
          core(w0) -= 1
        }
        j += 1
      }
      i += 1
    }
    core
  }
}
