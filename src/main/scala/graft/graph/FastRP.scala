package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.util.Checkpointer.CheckpointSyntax

/** FastRP node embeddings (SURVEY.md G1; reference GDS call at
  * project/metrics/community_detection.py:40-45, dim 128 weighted):
  * very sparse random projection init (Achlioptas ±√3 entries, seeded by
  * deterministic per-(node, dim) hashing — reproducible across runs with no
  * random state), then k rounds of weighted-neighbor averaging with L2
  * normalization, combined with per-iteration weights (Chen et al., FastRP).
  *
  * Round cost: ONE edge-sized shuffle (edges ⋈ vectors on src, map-side
  * partial VectorWeightedSum on dst) plus ONE node-sized join. The per-node degree
  * and the β-weighted accumulator ride in the same state row as the current
  * vector, so no second node-sized join per round; previous round state is
  * unpersisted as soon as the next is materialized (bounded storage across a
  * long multi-query session — the round-1 version leaked one cached
  * node-sized DF per round and thrashed the storage pool by the time the
  * driver bench reached q44).
  */
object FastRP {

  /** @param edges canonical (src, dst, weight); content assumed fixed
    *   for the instance's lifetime (see Louvain.symTiered's cache contract)
    * @param iterationWeights β_k per propagation round (round 1..k)
    * @return (node, embedding array<double> unit-norm) */
  def run(edges: DataFrame, dim: Int = 64,
      iterationWeights: Seq[Double] = Seq(0.0, 1.0, 1.0)): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Small-graph tier (same gate as Louvain/Leiden/Hdbscan): under the
    // collect threshold the propagation rounds run sequentially over CSR
    // arrays with the identical seeded-hash init and round math — the
    // distributed rounds' edge joins are fixed scheduler cost at that
    // size. The collected WEIGHTED array rides Louvain's r10 session
    // cache (FastRP's weighted averaging needs exactly it) — and the
    // cache path also closes a per-call leak: the old inline tier
    // returned without releasing its checkpointed sym.
    val tiered = Louvain.symTiered(edges)
    if (tiered.isRight) {
      val (es, _) = tiered.toOption.get
      return runInMemory(es, dim, iterationWeights).toSeq.toDF("node", "embedding")
    }
    // cache-owned (r12, Louvain.symTiered) — correctly NOT released here;
    // before r12 this branch leaked the per-call checkpoint it now shares
    val sym = tiered.swap.toOption.get._1

    // sparse ±√3 seeded init: hash(node, j) mod 6 → {0:+√3, 1:−√3, 2..5: 0}
    val s = math.sqrt(3.0)
    def initVec(node: Column) =
      transform(sequence(lit(0), lit(dim - 1)), j => {
        val h = pmod(xxhash64(node, j), lit(6))
        when(h === 0, lit(s)).when(h === 1, lit(-s)).otherwise(lit(0.0))
      })

    // state: (node, k, v, acc) — weighted degree, current embedding, and the
    // β-weighted combination accumulator in one cached node-sized DF.
    // cache() rather than localCheckpoint(): keeps size statistics visible,
    // so Catalyst broadcast-joins the vector table into the edge join when
    // it actually fits, and shuffles when it doesn't — the right plan at
    // every scale. Lineage depth is bounded by per-round materialization.
    var state = sym.groupBy(col("src").as("node")).agg(sum("weight").as("k"))
      .select(col("node"), col("k"), initVec(col("node")).as("v"),
        transform(sequence(lit(0), lit(dim - 1)), _ => lit(0.0)).as("acc"))
      .cache()
    state.count()

    for (beta <- iterationWeights) {
      // v_next(u) = normalize( Σ_nbr (w/deg_u)·v(nbr) ) — the scale is
      // fused into the aggregation (VectorWeightedSum) so no per-edge
      // scaled array is ever materialized or shuffled
      val msgs = sym
        .join(state.select(col("node").as("src"), col("v")), "src")
        .select(col("dst").as("node"), col("v"), col("weight"))
        .groupBy("node")
        .agg(graft.functions.VectorWeightedSum(col("v"), col("weight")).as("sv"))
      val prev = state
      val vNext = coalesce(
        VectorFunctions.l2normalize(transform(col("sv"), x => x / col("k"))),
        initVec(col("node")))
      state = prev.join(msgs, Seq("node"), "left")
        .select(col("node"), col("k"), vNext.as("v"),
          (if (beta != 0.0)
             zip_with(col("acc"), vNext, (a, x) => a + lit(beta) * x)
           else col("acc")).as("acc"))
        .cache()
      state.count()
      prev.unpersist(blocking = false)
    }
    val out = state.select(col("node"),
      VectorFunctions.l2normalize(col("acc")).as("embedding"))
      .cp()
    state.unpersist(blocking = false)
    out
  }

  /** Sequential FastRP over CSR arrays — the same synchronous round
    * semantics as the distributed path: same Spark xxhash64(node, j)
    * seeded ±√3 init, v ← normalize(Σ w·v(nbr) / k), acc += β·v, final
    * normalize (zero vectors stay zero, matching the zero-guarded
    * l2normalize). */
  private def runInMemory(symEdges: SymEdges, dim: Int,
      iterationWeights: Seq[Double]): Seq[(Long, Array[Double])] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val csr = SeqCommunity.build(symEdges)
    val n = csr.n
    val ids = csr.ids
    val k = csr.degrees
    val s = math.sqrt(3.0)
    def init(node: Long): Array[Double] = {
      val out = new Array[Double](dim)
      val h1 = XxHash64Function.hash(node, LongType, 42L)
      var j = 0
      while (j < dim) {
        val h = XxHash64Function.hash(j, IntegerType, h1)
        val m = ((h % 6) + 6) % 6
        out(j) = if (m == 0) s else if (m == 1) -s else 0.0
        j += 1
      }
      out
    }
    var v: Array[Array[Double]] = Array.tabulate(n)(i => init(ids(i)))
    val acc = Array.ofDim[Double](n, dim)
    iterationWeights.foreach { beta =>
      val nv = Array.ofDim[Double](n, dim)
      var u = 0
      while (u < n) {
        val row = nv(u)
        var j = csr.off(u)
        while (j < csr.off(u + 1)) {
          val nb = v(csr.nbr(j))
          val w0 = csr.w(j)
          var d = 0
          while (d < dim) { row(d) += w0 * nb(d); d += 1 }
          j += 1
        }
        // self-loops (CSR keeps them in selfW): the distributed edge join
        // includes the symmetrized self row's 2w·v(u) term — match it so
        // embeddings agree across the tier boundary
        val sw = csr.selfW(u)
        if (sw != 0.0) {
          val vu = v(u)
          var d = 0
          while (d < dim) { row(d) += 2.0 * sw * vu(d); d += 1 }
        }
        var norm = 0.0
        var d = 0
        while (d < dim) { row(d) /= k(u); norm += row(d) * row(d); d += 1 }
        norm = math.sqrt(norm)
        if (norm > 0.0) { d = 0; while (d < dim) { row(d) /= norm; d += 1 } }
        if (beta != 0.0) {
          val a = acc(u)
          d = 0
          while (d < dim) { a(d) += beta * row(d); d += 1 }
        }
        u += 1
      }
      v = nv
    }
    (0 until n).map { u =>
      val a = acc(u)
      var norm = 0.0
      var d = 0
      while (d < dim) { norm += a(d) * a(d); d += 1 }
      norm = math.sqrt(norm)
      ids(u) -> (if (norm > 0.0) a.map(_ / norm) else a)
    }
  }
}
