package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Checkpointer.CheckpointSyntax

/** PAGERANK, integer-quantized — the classic link-graph quality signal a
  * web-scale curation pipeline weighs documents by (the OPIC/harmonic
  * family of Common-Crawl-style source scoring). Weighted personalized-
  * uniform PageRank over the co-engagement projection (G8), damping
  * d = 0.85, a fixed round budget (the production shape: at 100 TB you
  * run k rounds of edge-linear shuffles, you do not iterate to 1e-12).
  *
  * DECIDABILITY — why INTEGER quantization: float PageRank accumulates
  * per-node float sums whose addition order is partition-dependent — the
  * q77 cross-row trap. Ranks here live in INTEGER PPM (parts-per-
  * million): pr₀ = 10⁶ DIV N, and each round computes
  * pr'(v) = 150000 DIV N + (85·Σ_{u→v} ((pr(u)·w(u,v)) DIV k(u))) DIV 100
  * with every op an integer op in a pinned order — sums of integers are
  * associative, so the result is independent of partitioning and
  * replays exactly in a DuckDB recursive CTE (q94's oracle). The DIV
  * truncation loses ≤1 ppm per term deterministically — an approximation
  * of the real-valued fixpoint, but a reproducible one (same trade as
  * q77's milli-nats).
  *
  * Scale shape: per round, ONE join of ranks onto the (symmetrized)
  * edge list + ONE partial-agg shuffle of contributions — edge-linear,
  * the Pregel message pattern in DataFrame form. Lineage is cut per
  * round (localCheckpoint; caller releases via BlockRelease when the
  * result is consumed). Strengths k(u) are computed once.
  */
object PageRank {

  /** (node, pr_ppm) after `iters` rounds over one-sided (src<dst,
    * weight) edges — symmetrized internally.
    *
    * `seed` personalizes the walk (PPR): teleport mass lands ONLY on
    * nodes satisfying the predicate (uniform over them), so ranks
    * measure proximity to the seed set — the recommendation /
    * source-trust variant (TrustRank-style: seed = vetted sources,
    * rank = trust flowing out through the link structure). `None` is
    * classic uniform PageRank. Same integer-ppm contract either way.
    *
    * TIERED (r10, the Louvain/KCore/Leiden collect-gate discipline
    * applied to the last iterative algorithm without it): under the
    * collect gate ([[graft.util.SizeGate.collectThreshold]], 2M
    * SYMMETRIZED edges by default), the rounds run as an in-memory
    * integer loop over one collected edge array — the distributed
    * formulation's ~4 eager jobs per checkpointed round are pure
    * scheduler floor at that size. The loop replays the IDENTICAL
    * integer ops in the identical order (sums of longs are associative,
    * so per-node accumulation order is immaterial — the decidability
    * argument above), so both tiers are oracle-equal; a gate of 0
    * (`SPARK_GRAFT_COLLECT_THRESHOLD=0`) forces the distributed path
    * (PageRankSpec pins tier equality). */
  def run(edges: DataFrame, iters: Int = 5,
      seed: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None): DataFrame = {
    // iters >= 1 is load-bearing: with an empty loop the returned pr would
    // be a lazy plan over k, whose checkpoint blocks are released below.
    require(iters >= 1, s"iters must be >= 1 (got $iters)")
    val gate = graft.util.SizeGate.collectThreshold
    if (gate > 0 && edges.count() * 2 <= gate)
      return runInMemory(edges, iters, seed)
    val spark = edges.sparkSession
    import spark.implicits._
    // sym is NOT checkpointed: it is a map-only union over the caller's
    // edge frame (the cached G8 projection in every registered use), so
    // re-reading it per round costs a cached scan — cheaper than an
    // eager 2|E|-row materialization per call. Strengths DO checkpoint
    // (one aggregation, read every round).
    val sym = edges.select($"src", $"dst", $"weight".cast("long").as("wt"))
      .union(edges.select($"dst".as("src"), $"src".as("dst"),
        $"weight".cast("long").as("wt")))
    val k = sym.groupBy($"src").agg(sum($"wt").as("ks")).cp()
    val n = k.count()
    if (n == 0) return k.select($"src".as("node"), lit(0L).as("pr"))
    // teleport-mass denominator: the SEED count under personalization
    val nBase = seed.map(p => k.filter(p($"src")).count()).getOrElse(n)
    if (nBase == 0) return k.select($"src".as("node"), lit(0L).as("pr"))
    val base = 150000L / nBase
    // per-node teleport mass: uniform over seeds (or over all nodes)
    def baseMass(node: org.apache.spark.sql.Column, amount: Long) =
      seed.map(p => when(p(node), lit(amount)).otherwise(lit(0L)))
        .getOrElse(lit(amount))
    // Node-sized frames (ranks, strengths, contributions) BROADCAST below
    // the engine's broadcast gate (SizeGate.BroadcastRows), counted once
    // as the n nodes — the per-round sym-shuffle disappears and each
    // round is one map-side join + one partial-agg exchange. Above the
    // gate the joins shuffle on node id (the 100 TB shape); identical
    // results either way.
    def maybeB(df: DataFrame): DataFrame =
      graft.util.SizeGate.maybeBroadcast(df, known = Some(n))
    var pr = k.select($"src".as("node"),
      baseMass($"src", 1000000L / nBase).as("pr"))
    var lastCkpt: DataFrame = null
    var round = 0
    while (round < iters) {
      val contrib = sym
        .join(maybeB(pr.withColumnRenamed("node", "src")), "src")
        .join(maybeB(k), "src")
        .select($"dst".as("node"), expr("CAST((pr * wt) DIV ks AS BIGINT)").as("c"))
        .groupBy($"node").agg(sum($"c").as("s"))
      var next = k.select($"src".as("node")).join(maybeB(contrib), Seq("node"), "left")
        .select($"node",
          (baseMass($"node", base) +
            expr("CAST((85 * coalesce(s, 0)) DIV 100 AS BIGINT)")).as("pr"))
      // Checkpoint every THIRD round (and always the last): bounds both
      // the lineage depth and the re-execution a broadcast build pays on
      // an unmaterialized rank plan, without paying an eager
      // materialization barrier every round — the best of the three
      // shapes measured (per-round ckpt, no ckpt, periodic; spreads in
      // BENCH_LOCAL_r9 §7).
      if (round % 3 == 2 || round == iters - 1) {
        next = next.cp()
        if (lastCkpt != null) graft.util.BlockRelease.release(lastCkpt)
        lastCkpt = next
      }
      pr = next
      round += 1
    }
    graft.util.BlockRelease.release(k)
    pr
  }

  /** The collect tier: identical integer arithmetic in identical order —
    * per-edge `(pr·w) DIV k` then associative long sums, `base +
    * (85·s) DIV 100` — so the result is bit-equal to the distributed
    * rounds (PageRankSpec pins it). The `seed` Column predicate is
    * evaluated engine-side over the node list (one driver-local job), so
    * both tiers share one seed definition. */
  private def runInMemory(edges: DataFrame, iters: Int,
      seed: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val one = edges.select($"src", $"dst", $"weight".cast("long"))
      .as[(Long, Long, Long)].collect()
    val m = one.length * 2
    val esrc = new Array[Long](m); val edst = new Array[Long](m)
    val ewt = new Array[Long](m)
    var i = 0
    while (i < one.length) {
      val (a, b, w) = one(i)
      esrc(2 * i) = a; edst(2 * i) = b; ewt(2 * i) = w
      esrc(2 * i + 1) = b; edst(2 * i + 1) = a; ewt(2 * i + 1) = w
      i += 1
    }
    val strength = scala.collection.mutable.LongMap.empty[Long]
    i = 0
    while (i < m) {
      strength(esrc(i)) = strength.getOrElse(esrc(i), 0L) + ewt(i); i += 1
    }
    val nodes = strength.keys.toArray.sorted
    val n = nodes.length
    if (n == 0) return Seq.empty[(Long, Long)].toDF("node", "pr")
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    nodes.indices.foreach(j => idx.put(nodes(j), j))
    val isSeed: Array[Boolean] = seed match {
      case None => null
      case Some(p) =>
        val set = nodes.toSeq.toDF("src").filter(p(col("src")))
          .as[Long].collect().toSet
        nodes.map(set.contains)
    }
    val nBase = if (isSeed == null) n.toLong else isSeed.count(identity).toLong
    if (nBase == 0)
      return nodes.toSeq.map(nd => (nd, 0L)).toDF("node", "pr")
    val base = 150000L / nBase
    def baseMass(j: Int, amount: Long): Long =
      if (isSeed == null || isSeed(j)) amount else 0L
    val kArr = nodes.map(strength)
    val si = new Array[Int](m); val di = new Array[Int](m)
    i = 0
    while (i < m) { si(i) = idx.get(esrc(i)); di(i) = idx.get(edst(i)); i += 1 }
    var pr = Array.tabulate(n)(j => baseMass(j, 1000000L / nBase))
    var round = 0
    while (round < iters) {
      val s = new Array[Long](n)
      i = 0
      while (i < m) {
        // nonnegative longs: / IS the distributed expression's DIV
        s(di(i)) += pr(si(i)) * ewt(i) / kArr(si(i))
        i += 1
      }
      val next = new Array[Long](n)
      var j = 0
      while (j < n) { next(j) = baseMass(j, base) + 85L * s(j) / 100L; j += 1 }
      pr = next
      round += 1
    }
    nodes.indices.map(j => (nodes(j), pr(j))).toDF("node", "pr")
  }
}
