package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schemas.Tables
import graft.graph.{FastRP, GraphAlgos, KCore, Louvain, Projection}
import graft.metrics.CommunityMetrics
import graft.functions.VectorFunctions

/** Graph analytics suite (SURVEY.md §2.9 G1–G8 + §2.4 A7–A12 metrics) on
  * the supplier co-engagement graph (suppliers sharing orders — the
  * testdata instantiation of the reference's user/post bipartite graph),
  * with communities given by s_nationkey where a fixed labeling is needed.
  *
  * q15–q18 are closed-form metric queries with exact DuckDB oracles.
  * q40–q44 run the iterative algorithms (h-index k-core, GraphX LPA,
  * connected components, DataFrame Louvain, FastRP) — not SQL-expressible,
  * driver rows-only check + golden/invariant ScalaTests (GraphAlgoSpec).
  *
  * No query passes a tier: every algorithm reads the collect gate
  * ([[graft.util.SizeGate.collectThreshold]]) at each of its gates,
  * nested ones included (q45's intra-community components, DBSCAN's and
  * HDBSCAN's components, their brute gates). Unset, every gate reads
  * the one default, `SizeGate.DefaultCollectThreshold` (the exact
  * in-memory tier at the test SFs);
  * `SPARK_GRAFT_COLLECT_THRESHOLD=0` puts every one of them on its
  * distributed formulation, so the scale path is timed and
  * correctness-checked under the driver protocol (Bench/Verify). The
  * surfaces are invariant-based, so both tiers pass the same oracle.
  */
object GraphQueries {

  type Q = (SparkSession, String) => DataFrame

  private def graph(spark: SparkSession, dir: String): DataFrame =
    Projection.supplierGraph(spark, dir)

  private def labels(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey").as("node"), col("s_nationkey").as("label"))

  /** q15 — modularity of the nation partition (A10 closed form). */
  val q15Modularity: Q = (spark, dir) => {
    CommunityMetrics.modularity(graph(spark, dir), labels(spark, dir))
      .select(round(col("modularity"), 6).as("modularity"),
        col("m"), col("n_communities"))
  }

  /** q16 — per-community structure: internal/cut weight, volume,
    * conductance, density (A7–A9) in one pass. */
  val q16Structure: Q = (spark, dir) => {
    CommunityMetrics.structure(graph(spark, dir), labels(spark, dir))
      .select(col("label"), col("size"), col("internal_weight"),
        col("cut_weight"), col("internal_edge_count"), col("volume"),
        round(col("conductance"), 6).as("conductance"),
        round(col("density"), 6).as("density"))
  }

  /** q17 — per-community ECS = cohesion × separation over unit embeddings,
    * via the O(N·dim) vector-sum identity — no pair join (A12). */
  val q17Ecs: Q = (spark, dir) => {
    val members = Tables.load(spark, dir, "embeddings")
      .select(col("label"), VectorFunctions.l2normalize(col("embedding")).as("v"))
    CommunityMetrics.ecs(members)
      .select(col("label"), col("n_c"),
        round(col("cohesion"), 6).as("cohesion"),
        round(col("separation"), 6).as("separation"),
        round(col("ecs"), 6).as("ecs"))
      .orderBy(col("label"))
  }

  /** q18 — homophily: mean embedding similarity across graph edges (A5;
    * metrics.py:101-106), supplier vectors joined by key. */
  val q18Homophily: Q = (spark, dir) => {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("node"), VectorFunctions.l2normalize(col("embedding")).as("v"))
    CommunityMetrics.homophily(graph(spark, dir), vecs)
      .select(round(col("edge_mean_sim"), 6).as("edge_mean_sim"), col("n_edges"))
  }

  /** q40 — k-core decomposition (G3) by distributed h-index convergence.
    * Pregel formulation: on dense graphs the fixpoint takes ~degree/10
    * rounds and per-round driver-job overhead dominates, where Pregel
    * supersteps stay cheap (measured: 9 s vs 339 s for the DataFrame twin
    * at sf0.1 — the DF version wins only on sparse fast-converging
    * graphs). */
  val q40KCore: Q = (spark, dir) => KCore.run(graph(spark, dir))

  /** q41 — label propagation (G4, GraphX built-in). 5 synchronous steps:
    * LPA either converges or enters the known 2-cycle well before that on
    * co-engagement-density graphs, and each Pregel superstep costs a fixed
    * scheduling quantum. */
  val q41LabelProp: Q = (spark, dir) =>
    GraphAlgos.labelPropagationDF(graph(spark, dir), maxSteps = 5)

  /** q43 — connected components (min-id labels). */
  val q43ConnectedComponents: Q = (spark, dir) =>
    GraphAlgos.connectedComponents(graph(spark, dir))

  /** Shared surface for the community-detection queries (q44's precedent
    * extended to partitions): labels themselves are tie-break/coarsening-
    * order-dependent, but three facts about the RESULT are SQL-exact and
    * the driver's hash gate pins them per node:
    *   - totality: every projection node labeled exactly once (a dropped or
    *     doubled node is a row mismatch against the lineitem-derived set);
    *   - `mod_nonneg` / `mod_ge_nation`: the achieved modularity (A10
    *     closed form, itself oracled as q15) is never below the trivial
    *     one-community partition's Q = 0 (which IS the optimum on the
    *     near-complete sf0.001 graph — `> 0` would over-pin) and never
    *     below the fixed nation partition — a degenerate optimizer fails;
    *   - `comms_lt_nodes`: the partition actually merged something.
    * The booleans are computed BY the engine from its own labels and
    * pinned as constants by the oracle — a false anywhere hash-mismatches. */
  private def partitionSurface(g: DataFrame, lab: DataFrame,
      nationMod: Double): DataFrame = {
    val modQ = CommunityMetrics.modularity(g, lab)
      .select(col("modularity").as("mq"))
    val cnt = lab.agg(countDistinct(col("label")).as("nc"),
      count(lit(1)).as("nn"))
    lab.select(col("node"))
      .crossJoin(broadcast(modQ))
      .crossJoin(broadcast(cnt))
      .select(col("node"),
        (col("mq") >= 0.0).as("mod_nonneg"),
        (col("mq") >= nationMod).as("mod_ge_nation"),
        (col("nc") < col("nn")).as("comms_lt_nodes"))
  }

  /** The q42/q45/q47 surfaces all pin "≥ the fixed nation partition's
    * modularity" — a per-(session, dir) CONSTANT of the data, so it is
    * computed once and session-cached like the projection itself (three
    * surface queries × bench runs were each paying the full A10 pass). */
  private val nationMods =
    new graft.util.BoundedSessionCache[(SparkSession, String), java.lang.Double](
      maxEntries = 8, _ => ())
  private def nationModularity(spark: SparkSession, dir: String,
      g: DataFrame): Double =
    nationMods.getOrElseUpdate((spark, dir), {
      val s = spark
      import s.implicits._
      CommunityMetrics.modularity(g, labels(spark, dir))
        .select(col("modularity")).as[Double].head()
    })

  /** q42 — Louvain community detection (G6), DataFrame local-move +
    * coarsening, under the partition surface oracle (totality + pinned
    * modularity/merge invariants; label values stay spec-checked in
    * GraphAlgoSpec). */
  val q42Louvain: Q = (spark, dir) => {
    val g = graph(spark, dir)
    partitionSurface(g, Louvain.run(g),
      nationModularity(spark, dir, g))
  }

  /** q45 — Leiden community detection (G5): Louvain + refinement phase.
    * Surface adds `comm_connected` — Leiden's defining guarantee (Traag
    * et al. 2019) that every community induces a CONNECTED subgraph, which
    * Louvain does not give. Checked by the engine itself: connected
    * components over the intra-community edge set, then one piece per
    * community (members without intra-community edges count as their own
    * piece; a singleton community is one piece). Pinned true per node. */
  val q45Leiden: Q = (spark, dir) => {
    val g = graph(spark, dir)
    val lab = graft.graph.Leiden.run(g)
    val intra = g
      .join(lab.select(col("node").as("src"), col("label").as("ls")), "src")
      .join(lab.select(col("node").as("dst"), col("label").as("ld")), "dst")
      .filter(col("ls") === col("ld"))
      .select(col("src"), col("dst"), col("weight"))
    val comp = GraphAlgos.connectedComponents(intra)
      .select(col("node"), col("label").as("comp"))
    val pieces = lab.join(comp, Seq("node"), "left")
      .groupBy(col("label"))
      .agg((countDistinct(col("comp")) +
        count(when(col("comp").isNull, 1))).as("pieces"))
    partitionSurface(g, lab, nationModularity(spark, dir, g))
      .join(lab, "node")
      .join(pieces, "label")
      .select(col("node"), col("mod_nonneg"), col("mod_ge_nation"),
        col("comms_lt_nodes"), (col("pieces") === 1).as("comm_connected"))
  }

  /** q46 — density clustering with noise labels over embeddings (G2's
    * HDBSCAN-equivalent; noise = -1 like the reference's F3 filter).
    * `dim` is threaded from the table's known embed width, so the LSH
    * tier plans with no pre-candidate driver action. Within the collect
    * gate (n(n−1)/2 point pairs, n ≤ 2,000 by default) DBSCAN runs its
    * exact in-memory tier instead; the forced leg (gate 0) runs LSH.
    *
    * Surfaced under the hash oracle (point totality over the vec_id set +
    * `label_in_members`: every non-noise label is the id of a point in
    * that same cluster — DBSCAN's label IS a member core's id, so a
    * dangling/mangled label fails the pin). The label VALUES are
    * LSH-candidate-dependent and stay covered two ways: DensityClusterSpec
    * (planted fixtures, LSH-vs-exact audit) and q64, the exact twin whose
    * every label IS hash-oracled. */
  val q46Density: Q = (spark, dir) => {
    val pts = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"),
        VectorFunctions.l2normalize(col("embedding")).as("v"))
    val lab = graft.graph.DensityCluster.dbscan(pts, eps = 0.35, minPts = 2,
      bits = 8, tables = 4, dim = 64)
    // labels that are themselves a member's id, per cluster
    val own = lab.filter(col("label") =!= -1L)
      .filter(col("id") === col("label"))
      .select(col("label")).distinct().withColumn("ok", lit(true))
    // no broadcast hint (r10 audit): `own` is CLUSTER-count-sized — tiny
    // here but ∝ corpus at 100 TB. AQE converts to broadcast at runtime
    // whenever the actual size is small; above that, the shuffle join is
    // the one that fits.
    lab.join(own, Seq("label"), "left")
      .select(col("id"),
        (col("label") === -1L || coalesce(col("ok"), lit(false)))
          .as("label_in_members"))
  }

  /** q64 — q46's EXACTNESS BASELINE under the full hash oracle: the same
    * DBSCAN semantics (cores = ≥ minPts ε-neighbors at cosine ≥ 0.35,
    * clusters = min-id connected components of the core-core ε-graph,
    * borders take the smallest neighboring core's cluster, noise = −1)
    * with an exact all-pairs ε-graph instead of LSH candidates: in memory
    * within the collect gate (like q46), else the distributed exact join
    * — every LABEL, not just a surface, is re-derived by DuckDB (ε-join +
    * recursive-CTE min-label fixpoint, the q43 precedent). Quadratic by
    * construction and documented as such: the honest exactness tier
    * (q39's role for near-dup), while q46's LSH banding stays the
    * registered 100 TB path. */
  val q64DbscanExact: Q = (spark, dir) => {
    val pts = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"),
        VectorFunctions.l2normalize(col("embedding")).as("v"))
    graft.graph.DensityCluster.dbscan(pts, eps = 0.35, minPts = 2,
      dim = 64, exactCandidates = true)
  }

  /** q47 — modularity optimization (G7): parallel local moves, no
    * coarsening, under the same partition surface oracle as q42. */
  val q47ModularityOpt: Q = (spark, dir) => {
    val g = graph(spark, dir)
    partitionSurface(g,
      Louvain.modularityOptimization(g, rounds = 4),
      nationModularity(spark, dir, g))
  }

  /** Clustering surface (the noise-labeled twin of [[partitionSurface]]):
    * per point, `cluster_valid` = noise (−1) OR (the cluster's label is the
    * smallest member id AND the cluster has ≥ `minClusterSize` members) —
    * both contractual invariants of [[graft.graph.Hdbscan]]'s extraction,
    * computed by the engine from its own labels and pinned true by the
    * oracle. Totality comes from the id column hash-matching the input id
    * set. */
  private def clusterSurface(lab: DataFrame, minClusterSize: Int): DataFrame = {
    val grp = lab.filter(col("label") =!= -1L)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("csz"), min(col("id")).as("cmin"))
    // no broadcast hint (r10 audit): `grp` is cluster-count-sized — AQE
    // runtime-converts when small, shuffles when it isn't (same rationale
    // as q46's `own`)
    lab.join(grp, Seq("label"), "left")
      .select(col("id"),
        (col("label") === -1L ||
          (col("csz") >= minClusterSize && col("label") === col("cmin")))
          .as("cluster_valid"))
  }

  /** q48 — TRUE HDBSCAN over embeddings (G2 proper: mutual-reachability
    * core distances → distributed Borůvka MST → condensed-tree EOM
    * extraction; q46's DBSCAN stays as the flat-ε tier). The label VALUES
    * are engine-native (HdbscanSpec planted-density goldens); the surface —
    * point totality + the min-member-label and min-cluster-size contracts —
    * is pinned by the hash oracle via [[clusterSurface]]. */
  val q48Hdbscan: Q = (spark, dir) => {
    val pts = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    clusterSurface(
      graft.graph.Hdbscan.run(pts, minPts = 4, minClusterSize = 4),
      minClusterSize = 4)
  }

  /** q49 — the reference's EP2 pipeline COMPOSED end-to-end (fidelity to
    * community_detection.py: fastrp_embedding → run_hdbscan): weighted
    * co-engagement graph → 128-dim FastRP node embeddings → HDBSCAN in
    * embedding space. The reference runs this exact chain through Neo4j
    * GDS at 128 dims; cluster labels stay spec-checked (GraphAlgoSpec
    * composed-pipeline invariants: determinism, clique separation on a
    * planted fixture) while node totality and the label contracts are
    * hash-oracled via [[clusterSurface]]. */
  val q49Ep2Pipeline: Q = (spark, dir) => {
    val emb = FastRP.run(graph(spark, dir), dim = 128)
    clusterSurface(
      graft.graph.Hdbscan.run(
        emb.select(col("node").as("id"), col("embedding").as("v")),
        minPts = 4, minClusterSize = 4),
      minClusterSize = 4)
  }

  /** q44 — FastRP node embeddings (G1): surface (node, dim, norm). The
    * VECTORS are engine-native (seeded hash projection) and stay
    * spec-checked (determinism, self-loop handling, scale runs); the
    * surface — node totality, declared dim, unit L2 norm after the final
    * normalize — is exactly re-derivable in SQL, so the driver's hash
    * gate pins it (a dropped node, wrong width or unnormalized vector
    * all shows up as a hash mismatch). */
  val q44FastRP: Q = (spark, dir) => {
    FastRP.run(graph(spark, dir), dim = 32)
      .select(col("node"), size(col("embedding")).as("dim"),
        round(VectorFunctions.l2norm(col("embedding")), 4).as("norm"))
  }

  /** q94 — integer-quantized PAGERANK ([[graft.graph.PageRank]]): the
    * link-graph quality weight a web-scale curation pipeline scores
    * sources by, over the co-engagement projection. 5 damped rounds in
    * INTEGER PPM with a pinned op order, so this iterative float-family
    * algorithm sits under a FULL hash oracle (the q40/q41 recursive-CTE
    * discipline) — no rows-only concession. Edge-linear per round. */
  val q94PageRank: Q = (spark, dir) =>
    graft.graph.PageRank.run(graph(spark, dir), iters = 5)
      .select(col("node"), col("pr").as("pr_ppm"))

  /** q101 — PERSONALIZED PageRank (TrustRank-shaped: teleport mass only
    * on a vetted seed set — here node % 7 = 0 — so ranks measure trust/
    * proximity flowing out of the seeds through the link structure; the
    * source-scoring variant curation pipelines actually deploy). Same
    * integer-ppm loop and full recursive-CTE oracle as q94. */
  val q101Ppr: Q = (spark, dir) =>
    graft.graph.PageRank.run(graph(spark, dir), iters = 5,
        seed = Some(node => node % 7 === 0))
      .select(col("node"), col("pr").as("pr_ppm"))

  val defs: Map[String, Q] = Map(
    "q101_ppr" -> q101Ppr,
    "q94_pagerank" -> q94PageRank,
    "q15_modularity" -> q15Modularity,
    "q16_structure" -> q16Structure,
    "q17_ecs" -> q17Ecs,
    "q18_homophily" -> q18Homophily,
    "q40_kcore" -> q40KCore,
    "q41_label_prop" -> q41LabelProp,
    "q42_louvain" -> q42Louvain,
    "q43_connected_components" -> q43ConnectedComponents,
    "q44_fastrp" -> q44FastRP,
    "q45_leiden" -> q45Leiden,
    "q46_density" -> q46Density,
    "q47_modularity_opt" -> q47ModularityOpt,
    "q49_ep2_pipeline" -> q49Ep2Pipeline,
    "q48_hdbscan" -> q48Hdbscan,
    "q64_dbscan_exact" -> q64DbscanExact)

  private val edgeCte =
    """e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
      |w AS (SELECT a.usr AS u1, b.usr AS u2, count(*)::DOUBLE AS wt
      |  FROM e a JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
      |lab AS (SELECT s_suppkey AS node, s_nationkey AS label FROM supplier),
      |le AS (SELECT w.u1, w.u2, w.wt, la.label AS l1, lb.label AS l2
      |  FROM w JOIN lab la ON w.u1 = la.node JOIN lab lb ON w.u2 = lb.node),
      |degs AS (SELECT usr, sum(wt) AS k FROM
      |  (SELECT u1 AS usr, wt FROM w UNION ALL SELECT u2, wt FROM w) GROUP BY usr)""".stripMargin

  val oracles: Map[String, String] = Map(
    // q101 — q94's CTE with the teleport mass restricted to the seed set
    // (node % 7 = 0), denominator = seed count; otherwise identical
    // integer ops in the identical order.
    "q101_ppr" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2, count(*)::BIGINT AS wt
        |  FROM e a JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |sym AS (SELECT u1, u2, wt FROM w UNION ALL SELECT u2, u1, wt FROM w),
        |degs AS (SELECT u1 AS node, sum(wt)::BIGINT AS ks FROM sym GROUP BY u1),
        |ns AS (SELECT count(*)::BIGINT AS ns FROM degs WHERE node % 7 = 0),
        |pr(iter, node, v) AS (
        |  SELECT 0, node,
        |    CASE WHEN node % 7 = 0 THEN 1000000 // (SELECT ns FROM ns) ELSE 0 END
        |  FROM degs
        |  UNION ALL
        |  SELECT p.iter + 1, p.node,
        |    CASE WHEN p.node % 7 = 0 THEN 150000 // (SELECT ns FROM ns) ELSE 0 END
        |    + (85 * coalesce((SELECT sum((p2.v * s.wt) // d.ks)
        |        FROM sym s JOIN pr p2 ON p2.node = s.u1 AND p2.iter = p.iter
        |        JOIN degs d ON d.node = s.u1
        |        WHERE s.u2 = p.node), 0)) // 100
        |  FROM pr p WHERE p.iter < 5
        |)
        |SELECT node::BIGINT AS node, v::BIGINT AS pr_ppm
        |FROM pr WHERE iter = 5""".stripMargin,
    // q94 — the integer PageRank replayed round-for-round: same co-
    // engagement weights (BIGINT), same symmetrization, same ppm
    // quantization with the same DIV order ((pr·wt) DIV k(u), summed,
    // ×85 DIV 100, + 150000 DIV N). Integer ops only ⇒ bit-equal.
    "q94_pagerank" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2, count(*)::BIGINT AS wt
        |  FROM e a JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |sym AS (SELECT u1, u2, wt FROM w UNION ALL SELECT u2, u1, wt FROM w),
        |degs AS (SELECT u1 AS node, sum(wt)::BIGINT AS ks FROM sym GROUP BY u1),
        |nn AS (SELECT count(*)::BIGINT AS n FROM degs),
        |pr(iter, node, v) AS (
        |  SELECT 0, node, 1000000 // (SELECT n FROM nn) FROM degs
        |  UNION ALL
        |  SELECT p.iter + 1, p.node,
        |    150000 // (SELECT n FROM nn)
        |    + (85 * coalesce((SELECT sum((p2.v * s.wt) // d.ks)
        |        FROM sym s JOIN pr p2 ON p2.node = s.u1 AND p2.iter = p.iter
        |        JOIN degs d ON d.node = s.u1
        |        WHERE s.u2 = p.node), 0)) // 100
        |  FROM pr p WHERE p.iter < 5
        |)
        |SELECT node::BIGINT AS node, v::BIGINT AS pr_ppm
        |FROM pr WHERE iter = 5""".stripMargin,
    // q44 — the embedding SURFACE oracle (see the query scaladoc): node
    // totality + width + unit norm, SQL-exact; vector values stay
    // spec-checked
    "q44_fastrp" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2 FROM e a
        |  JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |nodes AS (SELECT u1 AS node FROM w UNION SELECT u2 FROM w)
        |SELECT node::BIGINT AS node, 32::INT AS dim, 1.0::DOUBLE AS norm
        |FROM nodes""".stripMargin,
    // q42/q45/q47 — community detection under the PARTITION SURFACE
    // oracle (see partitionSurface's scaladoc): node totality is derived
    // from lineitem exactly like q44's, and the engine-computed quality
    // invariants (modularity ≥ 0, ≥ the nation baseline, fewer communities
    // than nodes; Leiden adds per-community connectedness) are pinned as
    // constants — any false boolean hash-mismatches.
    "q42_louvain" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2 FROM e a
        |  JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |nodes AS (SELECT u1 AS node FROM w UNION SELECT u2 FROM w)
        |SELECT node::BIGINT AS node, true AS mod_nonneg,
        |  true AS mod_ge_nation, true AS comms_lt_nodes
        |FROM nodes""".stripMargin,
    "q47_modularity_opt" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2 FROM e a
        |  JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |nodes AS (SELECT u1 AS node FROM w UNION SELECT u2 FROM w)
        |SELECT node::BIGINT AS node, true AS mod_nonneg,
        |  true AS mod_ge_nation, true AS comms_lt_nodes
        |FROM nodes""".stripMargin,
    "q45_leiden" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2 FROM e a
        |  JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |nodes AS (SELECT u1 AS node FROM w UNION SELECT u2 FROM w)
        |SELECT node::BIGINT AS node, true AS mod_nonneg,
        |  true AS mod_ge_nation, true AS comms_lt_nodes,
        |  true AS comm_connected
        |FROM nodes""".stripMargin,
    // q46 — the LSH-DBSCAN surface: totality over the vec_id set +
    // label-in-members pinned true (see the query scaladoc; the exact
    // twin q64 carries every label under the oracle)
    "q46_density" ->
      """SELECT vec_id::BIGINT AS id, true AS label_in_members
        |FROM embeddings""".stripMargin,
    // q48/q49 — density clustering under the CLUSTER SURFACE oracle (see
    // clusterSurface's scaladoc): totality over the input id set + the
    // min-member-label and min-cluster-size contracts pinned true.
    "q48_hdbscan" ->
      """SELECT vec_id::BIGINT AS id, true AS cluster_valid
        |FROM embeddings""".stripMargin,
    "q49_ep2_pipeline" ->
      """WITH e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2 FROM e a
        |  JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |nodes AS (SELECT u1 AS node FROM w UNION SELECT u2 FROM w)
        |SELECT node::BIGINT AS id, true AS cluster_valid
        |FROM nodes""".stripMargin,
    // q40/q41 — ITERATIVE GRAPH ALGORITHMS under the hash oracle: both
    // fixpoints are deterministic functions of the graph (coreness is
    // algorithm-independent; LPA is 5 synchronous most-frequent-label
    // steps with a smallest-label tie-break), so a recursive-CTE
    // re-implementation in DuckDB reproduces them exactly — same
    // precedent as q43's min-label reachability oracle. The h-index
    // window uses RANGE framing so ties share cnt = #neighbors with
    // est ≥ ne, which IS the h-index closed form. 32 fixed iterations
    // upper-bound convergence at both test SFs (verified, 0 mismatches
    // at sf0.01 and sf0.1) — and the final select is SELF-CHECKING: it
    // emits only nodes whose estimate stopped changing (iter 32 = iter
    // 31), so a future graph needing more rounds surfaces as a missing-
    // rows oracle failure, not a phantom engine bug.
    "q40_kcore" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2 FROM e a
        |  JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |sym AS (SELECT u1, u2 FROM w UNION ALL SELECT u2, u1 FROM w),
        |est(iter, node, est) AS (
        |  SELECT 0, u1, count(*)::INT FROM sym GROUP BY u1
        |  UNION ALL
        |  SELECT e.iter + 1, e.node,
        |    (SELECT max(least(r.cnt, r.ne)) FROM (
        |       SELECT ne, count(*) OVER (ORDER BY ne DESC) AS cnt
        |       FROM (SELECT n2.est AS ne
        |             FROM sym s JOIN est n2 ON n2.node = s.u2 AND n2.iter = e.iter
        |             WHERE s.u1 = e.node)) r)::INT
        |  FROM est e WHERE e.iter < 32
        |)
        |SELECT a.node::BIGINT AS node, a.est AS core
        |FROM est a JOIN est b ON a.node = b.node
        |WHERE a.iter = 32 AND b.iter = 31 AND a.est = b.est""".stripMargin,
    "q41_label_prop" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2 FROM e a
        |  JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |sym AS (SELECT u1, u2 FROM w UNION ALL SELECT u2, u1 FROM w),
        |lab(iter, node, label) AS (
        |  SELECT 0, u1, u1 FROM sym GROUP BY u1
        |  UNION ALL
        |  SELECT e.iter + 1, e.node,
        |    coalesce((SELECT l FROM (
        |       SELECT n2.label AS l, count(*) AS c
        |       FROM sym s JOIN lab n2 ON n2.node = s.u2 AND n2.iter = e.iter
        |       WHERE s.u1 = e.node GROUP BY n2.label
        |       ORDER BY c DESC, l ASC LIMIT 1)), e.label)
        |  FROM lab e WHERE e.iter < 5
        |)
        |SELECT node::BIGINT AS node, label::BIGINT AS label
        |FROM lab WHERE iter = 5""".stripMargin,
    "q15_modularity" ->
      s"""WITH $edgeCte,
         |tot AS (SELECT sum(wt) AS m,
         |  sum(CASE WHEN l1 = l2 THEN wt ELSE 0 END) AS intra FROM le),
         |dc AS (SELECT lab.label, coalesce(sum(degs.k), 0) AS d_c
         |  FROM lab LEFT JOIN degs ON lab.node = degs.usr GROUP BY lab.label),
         |sq AS (SELECT sum(d_c * d_c) AS sum_dc_sq,
         |  count(*) AS n_communities FROM dc)
         |SELECT round(intra / m - sum_dc_sq / (4 * m * m), 6) AS modularity,
         |  m, n_communities
         |FROM tot, sq""".stripMargin,
    "q16_structure" ->
      s"""WITH $edgeCte,
         |m2 AS (SELECT 2 * sum(wt) AS v FROM w),
         |contrib AS (
         |  SELECT l1 AS label,
         |    CASE WHEN l1 = l2 THEN wt ELSE 0 END AS internal_w,
         |    CASE WHEN l1 <> l2 THEN wt ELSE 0 END AS cut_w,
         |    CASE WHEN l1 = l2 THEN 1 ELSE 0 END AS internal_n
         |  FROM le
         |  UNION ALL
         |  SELECT l2, 0, CASE WHEN l1 <> l2 THEN wt ELSE 0 END, 0 FROM le),
         |pc AS (SELECT label, sum(internal_w) AS internal_weight,
         |    sum(cut_w) AS cut_weight, sum(internal_n)::BIGINT AS internal_edge_count
         |  FROM contrib GROUP BY label),
         |sz AS (SELECT label, count(*) AS size FROM lab GROUP BY label),
         |vol AS (SELECT lab.label, sum(degs.k) AS volume FROM lab
         |  JOIN degs ON lab.node = degs.usr GROUP BY lab.label)
         |SELECT sz.label, sz.size,
         |  coalesce(pc.internal_weight, 0) AS internal_weight,
         |  coalesce(pc.cut_weight, 0) AS cut_weight,
         |  coalesce(pc.internal_edge_count, 0) AS internal_edge_count,
         |  coalesce(vol.volume, 0) AS volume,
         |  round(CASE WHEN least(coalesce(vol.volume, 0), m2.v - coalesce(vol.volume, 0)) > 0
         |    THEN coalesce(pc.cut_weight, 0) / least(coalesce(vol.volume, 0), m2.v - coalesce(vol.volume, 0))
         |    END, 6) AS conductance,
         |  round(CASE WHEN sz.size > 1
         |    THEN coalesce(pc.internal_edge_count, 0)::DOUBLE * 2 / (sz.size * (sz.size - 1))
         |    END, 6) AS density
         |FROM sz LEFT JOIN pc ON sz.label = pc.label
         |LEFT JOIN vol ON sz.label = vol.label, m2""".stripMargin,
    "q17_ecs" ->
      """WITH nrm AS (SELECT label,
        |  list_transform(embedding::DOUBLE[], x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
        |  FROM embeddings),
        |u AS (SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM nrm),
        |sc AS (SELECT label, list(sv ORDER BY pos) AS s_c FROM
        |  (SELECT label, pos, sum(val) AS sv FROM u GROUP BY label, pos) GROUP BY label),
        |nc AS (SELECT label, count(*) AS n_c FROM embeddings GROUP BY label),
        |st AS (SELECT list(sv ORDER BY pos) AS s_tot FROM
        |  (SELECT pos, sum(val) AS sv FROM u GROUP BY pos)),
        |tot AS (SELECT count(*) AS n FROM embeddings)
        |SELECT nc.label, nc.n_c,
        |  round(CASE WHEN nc.n_c > 1 THEN
        |    (list_inner_product(sc.s_c, sc.s_c) - nc.n_c) / (nc.n_c * (nc.n_c - 1)) END, 6) AS cohesion,
        |  round(CASE WHEN tot.n > nc.n_c THEN
        |    1.0 - (list_inner_product(sc.s_c, st.s_tot) - list_inner_product(sc.s_c, sc.s_c))
        |      / (nc.n_c * (tot.n - nc.n_c)) END, 6) AS separation,
        |  round((CASE WHEN nc.n_c > 1 THEN
        |    (list_inner_product(sc.s_c, sc.s_c) - nc.n_c) / (nc.n_c * (nc.n_c - 1)) END)
        |   * (CASE WHEN tot.n > nc.n_c THEN
        |    1.0 - (list_inner_product(sc.s_c, st.s_tot) - list_inner_product(sc.s_c, sc.s_c))
        |      / (nc.n_c * (tot.n - nc.n_c)) END), 6) AS ecs
        |FROM nc JOIN sc ON nc.label = sc.label, st, tot
        |ORDER BY nc.label""".stripMargin,
    "q18_homophily" ->
      s"""WITH $edgeCte,
         |nv AS (SELECT vec_id AS node,
         |  list_transform(embedding::DOUBLE[], x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
         |  FROM embeddings)
         |SELECT round(avg(list_inner_product(a.v, b.v)), 6) AS edge_mean_sim,
         |  count(*) AS n_edges
         |FROM w JOIN nv a ON w.u1 = a.node JOIN nv b ON w.u2 = b.node""".stripMargin,
    "q43_connected_components" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_orderkey AS post, l_suppkey AS usr FROM lineitem),
        |w AS (SELECT a.usr AS u1, b.usr AS u2 FROM e a
        |  JOIN e b ON a.post = b.post AND a.usr < b.usr GROUP BY 1, 2),
        |sym AS (SELECT u1, u2 FROM w UNION ALL SELECT u2, u1 FROM w),
        |reach(node, lbl) AS (
        |  SELECT DISTINCT u1 AS node, u1 AS lbl FROM sym
        |  UNION
        |  SELECT sym.u2, reach.lbl FROM reach JOIN sym ON reach.node = sym.u1
        |  WHERE reach.lbl < sym.u2)
        |SELECT node, min(lbl) AS label FROM reach GROUP BY node""".stripMargin,
    // q64 — full DBSCAN label re-derivation (see the query scaladoc):
    // normalize in the engine's op order (x/sqrt(Σx²) over the float→
    // double cast, zero vectors pass through — X2's contract), exact
    // ε-join at cosine ≥ 0.35, cores at symmetric degree ≥ 2, min-label
    // fixpoint over core-core edges (q43's recursive-CTE pattern; seeded
    // from every core so isolated cores are their own cluster), borders
    // take the smallest neighboring core's cluster label, rest −1.
    "q64_dbscan_exact" ->
      """WITH RECURSIVE
        |nv AS (SELECT vec_id AS id,
        |    CASE WHEN sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) = 0
        |      THEN embedding::DOUBLE[]
        |      ELSE list_transform(embedding::DOUBLE[],
        |        x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])))
        |    END AS v
        |  FROM embeddings),
        |ed AS (SELECT a.id AS src, b.id AS dst FROM nv a JOIN nv b
        |  ON a.id < b.id AND list_inner_product(a.v, b.v) >= 0.35),
        |sym AS (SELECT src AS u1, dst AS u2 FROM ed UNION ALL SELECT dst, src FROM ed),
        |core AS (SELECT u1 AS id FROM sym GROUP BY u1 HAVING count(*) >= 2),
        |ce AS (SELECT s.u1, s.u2 FROM sym s
        |  JOIN core c1 ON s.u1 = c1.id JOIN core c2 ON s.u2 = c2.id),
        |reach(node, lbl) AS (
        |  SELECT id AS node, id AS lbl FROM core
        |  UNION
        |  SELECT ce.u2, reach.lbl FROM reach JOIN ce ON reach.node = ce.u1
        |  WHERE reach.lbl < ce.u2),
        |cl AS (SELECT node, min(lbl) AS clab FROM reach GROUP BY node),
        |border AS (SELECT s.u1 AS id, min(cl.clab) AS blab FROM sym s
        |  JOIN core c ON s.u2 = c.id JOIN cl ON cl.node = s.u2
        |  WHERE s.u1 NOT IN (SELECT id FROM core)
        |  GROUP BY s.u1)
        |SELECT e.vec_id AS id,
        |  coalesce(cl.clab, border.blab, -1)::BIGINT AS label
        |FROM embeddings e
        |LEFT JOIN cl ON cl.node = e.vec_id
        |LEFT JOIN border ON border.id = e.vec_id""".stripMargin)
}
