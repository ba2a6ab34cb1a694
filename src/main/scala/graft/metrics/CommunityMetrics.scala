package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community / echo-chamber metrics as closed-form one-pass aggregations
  * (SURVEY.md §2.4 A5–A12; reference python loops at
  * project/metrics/metrics.py).
  *
  * The reference iterates Python-side per community — O(C·E) passes
  * (metrics.py:148-189). Every metric here is instead a constant number of
  * grouped aggregations over the edge and membership relations — the
  * signature algorithmic win of the Spark engine (SURVEY.md §4).
  * Modularity and structure share one labeled-edge aggregate per labeling
  * ([[communityAggregate]]); volumes come from it, not from a degree pass.
  */
object CommunityMetrics {

  /** The one labeled-edge aggregate behind [[modularity]] and
    * [[structure]]. The edges are left-joined to `labels` on both
    * endpoints, so every edge stays; each edge is exploded to its two
    * endpoints and one `groupBy(label)` yields, per community:
    *   - `internal_weight` / `internal_edge_count`: edges with both
    *     endpoints in it (counted once, on the src side)
    *   - `cut_weight`: edges from it to another labeled community
    *   - `volume`: its weighted degree — every labeled endpoint adds the
    *     edge weight to its label's volume, whatever the other end is
    *
    * The second frame is one row of global totals from the same labeled
    * edges, computed in the plan rather than by a driver action: `m_all`
    * sums every edge, `m` only the edges whose two endpoints are labeled.
    */
  private def communityAggregate(edges: DataFrame,
      labels: DataFrame): (DataFrame, DataFrame) = {
    def side(end: String) =
      labels.select(col("node").as(end), col("label").as("l" + end))
    val e = edges
      .join(side("src"), Seq("src"), "left")
      .join(side("dst"), Seq("dst"), "left")
    val w = col("weight")
    // NULL (one endpoint unlabeled) falls through to `otherwise`
    val internal = col("lsrc") === col("ldst")
    val cut = col("lsrc") =!= col("ldst")
    val perCommunity = e.select(
        explode(array(
          struct(col("lsrc").as("label"),
            when(internal, w).otherwise(0.0).as("internal_w"),
            when(cut, w).otherwise(0.0).as("cut_w"),
            when(internal, 1L).otherwise(0L).as("internal_n"),
            w.as("vol_w")),
          struct(col("ldst").as("label"),
            lit(0.0).as("internal_w"), // count intra edge once (on src side)
            when(cut, w).otherwise(0.0).as("cut_w"),
            lit(0L).as("internal_n"),
            w.as("vol_w")))).as("x"))
      .select(col("x.*"))
      .filter(col("label").isNotNull)
      .groupBy(col("label"))
      .agg(sum(col("internal_w")).as("internal_weight"),
        sum(col("cut_w")).as("cut_weight"),
        sum(col("internal_n")).as("internal_edge_count"),
        sum(col("vol_w")).as("volume"))
    val totals = e.agg(
      sum(when(col("lsrc").isNotNull && col("ldst").isNotNull, w)).as("m"),
      sum(w).as("m_all"))
    (perCommunity, totals)
  }

  /** Modularity Q = Σ_c [L_c/m − (d_c/2m)²] of a labeled undirected
    * weighted graph (A10; replaces NetworkX community.modularity at
    * metrics.py:57-98): one global aggregate over [[communityAggregate]].
    * m and L_c count the edges with both endpoints labeled; d_c is the
    * community's volume over all edges. Q is unchanged when every edge
    * (self-loops included) appears in both orientations, so a symmetric
    * edge set gives the same value.
    *
    * @param edges  canonical src<dst weighted edges
    * @param labels (node, label)
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val (perCommunity, totals) = communityAggregate(edges, labels)
    perCommunity
      .agg(sum(col("internal_weight")).as("intra"),
        sum(col("volume") * col("volume")).as("sum_dc_sq"),
        count(lit(1)).as("n_communities"))
      .crossJoin(totals)
      .select(
        (col("intra") / col("m") -
          col("sum_dc_sq") / (lit(4.0) * col("m") * col("m"))).as("modularity"),
        col("m"), col("n_communities"))
  }

  /** Per-community structural metrics from [[communityAggregate]]:
    * internal/cut weights, volume, conductance, internal density
    * (A7/A8/A9; metrics.py:109-126,165-189). Every labeled node's
    * community gets a row; conductance uses m over all edges. */
  def structure(edges: DataFrame, labels: DataFrame): DataFrame = {
    val (perCommunity, totals) = communityAggregate(edges, labels)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("size"))
    val rest = lit(2.0) * col("m_all") - col("volume")
    sizes
      .join(perCommunity, Seq("label"), "left")
      .na.fill(0.0, Seq("internal_weight", "cut_weight", "volume"))
      .na.fill(0L, Seq("internal_edge_count"))
      .crossJoin(broadcast(totals.select(col("m_all"))))
      .withColumn("conductance",
        when(least(col("volume"), rest) > 0.0,
          col("cut_weight") / least(col("volume"), rest)))
      .withColumn("density",
        when(col("size") > 1,
          col("internal_edge_count").cast("double") * 2.0 /
            (col("size") * (col("size") - 1))))
      .drop("m_all")
  }

  /** Echo Chamber Score per community from member vectors, closed form
    * (A12/A4–A6; replaces the O(C·E) python loop at metrics.py:127-205).
    *
    * With unit vectors: mean intra-pair cosine = (‖S_c‖² − n_c)/(n_c(n_c−1)),
    * mean cross-pair cosine = S_c·(S − S_c)/(n_c(N − n_c)) — so the whole
    * table needs one vector-sum aggregation per community plus a broadcast
    * of the global sum. O(N·dim) total, no pair join: THE 100 TB path.
    *
    * @param members (label, v) with v already L2-normalized array<double>
    */
  def ecs(members: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions
    val byLabel = members
      .groupBy(col("label"))
      .agg(graft.functions.VectorMean(col("v")).as("centroid"),
        count(lit(1)).as("n_c"))
      .withColumn("s_c", transform(col("centroid"), x => x * col("n_c")))
    val totals = byLabel.agg(
      graft.functions.VectorMean(col("s_c")).as("mean_s"),
      count(lit(1)).as("n_labels"),
      sum(col("n_c")).as("n_total"))
      .withColumn("s_tot", transform(col("mean_s"), x => x * col("n_labels")))
      .select(col("s_tot"), col("n_total"))
    byLabel.crossJoin(broadcast(totals))
      .withColumn("cohesion",
        when(col("n_c") > 1,
          (VectorFunctions.dot(col("s_c"), col("s_c")) - col("n_c")) /
            (col("n_c") * (col("n_c") - lit(1)))))
      .withColumn("separation",
        when(col("n_total") > col("n_c"),
          lit(1.0) - VectorFunctions.dot(col("s_c"),
            zip_with(col("s_tot"), col("s_c"), (t, s) => t - s)) /
            (col("n_c") * (col("n_total") - col("n_c")))))
      .withColumn("ecs", col("cohesion") * col("separation"))
      .select(col("label"), col("n_c"), col("cohesion"), col("separation"), col("ecs"))
  }

  /** Global homophily as the edge mean (A5; metrics.py:101-106): one row of
    * `edge_mean_sim`, the unweighted mean dot product of the endpoint
    * vectors over the edges whose two endpoints both have a vector, and
    * `n_edges`, the number of those edges. No random-pair baseline is
    * subtracted. `nodeVecs`: (node, v) unit vectors, so each dot product is
    * a cosine similarity. */
  def homophily(edges: DataFrame, nodeVecs: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions._
    val e = edges
      .join(nodeVecs.select(col("node").as("src"), col("v").as("va")), "src")
      .join(nodeVecs.select(col("node").as("dst"), col("v").as("vb")), "dst")
    e.agg(avg(dot(col("va"), col("vb"))).as("edge_mean_sim"),
      count(lit(1)).as("n_edges"))
  }
}
