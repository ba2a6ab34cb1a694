package graft.metrics

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.SizeGate

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
  *
  * Two tiers, like the graph family's. While each input fits the collect
  * gate ([[SizeGate.collectThreshold]], default 2M: edge rows and label
  * rows each, vectors as rows × dim elements), every function collects
  * each input frame in one bounded job ([[SizeGate.collectWithin]]),
  * computes the same closed forms on the driver and returns a local frame
  * with the distributed tier's columns, types and nullability. Otherwise
  * the distributed plans run: past the gate (a partition past its equal
  * share of it refuses), for keys other than int or long, weights other
  * than double or vectors other than array<double>, or when the driver
  * sees a null key, weight or vector, a NaN weight, a node repeated in a
  * labels or vectors frame (the joins would multiply its rows) or ECS
  * vectors of differing or zero length. A gate of 0 runs them without a
  * collect job. Both tiers share the null semantics: Q is null without a
  * labeled edge (m null or 0), conductance when min(volume, 2m − volume)
  * ≤ 0, density at size ≤ 1, cohesion at n_c = 1, separation when
  * n_c = N, and homophily's mean over zero edges.
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
    * edge set gives the same value. One row (modularity, m,
    * n_communities), n_communities counting the labels on some edge.
    *
    * @param edges  canonical src<dst weighted edges
    * @param labels (node, label)
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame =
    labeledAggregate(edges, labels).fold(distributedModularity(edges, labels)) {
      case (a, _) => localFrame(edges, Seq(a.modularityRow), ModularitySchema)
    }

  /** The distributed tier of [[modularity]]; `Louvain.incumbentGuard`
    * prices a distributed-tier partition with it directly, since its
    * graph is past the collect gate by construction. */
  private[graft] def distributedModularity(edges: DataFrame,
      labels: DataFrame): DataFrame = {
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
  def structure(edges: DataFrame, labels: DataFrame): DataFrame =
    labeledAggregate(edges, labels).fold(distributedStructure(edges, labels)) {
      case (a, lab) => localFrame(edges, a.structureRows,
        structureSchema(lab.labelField))
    }

  private def distributedStructure(edges: DataFrame,
      labels: DataFrame): DataFrame = {
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
    * The driver tier forms S_c as the centroid × n_c and S as the mean
    * of the S_c × their count, the distributed arithmetic.
    *
    * @param members (label, v) with v already L2-normalized array<double>
    */
  def ecs(members: DataFrame): DataFrame = {
    val sel = members.select(col("label"), col("v"))
    collectVectors(sel, SizeGate.collectThreshold)
      .flatMap(localEcs)
      .fold(distributedEcs(members))(localFrame(members, _,
        ecsSchema(sel.schema("label"))))
  }

  private def distributedEcs(members: DataFrame): DataFrame = {
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
    val gate = SizeGate.collectThreshold
    val vecs = nodeVecs.select(col("node"), col("v"))
    val local = for {
      _ <- Option.when(integral(vecs.schema(0).dataType))(())
      (nodes, vs) <- collectVectors(vecs.select(col("node").cast(LongType), col("v")), gate)
      byNode <- nodeMap(nodes, vs)
      es <- collectEdges(edges.select(col("src"), col("dst"), lit(0.0).as("weight")),
        gate)
    } yield {
      var (total, n) = (0.0, 0L)
      es.src.indices.foreach { e =>
        (byNode.get(es.src(e)), byNode.get(es.dst(e))) match {
          case (Some(a), Some(b)) => total += dot(a, b); n += 1
          case _ =>
        }
      }
      Row(if (n == 0) null else total / n, n)
    }
    local.fold(distributedHomophily(edges, nodeVecs))(r =>
      localFrame(edges, Seq(r), HomophilySchema))
  }

  private def distributedHomophily(edges: DataFrame,
      nodeVecs: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions
    val e = edges
      .join(nodeVecs.select(col("node").as("src"), col("v").as("va")), "src")
      .join(nodeVecs.select(col("node").as("dst"), col("v").as("vb")), "dst")
    e.agg(avg(VectorFunctions.dot(col("va"), col("vb"))).as("edge_mean_sim"),
      count(lit(1)).as("n_edges"))
  }

  // ---- the driver tier ----

  private val ModularitySchema = StructType(Seq(
    StructField("modularity", DoubleType),
    StructField("m", DoubleType),
    StructField("n_communities", LongType, nullable = false)))

  private def structureSchema(label: StructField) = StructType(Seq(
    label,
    StructField("size", LongType, nullable = false),
    StructField("internal_weight", DoubleType, nullable = false),
    StructField("cut_weight", DoubleType, nullable = false),
    StructField("internal_edge_count", LongType, nullable = false),
    StructField("volume", DoubleType, nullable = false),
    StructField("conductance", DoubleType),
    StructField("density", DoubleType)))

  private def ecsSchema(label: StructField) = StructType(Seq(
    label,
    StructField("n_c", LongType, nullable = false),
    StructField("cohesion", DoubleType),
    StructField("separation", DoubleType),
    StructField("ecs", DoubleType)))

  private val HomophilySchema = StructType(Seq(
    StructField("edge_mean_sim", DoubleType),
    StructField("n_edges", LongType, nullable = false)))

  private def localFrame(like: DataFrame, rows: Seq[Row],
      schema: StructType): DataFrame =
    like.sparkSession.createDataFrame(rows.asJava, schema)

  /** The getter of an integral key column, kept in its own type, or None
    * for a type the driver tier leaves to the plans. */
  private def keyGetter(t: DataType): Option[(InternalRow, Int) => Any] = t match {
    case IntegerType => Some((r, i) => r.getInt(i))
    case LongType => Some((r, i) => r.getLong(i))
    case _ => None
  }

  private def integral(t: DataType): Boolean = t == IntegerType || t == LongType

  /** Collected edges as parallel primitive arrays, cheap to ship. */
  private final case class Edges(src: Array[Long], dst: Array[Long], w: Array[Double])

  /** `edges`' (src, dst, weight) rows within `gate`, or None past it, on
    * a null or a NaN weight. */
  private def collectEdges(edges: DataFrame, gate: Long): Option[Edges] = {
    val Seq(s, d, w) = edges.schema.map(_.dataType)
    if (gate <= 0 || !integral(s) || !integral(d) || w != DoubleType) return None
    val rows = edges.select(col("src").cast(LongType), col("dst").cast(LongType),
      col("weight")).queryExecution.toRdd
    SizeGate.collectWithin(rows, gate) { it =>
      val (src, dst, wt) =
        (Array.newBuilder[Long], Array.newBuilder[Long], Array.newBuilder[Double])
      var clean = true
      it.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2) || r.getDouble(2).isNaN)
          clean = false
        else { src += r.getLong(0); dst += r.getLong(1); wt += r.getDouble(2) }
      }
      if (clean) Edges(src.result(), dst.result(), wt.result()) else null
    }.filterNot(_.contains(null))
      .map(ps => Edges(ps.flatMap(_.src), ps.flatMap(_.dst), ps.flatMap(_.w)))
  }

  /** A (key, v) frame's keys and vectors within `gate` array elements, or
    * None past it, for a key type left to the plans, or on a null key,
    * vector or element. */
  private def collectVectors(frame: DataFrame,
      gate: Long): Option[(Array[Any], Array[Array[Double]])] = {
    val key = keyGetter(frame.schema(0).dataType).orNull
    val doubles = frame.schema(1).dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (gate <= 0 || key == null || !doubles) return None
    val rows = frame.queryExecution.toRdd
    SizeGate.collectWithin(rows, gate, (r: InternalRow) =>
        if (r.isNullAt(1)) 1L else math.max(r.getArray(1).numElements(), 1).toLong) { it =>
      val (ks, vs) = (Array.newBuilder[Any], Array.newBuilder[Array[Double]])
      var clean = true
      it.foreach { r =>
        val a = if (r.isNullAt(1)) null else r.getArray(1)
        if (r.isNullAt(0) || a == null || (0 until a.numElements()).exists(a.isNullAt))
          clean = false
        else { ks += key(r, 0); vs += a.toDoubleArray() }
      }
      if (clean) (ks.result(), vs.result()) else null
    }.filterNot(_.contains(null)).map(ps => (ps.flatMap(_._1), ps.flatMap(_._2)))
  }

  /** The vectors by node, or None when a node repeats. */
  private def nodeMap(nodes: Array[Any],
      vs: Array[Array[Double]]): Option[mutable.LongMap[Array[Double]]] = {
    val byNode = mutable.LongMap.empty[Array[Double]]
    nodes.indices.foreach { i =>
      val node = nodes(i).asInstanceOf[Long]
      if (byNode.contains(node)) return None
      byNode(node) = vs(i)
    }
    Some(byNode)
  }

  /** The collected labels: each node's community index, and each
    * community's label value and size, in first-seen order. */
  private final class Labels(val labelField: StructField) {
    val of = mutable.LongMap.empty[Int]
    val values = mutable.ArrayBuffer.empty[Any]
    val sizes = mutable.ArrayBuffer.empty[Long]
  }

  /** The labels within `gate`, or None past it, on a null or a repeated
    * node. */
  private def collectLabels(labels: DataFrame, gate: Long): Option[Labels] = {
    val sel = labels.select(col("node"), col("label"))
    val key = keyGetter(sel.schema(1).dataType).orNull
    if (gate <= 0 || !integral(sel.schema(0).dataType) || key == null) return None
    val rows = sel.select(col("node").cast(LongType), col("label")).queryExecution.toRdd
    val parts = SizeGate.collectWithin(rows, gate) { it =>
      val (ns, ls) = (Array.newBuilder[Long], Array.newBuilder[Any])
      var clean = true
      it.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) clean = false
        else { ns += r.getLong(0); ls += key(r, 1) }
      }
      if (clean) (ns.result(), ls.result()) else null
    }.getOrElse(return None)
    if (parts.contains(null)) return None
    val lab = new Labels(sel.schema(1))
    val index = mutable.HashMap.empty[Any, Int]
    for ((nodes, values) <- parts; i <- nodes.indices) {
      if (lab.of.contains(nodes(i))) return None
      val c = index.getOrElseUpdate(values(i), {
        lab.values += values(i); lab.sizes += 0L; lab.values.length - 1 })
      lab.sizes(c) += 1
      lab.of(nodes(i)) = c
    }
    Some(lab)
  }

  /** [[communityAggregate]] on the driver: per community the sums of the
    * labeled edges (`touched` marks a label on some edge, i.e. a row of
    * the distributed aggregate), and the totals m and m_all, None where
    * the distributed sum is null. */
  private final class Aggregate(lab: Labels, edges: Edges) {
    private val k = lab.values.length
    val internalW, cutW, volume = new Array[Double](k)
    val internalN = new Array[Long](k)
    val touched = new Array[Boolean](k)
    private var mSum = 0.0
    private var labeledEdge = false
    edges.w.indices.foreach { e =>
      val w = edges.w(e)
      val (ls, ld) = (lab.of.getOrElse(edges.src(e), -1), lab.of.getOrElse(edges.dst(e), -1))
      if (ls >= 0 && ld >= 0) { mSum += w; labeledEdge = true }
      if (ls >= 0) {
        touched(ls) = true; volume(ls) += w
        if (ls == ld) { internalW(ls) += w; internalN(ls) += 1 }
        else if (ld >= 0) cutW(ls) += w
      }
      if (ld >= 0) {
        touched(ld) = true; volume(ld) += w
        if (ls >= 0 && ls != ld) cutW(ld) += w
      }
    }
    val m: Option[Double] = Option.when(labeledEdge)(mSum)
    val mAll: Option[Double] = Option.when(edges.w.nonEmpty)(edges.w.sum)

    def modularityRow: Row = {
      var (intra, dcSq, n) = (0.0, 0.0, 0L)
      (0 until k).filter(touched(_)).foreach { c =>
        intra += internalW(c); dcSq += volume(c) * volume(c); n += 1
      }
      val q = for {
        mm <- m if n > 0
        a <- div(intra, mm)
        b <- div(dcSq, 4.0 * mm * mm)
      } yield a - b
      Row(q.getOrElse(null), m.getOrElse(null), n)
    }

    def structureRows: Seq[Row] = (0 until k).map { c =>
      val size = lab.sizes(c)
      val (iw, cw, vol) = (filled(internalW(c)), filled(cutW(c)), filled(volume(c)))
      // least() skips a null and orders NaN last
      val low = mAll.map(2.0 * _ - vol).filterNot(_.isNaN).fold(vol)(math.min(vol, _))
      Row(lab.values(c), size, iw, cw, internalN(c), vol,
        if (low > 0.0) cw / low else null,
        if (size > 1) internalN(c).toDouble * 2.0 / (size * (size - 1)) else null)
    }
  }

  /** na.fill(0.0) also replaces NaN. */
  private def filled(x: Double): Double = if (x.isNaN) 0.0 else x

  /** Division as the plans divide: null by zero. */
  private def div(a: Double, b: Double): Option[Double] =
    if (b == 0.0) None else Some(a / b)

  /** Both inputs of [[modularity]] / [[structure]] on the driver, or None
    * for the distributed tier. */
  private def labeledAggregate(edges: DataFrame,
      labels: DataFrame): Option[(Aggregate, Labels)] = {
    val gate = SizeGate.collectThreshold
    for {
      es <- collectEdges(edges.select(col("src"), col("dst"), col("weight")), gate)
      lab <- collectLabels(labels, gate)
    } yield (new Aggregate(lab, es), lab)
  }

  /** The ECS rows of collected (label, v) members, or None when the
    * vectors differ in length or have none, which the distributed plans
    * handle (VectorMean rejects mixed lengths). */
  private def localEcs(members: (Array[Any], Array[Array[Double]])): Option[Seq[Row]] = {
    val (labels, vs) = members
    val dim = vs.headOption.fold(1)(_.length)
    if (dim == 0 || vs.exists(_.length != dim)) return None
    val groups = mutable.LinkedHashMap.empty[Any, (Array[Double], Array[Long])]
    labels.indices.foreach { m =>
      val (l, v) = (labels(m), vs(m))
      val (s, n) = groups.getOrElseUpdate(l, (new Array[Double](dim), Array(0L)))
      var i = 0
      while (i < dim) { s(i) += v(i); i += 1 }
      n(0) += 1
    }
    // s_c = VectorMean × n_c, S = VectorMean(s_c) × the label count
    val byLabel = groups.toSeq.map { case (l, (s, n)) =>
      (l, n(0), s.map(_ / n(0)).map(_ * n(0).toDouble))
    }
    val sumS = new Array[Double](dim)
    byLabel.foreach { case (_, _, sc) =>
      var i = 0
      while (i < dim) { sumS(i) += sc(i); i += 1 }
    }
    val nLabels = byLabel.length.toLong
    val sTot = sumS.map(_ / nLabels).map(_ * nLabels.toDouble)
    val nTotal = byLabel.map(_._2).sum
    Some(byLabel.map { case (l, n, sc) =>
      val cohesion: Option[Double] =
        if (n > 1) Some((dot(sc, sc) - n) / (n * (n - 1)).toDouble) else None
      val separation: Option[Double] =
        if (nTotal > n)
          Some(1.0 - dot(sc, sTot.zip(sc).map { case (t, s) => t - s }) /
            (n * (nTotal - n)).toDouble)
        else None
      val ecs = for (c <- cohesion; s <- separation) yield c * s
      Row(l, n, cohesion.getOrElse(null), separation.getOrElse(null),
        ecs.getOrElse(null))
    })
  }

  /** The `vec_dot` kernel: Σ aᵢbᵢ over the shorter length. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var (s, i) = (0.0, 0)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
}
