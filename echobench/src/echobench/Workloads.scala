package echobench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.{VectorFunctions, VectorMean}
import graft.graph._
import graft.metrics.CommunityMetrics
import graft.schemas.Entities
import graft.streaming.Streams
import graft.warehouse.Scd2

/** What one timed operation reports: its wall time, and the wall time and
  * input records of its ingest stage. */
final case class Op(wallS: Double, ingestS: Double, ingestEvents: Long)

final case class Check(name: String, ok: Boolean, detail: String = "")

/** Shared plumbing for the workloads: the session, the tracer, the
  * per-iteration counters of the traced pass and the frames an iteration
  * must release. */
final class Ctx(val tracer: Tracer, val work: File) {
  var spark: SparkSession = _
  val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  /** Ids of the RDDs that hold the benchmark's own caches (see [[keep]]):
    * their blocks are not the engine's checkpoint work. */
  val keptRdds: java.util.Set[Int] = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val held = mutable.ArrayBuffer.empty[DataFrame]

  def traced: Boolean = tracer.enabled
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  def count(name: String, v: => Double): Unit = if (traced) {
    val m = counters.getOrElseUpdate(tracer.iter, mutable.Map.empty)
    m(name) = m.getOrElse(name, 0.0) + v
  }

  /** Full materialization: every column of every row is computed and
    * discarded. `count()` would let the optimizer prune the projection. */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Cache, materialize fully, and remember to release after the
    * iteration. The cache lets later steps and the untimed checks read the
    * very result that was timed; writing it is part of the operation's
    * wall time, but its blocks are left out of the `checkpoint.*` counts. */
  def keep(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    consume(c)
    c.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation =>
      keptRdds.add(r.cacheBuilder.cachedColumnBuffers.id) }
    held += c
    c
  }

  def release(): Unit = {
    held.foreach { df =>
      graft.util.BlockRelease.release(df)
      df.unpersist(blocking = true)
    }
    held.clear()
  }

  def dir(rel: String): String = new File(work, rel).getPath
}

object Fs {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
    else f.length()

  /** bucket dir → (data file names, bytes) of a bucketed state table. */
  def buckets(table: String): Map[String, (Set[String], Long)] = {
    val d = new File(table)
    Option(d.listFiles).toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
      .map { b =>
        val files = Option(b.listFiles).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
        b.getName -> (files.map(_.getName).toSet, files.map(_.length).sum)
      }.toMap
  }
}

/** A workload: seeded input generation (untimed), a warm-up operation
  * (set-up), the timed operation, and the output checks. */
trait Workload {
  def name: String
  /** Generates the inputs; returns manifest entries. */
  def generate(sink: Gen.Sink, rnd: SplittableRandom): Seq[(String, Any)]
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx, i: Int): Op
  /** Checks of the operation that just ran (untimed). */
  def check(ctx: Ctx, i: Int, op: Op): Seq[Check]
  /** Checks made once, after the timed loop. */
  def finalChecks(ctx: Ctx): Seq[Check]
  /** Median over operations of the lowest modularity achieved; 1.0 where
    * no community partition is computed. */
  def modularityMin: Double = 1.0
  /** Planted near-duplicate pairs recovered; 1.0 where nothing is planted. */
  def recall: Double = 1.0
  /** Cleanup between operations (untimed). */
  def cleanup(ctx: Ctx, i: Int): Unit = ctx.release()
}

/** The graph half of the paper's pipeline, shared by the echo workloads. */
object Pipeline {

  val CollectGate = 2000000L
  val BruteGate = 2000L

  /** Bucketed, keyed upsert through the streaming layer's merge path. The
    * traced pass also measures the touched buckets and bytes rewritten,
    * from the table directory, outside the span. */
  def merge(ctx: Ctx, batch: DataFrame, table: String, key: String): Unit = {
    val before = if (ctx.traced) Fs.buckets(table) else Map.empty[String, (Set[String], Long)]
    ctx.span("streaming.merge") {
      Streams.mergeUpsert(batch, table, key)
    }
    if (ctx.traced) {
      val after = Fs.buckets(table)
      val touched = after.filter { case (b, (files, _)) => !before.get(b).exists(_._1 == files) }
      ctx.count("streaming.merges", 1)
      ctx.count("streaming.touched_buckets", touched.size)
      ctx.count("streaming.bytes_rewritten", touched.values.map(_._2).sum.toDouble)
    }
  }

  def edgeRows(likes: DataFrame): DataFrame = likes.select(
    concat_ws("|", col("user_did"), col("uri")).as("edge_id"), col("user_did"), col("uri"))

  /** Drains both file topics into users, edges and vectors with
    * Structured Streaming (AvailableNow ≙ drain the topic). */
  def drain(ctx: Ctx, usersTopic: String, postsTopic: String, state: String,
      ckpt: String): Unit = {
    val spark = ctx.spark
    val parent = ctx.tracer.currentSpan
    val users = Streams.subscribe(spark, usersTopic, Entities.userStreamSchema).writeStream
      .option("checkpointLocation", s"$ckpt/users")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ctx.tracer.under(parent) {
          val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
          try {
            val (profiles, likes) = Streams.routeUserStream(b)
            merge(ctx, Streams.cleanProfiles(profiles), s"$state/users", "did")
            merge(ctx, edgeRows(likes), s"$state/edges", "edge_id")
          } finally { b.unpersist(blocking = false); () }
        }
      }.start()
    users.awaitTermination()
    val posts = Streams.embedPosts(
        Streams.subscribe(spark, postsTopic, Entities.postStreamSchema))
      .writeStream
      .option("checkpointLocation", s"$ckpt/vectors")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ctx.tracer.under(parent) { merge(ctx, batch, s"$state/vectors", "id") }
      }.start()
    posts.awaitTermination()
  }

  /** Fresh engagement frame (uid, user_did, uri) read from the edges state. */
  def engagements(ctx: Ctx, state: String): DataFrame =
    ctx.spark.read.parquet(s"$state/edges")
      .select(xxhash64(col("user_did")).as("uid"), col("user_did"), col("uri"))

  final case class Labels(kcore: DataFrame, lpa: DataFrame, louvain: DataFrame,
      leiden: DataFrame, modOpt: DataFrame, fastrp: DataFrame, hdbscan: DataFrame)

  /** The six community algorithms at their default tiers, each consumed
    * in full; HDBSCAN runs over 128-dim FastRP embeddings, as the
    * reference does. */
  def algorithms(ctx: Ctx, edges: DataFrame): Labels = {
    val kcore = ctx.span("graph.kcore") { ctx.keep(KCore.run(edges)) }
    val lpa = ctx.span("graph.label_prop") {
      ctx.keep(GraphAlgos.labelPropagationDF(edges, maxSteps = 5)) }
    val louvain = ctx.span("graph.louvain") { ctx.keep(Louvain.run(edges)) }
    val leiden = ctx.span("graph.leiden") { ctx.keep(Leiden.run(edges)) }
    val modOpt = ctx.span("graph.modularity_opt") {
      ctx.keep(Louvain.modularityOptimization(edges, rounds = 4)) }
    val fastrp = ctx.span("graph.fastrp") { ctx.keep(FastRP.run(edges, dim = 128)) }
    val hdbscan = ctx.span("graph.hdbscan") {
      ctx.keep(Hdbscan.run(fastrp.select(col("node").as("id"), col("embedding").as("v")),
        minPts = 4, minClusterSize = 4)) }
    Labels(kcore, lpa, louvain, leiden, modOpt, fastrp, hdbscan)
  }

  /** Echo-chamber metrics: modularity of the three modularity-seeking
    * partitions, per-community structure (conductance), ECS and homophily.
    * Returns the three modularities. */
  def communityMetrics(ctx: Ctx, edges: DataFrame, l: Labels,
      userVecs: DataFrame): Seq[Double] = ctx.span("metrics") {
    val mods = Seq(l.louvain, l.leiden, l.modOpt).map { lab =>
      CommunityMetrics.modularity(edges, lab).select(col("modularity")).head().getDouble(0)
    }
    ctx.consume(CommunityMetrics.structure(edges, l.louvain))
    ctx.consume(CommunityMetrics.ecs(userVecs.join(l.louvain, "node").select(col("label"), col("v"))))
    ctx.consume(CommunityMetrics.homophily(edges, userVecs))
    mods
  }

  /** Per-user mean post vectors (the reference's user "ideology" vector). */
  def userVectors(ctx: Ctx, eng: DataFrame, state: String): DataFrame =
    ctx.span("functions.vector_mean") {
      val vecs = ctx.spark.read.parquet(s"$state/vectors").select(col("uri"), col("embedding"))
      ctx.keep(eng.join(vecs, "uri")
        .select(col("uid"), VectorFunctions.l2normalize(col("embedding")).as("nv"))
        .groupBy(col("uid"))
        .agg(VectorMean(col("nv")).as("mean_v"))
        .select(col("uid").as("node"), VectorFunctions.l2normalize(col("mean_v")).as("v")))
    }

  def membershipOf(louvain: DataFrame, eng: DataFrame): DataFrame =
    louvain.join(eng.select(col("uid").as("node"), col("user_did")).distinct(), "node")
      .select(concat(lit("comm-"), col("label").cast("string")).as("community_id"),
        col("user_did").as("member_id"))

  val membershipSchema: StructType = StructType(Seq(
    StructField("community_id", StringType), StructField("member_id", StringType),
    StructField("valid_from", TimestampType), StructField("valid_to", TimestampType)))

  /** Commit time of the initial membership load. */
  val loadSeconds = 1735689600L
  def loadTs: Column = lit(new java.sql.Timestamp(loadSeconds * 1000))

  // ---------------------------------------------------------------- checks

  final case class Graph(edges: Array[(Long, Long, Double)]) {
    lazy val nodes: Set[Long] = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    lazy val adj: Map[Long, Seq[Long]] = edges.toSeq
      .flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1)).groupMap(_._1)(_._2)
    lazy val m: Double = edges.map(_._3).sum

    /** Modularity computed independently of the engine, on the driver. */
    def modularity(label: Map[Long, Long]): Double = {
      val intra = edges.iterator.filter(e => label(e._1) == label(e._2)).map(_._3).sum
      val deg = mutable.Map.empty[Long, Double]
      edges.foreach { case (a, b, w) => deg(label(a)) = deg.getOrElse(label(a), 0.0) + w
        deg(label(b)) = deg.getOrElse(label(b), 0.0) + w }
      intra / m - deg.values.map(d => d * d).sum / (4 * m * m)
    }

    /** Communities whose members do not induce one connected subgraph. */
    def disconnected(label: Map[Long, Long]): Int =
      label.groupMap(_._2)(_._1).values.count { members =>
        val set = members.toSet
        val seen = mutable.HashSet(members.head)
        val stack = mutable.Stack(members.head)
        while (stack.nonEmpty) {
          val n = stack.pop()
          adj.getOrElse(n, Nil).foreach(x => if (set(x) && seen.add(x)) stack.push(x))
        }
        seen.size != set.size
      }
  }

  def collectGraph(edges: DataFrame): Graph = {
    val spark = edges.sparkSession
    import spark.implicits._
    Graph(edges.select(col("src"), col("dst"), col("weight")).as[(Long, Long, Double)].collect())
  }

  def labelMap(df: DataFrame, idCol: String, labelCol: String): (Map[Long, Long], Int) = {
    val rows = df.select(col(idCol).cast("long"), col(labelCol).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    (rows.toMap, rows.length)
  }

  def graphChecks(g: Graph, exp: Gen.Expect, l: Labels, mods: Seq[Double]): Seq[Check] = {
    val base = Seq(
      Check("projection.edges", g.edges.length == exp.edges, s"${g.edges.length} vs ${exp.edges}"),
      Check("projection.weight", math.abs(g.m - exp.totalWeight) < 1e-6, s"${g.m} vs ${exp.totalWeight}"),
      Check("projection.nodes", g.nodes.size == exp.nodes, s"${g.nodes.size} vs ${exp.nodes}"))
    val algos = Seq("kcore" -> (l.kcore, "node", "core"), "label_prop" -> (l.lpa, "node", "label"),
      "louvain" -> (l.louvain, "node", "label"), "leiden" -> (l.leiden, "node", "label"),
      "modularity_opt" -> (l.modOpt, "node", "label"), "hdbscan" -> (l.hdbscan, "id", "label"))
    val labels = algos.map { case (n, (df, id, lab)) => n -> labelMap(df, id, lab) }.toMap
    val totality = labels.map { case (n, (m, rows)) =>
      Check(s"$n.labels_each_node_once", rows == m.size && m.keySet == g.nodes,
        s"rows=$rows distinct=${m.size} nodes=${g.nodes.size}")
    }.toSeq
    val fastrpRows = l.fastrp.select(col("node")).collect().map(_.getLong(0))
    val modChecks = Seq("louvain", "leiden", "modularity_opt").zip(mods).flatMap { case (n, q) =>
      val recountQ = g.modularity(labels(n)._1)
      Seq(Check(s"$n.modularity_nonneg", q >= 0, f"$q%.6f"),
        Check(s"$n.modularity_matches_recount", math.abs(q - recountQ) < 1e-6, f"$q%.9f vs $recountQ%.9f"))
    }
    val leidenBad = g.disconnected(labels("leiden")._1)
    base ++ totality ++ modChecks ++ Seq(
      Check("fastrp.each_node_once", fastrpRows.length == g.nodes.size && fastrpRows.toSet == g.nodes),
      Check("leiden.communities_connected", leidenBad == 0, s"$leidenBad disconnected"))
  }

  /** The warehouse's ingest state against the generator's counts. */
  def ingestChecks(spark: SparkSession, state: String, exp: Gen.Expect): Seq[Check] = {
    val users = spark.read.parquet(s"$state/users")
    val u = users.agg(count(lit(1)), count(when(col("handle") === "unknown", 1))).head()
    val e = spark.read.parquet(s"$state/edges").count()
    val v = spark.read.parquet(s"$state/vectors").count()
    Seq(Check("ingest.users", u.getLong(0) == exp.users, s"${u.getLong(0)} vs ${exp.users}"),
      Check("ingest.unknown_handles", u.getLong(1) == exp.unknownHandles,
        s"${u.getLong(1)} vs ${exp.unknownHandles}"),
      Check("ingest.engagements", e == exp.engagements, s"$e vs ${exp.engagements}"),
      Check("ingest.vectors", v == exp.vectors, s"$v vs ${exp.vectors}"))
  }

  def stateSummary(spark: SparkSession, state: String): Seq[Long] =
    Seq("users", "edges", "vectors").flatMap { t =>
      val df = spark.read.parquet(s"$state/$t")
      val h = pmod(xxhash64(df.columns.filterNot(_ == "__bucket").map(col): _*), lit(1000000007L))
      val r = df.agg(count(lit(1)), sum(h)).head()
      Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

  /** SCD-2 invariants: one open row per key; no overlapping intervals; the
    * open rows are the expected membership. Also returns the rows opened
    * by the load. */
  def scd2Checks(membership: DataFrame,
      expectOpen: Map[String, String]): (Seq[Check], Int) = {
    val rows = membership.select(col("member_id"), col("community_id"),
        col("valid_from").cast("long"), col("valid_to").cast("long")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3)))
    val byKey = rows.groupBy(_._1)
    val badOpen = byKey.count { case (_, rs) => rs.count(_._4 == Long.MaxValue) != 1 }
    val overlaps = byKey.count { case (_, rs) =>
      val s = rs.sortBy(_._3)
      s.zip(s.drop(1)).exists { case (a, b) => a._4 > b._3 } || s.exists(r => r._4 < r._3)
    }
    val open = rows.filter(_._4 == Long.MaxValue).map(r => r._1 -> r._2).toMap
    (Seq(Check("scd2.one_open_row_per_key", badOpen == 0, s"$badOpen keys"),
      Check("scd2.no_overlapping_intervals", overlaps == 0, s"$overlaps keys"),
      Check("scd2.open_rows_are_current_membership", open == expectOpen,
        s"${open.size} open vs ${expectOpen.size} members")),
      rows.count(_._3 == loadSeconds))
  }

  def membershipMap(df: DataFrame): Map[String, String] =
    df.select(col("member_id"), col("community_id")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
}
