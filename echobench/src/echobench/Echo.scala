package echobench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.graph.Projection
import graft.warehouse.Scd2

/** Size gates of the engine, stated per input in the manifest. */
object Gates {
  def sides(edges: Long, hdbscanPoints: Long): Seq[(String, Any)] = Seq(
    "collect_gate" -> (if (edges <= Pipeline.CollectGate) s"collect ($edges <= ${Pipeline.CollectGate} edges)"
      else s"distributed ($edges > ${Pipeline.CollectGate} edges)"),
    "hdbscan_brute_gate" -> (if (hdbscanPoints <= Pipeline.BruteGate) s"brute ($hdbscanPoints <= ${Pipeline.BruteGate} points)"
      else s"blocked ($hdbscanPoints > ${Pipeline.BruteGate} points)"))
}

/** The paper's full pipeline from empty state, at default tiers. */
final class EchoBatch extends Workload {
  val name = "echo_batch"
  val cfg = Gen.CrawlCfg(users = 2400)
  private var input: Gen.EchoInput = _
  private final case class Last(state: String, eng: DataFrame, edges: DataFrame,
      labels: Pipeline.Labels, mods: Seq[Double])
  private var last: Last = _
  private var previousState: Seq[Long] = Nil
  private val minMods = mutable.ArrayBuffer.empty[Double]

  def generate(sink: Gen.Sink, rnd: SplittableRandom): Seq[(String, Any)] = {
    val (in, c) = Gen.echo(sink, rnd, cfg)
    input = in
    Seq("users" -> c.users, "events" -> in.events, "posts" -> c.posts,
      "likes" -> c.likes, "edges" -> c.edges, "nodes" -> c.nodes,
      "communities" -> cfg.comms, "largest_community" -> cfg.commSizes.max) ++
      Gates.sides(c.edges, c.nodes)
  }

  /** One discarded operation: it pays class loading and code generation. */
  def warmup(ctx: Ctx): Unit = {
    run(ctx, -1)
    previousState = Pipeline.stateSummary(ctx.spark, last.state)
    cleanup(ctx, -1)
  }

  def run(ctx: Ctx, i: Int): Op = {
    val spark = ctx.spark
    val st = ctx.dir(s"state/${i + 1}")
    val t0 = System.nanoTime()
    Pipeline.drain(ctx, input.usersTopic, input.postsTopic, st, ctx.dir(s"ckpt/${i + 1}"))
    val tIngest = System.nanoTime()
    val eng = ctx.span("schemas.scan") { ctx.keep(Pipeline.engagements(ctx, st)) }
    val uv = Pipeline.userVectors(ctx, eng, st)
    val edges = ctx.span("graph.projection") {
      ctx.keep(Projection.coEngagementSalted(eng, "uid", "uri")) }
    val labels = Pipeline.algorithms(ctx, edges)
    val mods = Pipeline.communityMetrics(ctx, edges, labels, uv)
    ctx.span("warehouse.scd2") {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Pipeline.membershipSchema)
      Scd2.scd2Merge(empty, Pipeline.membershipOf(labels.louvain, eng), "member_id", Pipeline.loadTs)
        .write.mode("overwrite").parquet(s"$st/membership")
    }
    val t1 = System.nanoTime()
    last = Last(st, eng, edges, labels, mods)
    if (i >= 0) minMods += mods.min
    Op((t1 - t0) / 1e9, (tIngest - t0) / 1e9, input.events)
  }

  def check(ctx: Ctx, i: Int, op: Op): Seq[Check] = {
    val spark = ctx.spark
    val g = Pipeline.collectGraph(last.edges)
    val membership = spark.read.parquet(s"${last.state}/membership")
    val (scd2, opened) = Pipeline.scd2Checks(membership,
      Pipeline.membershipMap(Pipeline.membershipOf(last.labels.louvain, last.eng)))
    if (ctx.traced) {
      ctx.count("graph.nodes", g.nodes.size)
      ctx.count("graph.edges", g.edges.length)
      ctx.count("warehouse.rows_opened", opened)
      ctx.count("streaming.input_bytes", input.inputBytes)
      ctx.count("streaming.state_bytes", Fs.size(new File(last.state)))
    }
    // every operation replays the topics from scratch into empty state
    val summary = Pipeline.stateSummary(spark, last.state)
    val replay = Check("ingest.replay_converges", summary == previousState,
      s"$summary vs $previousState")
    previousState = summary
    Pipeline.ingestChecks(spark, last.state, input.exp) ++
      Pipeline.graphChecks(g, input.exp, last.labels, last.mods) ++ scd2 :+ replay
  }

  def finalChecks(ctx: Ctx): Seq[Check] = Nil

  override def modularityMin: Double = Stats.median(minMods.toSeq)

  override def cleanup(ctx: Ctx, i: Int): Unit = {
    ctx.release()
    EchoBatch.dropOlder(ctx, i + 1)
  }
}

object EchoBatch {
  /** Removes the state and checkpoints of every operation but `i`. */
  def dropOlder(ctx: Ctx, i: Int): Unit = Seq("state", "ckpt").foreach { d =>
    Option(new File(ctx.work, d).listFiles).toSeq.flatten
      .filter(_.getName != i.toString).foreach(Fs.rm)
  }
}
