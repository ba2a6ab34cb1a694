package echobench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  *   echobench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Generates the workload's inputs from the seed, sets up (one cold session
  * start and one discarded warm-up operation), then runs the timed
  * operation in a closed loop for the given seconds. With trace 0
  * it prints the end-to-end metrics; with trace 1 it records spans and
  * Spark listener counts and prints the per-layer metrics. The last stdout
  * line is the result object. */
object Main {

  val Cores = 4

  def workloads: Seq[Workload] = Seq(new EchoBatch, new CorpusDedup)

  /** name → unit of every end-to-end metric (trace 0). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "result_s" -> "s",
    "ok_frac" -> "ratio", "modularity_min" -> "ratio", "dedup_recall" -> "ratio")

  /** Spans around layer calls, and the busy-time metric each reports. */
  val SpanTimes: Seq[(String, String)] = Seq(
    "streaming.merge" -> "streaming.merge_s", "warehouse.scd2" -> "warehouse.scd2_s",
    "graph.projection" -> "graph.projection_s", "graph.kcore" -> "graph.kcore_s",
    "graph.label_prop" -> "graph.label_prop_s", "graph.louvain" -> "graph.louvain_s",
    "graph.leiden" -> "graph.leiden_s", "graph.modularity_opt" -> "graph.modularity_opt_s",
    "graph.fastrp" -> "graph.fastrp_s", "graph.hdbscan" -> "graph.hdbscan_s",
    "metrics" -> "metrics.s", "dedup.minhash_groups" -> "dedup.minhash_groups_s",
    "dedup.cosine_groups" -> "dedup.cosine_groups_s", "functions.embed" -> "functions.embed_s",
    "schemas.scan" -> "schemas.scan_s")

  /** Spans reported with self time and job count only. */
  val OtherSpans: Seq[String] = Seq("iteration", "functions.vector_mean")

  val Counted: Seq[(String, String)] = Seq(
    "streaming.merges" -> "count", "streaming.touched_buckets" -> "count",
    "streaming.bytes_rewritten" -> "B", "streaming.write_amp" -> "ratio",
    "streaming.state_bytes" -> "B", "warehouse.rows_opened" -> "count",
    "graph.nodes" -> "count", "graph.edges" -> "count",
    "dedup.groups" -> "count", "dedup.yield" -> "ratio",
    "schemas.bytes_read" -> "B", "schemas.records_read" -> "count",
    "exchange.shuffle_write_bytes" -> "B", "exchange.shuffle_read_bytes" -> "B",
    "exchange.skew_max" -> "ratio", "checkpoint.blocks_written" -> "count",
    "checkpoint.bytes_written" -> "B", "checkpoint.blocks_live_after" -> "count",
    "driver.jobs" -> "count", "driver.stages" -> "count", "driver.tasks" -> "count",
    "driver.job_p50_ms" -> "ms", "driver.idle_s" -> "s", "driver.unattributed_jobs" -> "count",
    "exec.task_s" -> "s", "exec.gc_s" -> "s", "exec.spill_bytes" -> "B", "exec.busy_frac" -> "ratio",
    "trace.result_s" -> "s")

  /** name → unit of every per-layer metric (trace 1). */
  val PerLayer: Seq[(String, String)] =
    SpanTimes.map(_._2 -> "s") ++ Counted ++
      (SpanTimes.map(_._1) ++ OtherSpans).flatMap(s => Seq(s"$s.self_s" -> "s", s"$s.jobs" -> "count"))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")))
  }

  def session(work: File): SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .appName("echobench")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.default.parallelism", Cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", new File(work, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .getOrCreate()

  /** Heap still in use after a full collection: what an operation's results
    * and the session's caches retain. */
  private def liveHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case x => json(x.toString)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--list-metrics")) {
      println(json(Map("end_to_end" -> EndToEnd.map(_._1), "per_layer" -> PerLayer.map(_._1),
        "workloads" -> workloads.map(_.name))))
      return
    }
    if (argv.headOption.contains("--selftest")) {
      sys.exit(if (SelfTest.run(new File(argv(1)))) 0 else 1)
    }
    val a = parse(argv)
    val w = workloads.find(_.name == a.workload)
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    sys.exit(run(w, a))
  }

  def run(w: Workload, a: Args): Int = {
    val tracer = new Tracer(a.trace)
    val ctx = new Ctx(tracer, a.work)

    // ---- inputs (untimed; reported apart from set-up)
    val tg = System.nanoTime()
    val sink = new Gen.Sink(new File(a.work, "input"))
    val manifest = w.generate(sink, Gen.rng(a.seed))
    val genS = (System.nanoTime() - tg) / 1e9

    // ---- set-up: the cold session start, then the warm-up operation
    val t0 = System.nanoTime()
    ctx.spark = session(a.work)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(ctx.spark.sparkContext)
    val tw = System.nanoTime()
    tracer.iter = -1
    tracer.span("setup") { w.warmup(ctx) }
    val t1 = System.nanoTime()
    val sessionS = (tw - t0) / 1e9
    val warmS = (t1 - tw) / 1e9
    val setupS = (t1 - t0) / 1e9

    // ---- timed closed loop
    val sc = ctx.spark.sparkContext
    val baseline = Recorder.liveBlocks(sc)
    var heapHighWater = 0L
    val ops = mutable.ArrayBuffer.empty[Op]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val start = System.nanoTime()
    var i = 0
    var more = true
    while (more) {
      tracer.iter = i
      attempted += 1
      val ok = try {
        val op = tracer.span("iteration") { w.run(ctx, i) }
        ops += op
        heapHighWater = math.max(heapHighWater, liveHeapBytes())
        val checks = tracer.span("check") { w.check(ctx, i, op) }
        checks.filterNot(_.ok).foreach(c => failures += s"op $i ${c.name}: ${c.detail}")
        checks.forall(_.ok)
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          failures += s"op $i threw ${t.getClass.getName}: ${t.getMessage}"
          false
      }
      if (!ok) failed += 1
      more = (System.nanoTime() - start) / 1e9 < a.seconds
      if (more) {
        tracer.span("check") { w.cleanup(ctx, i) }
        ctx.count("checkpoint.blocks_live_after", Recorder.liveBlocks(sc) - baseline)
      }
      i += 1
    }
    tracer.iter = -2
    attempted += 1
    val finalOk = try {
      val checks = tracer.span("check") { w.finalChecks(ctx) }
      checks.filterNot(_.ok).foreach(c => failures += s"final ${c.name}: ${c.detail}")
      checks.forall(_.ok)
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        failures += s"final checks threw ${t.getClass.getName}: ${t.getMessage}"
        false
    }
    if (!finalOk) failed += 1
    tracer.iter = i - 1
    w.cleanup(ctx, i - 1)
    ctx.count("checkpoint.blocks_live_after", Recorder.liveBlocks(sc) - baseline)

    val info = Map(
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace,
      "input_digest" -> sink.digest, "input_bytes" -> sink.bytes, "gen_s" -> genS,
      "sizes" -> manifest.toMap.map { case (k, v) => k -> v.toString },
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmS),
      "operations" -> ops.length, "op_wall_s" -> ops.map(_.wallS).toSeq,
      "op_ingest_s" -> ops.map(_.ingestS).toSeq,
      "live_heap_mb" -> heapHighWater / (1024.0 * 1024.0),
      "ingest_events_per_s" -> ops.map(_.ingestEvents).sum / ops.map(_.ingestS).sum,
      "fail_frac" -> failed.toDouble / attempted, "failures" -> failures.toSeq)
    println("echobench-info " + json(info))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val values = Map(
          "setup_s" -> setupS,
          "result_s" -> (if (ops.isEmpty) Double.NaN else Stats.median(ops.map(_.wallS).toSeq)),
          "ok_frac" -> (1.0 - failed.toDouble / attempted),
          // no successful operation leaves these undefined
          "modularity_min" -> scala.util.Try(w.modularityMin).getOrElse(Double.NaN),
          "dedup_recall" -> scala.util.Try(w.recall).getOrElse(Double.NaN))
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        org.apache.spark.echobench.BusBridge.drain(sc)
        val values = Layers.perLayer(tracer, ctx)
        PerLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
    tracer.detach()
    ctx.spark.stop()
    val correct = failed == 0
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map { case (n, v, u) => s"${json(n)}: {\"value\": ${json(v)}, \"unit\": ${json(u)}}" }
        .mkString("{", ", ", "}") + "}")
    if (correct) 0 else 3
  }
}

/** Per-layer metrics of a traced pass: medians over the timed operations of
  * span busy and self times, attributed Spark counts and workload
  * counters. */
object Layers {
  def perLayer(tracer: Tracer, ctx: Ctx): Map[String, Double] = {
    val spans = tracer.all
    val attr = new Attribution(spans, tracer.recorder)
    val roots = spans.filter(s => s.parent == null && s.name == "iteration" && s.iter >= 0)
    val perIter = roots.map { r =>
      val m = mutable.Map.empty[String, Double]
      val under = spans.filter(s => s.iter == r.iter && s.root.eq(r))
      Main.SpanTimes.foreach { case (sn, metric) =>
        m(metric) = under.filter(_.name == sn).map(_.durS).sum }
      (Main.SpanTimes.map(_._1) ++ Main.OtherSpans).foreach { sn =>
        val ss = under.filter(_.name == sn)
        m(s"$sn.self_s") = ss.map(attr.selfS).sum
        m(s"$sn.jobs") = ss.map(s => attr.jobsUnder(s).length).sum.toDouble
      }
      val jobs = attr.jobsUnder(r)
      val tasks = attr.tasksOf(jobs)
      m("driver.jobs") = jobs.length
      m("driver.stages") = attr.stagesOf(jobs)
      m("driver.tasks") = tasks.length
      val durs = jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble)
      m("driver.job_p50_ms") = if (durs.isEmpty) 0.0 else Stats.median(durs)
      m("driver.idle_s") = attr.idleS(r)
      m("driver.unattributed_jobs") = jobs.count(j => attr.unattributed.exists(_.id == j.id))
      m("exec.task_s") = tasks.map(_.runMs).sum / 1000.0
      m("exec.gc_s") = tasks.map(_.gcMs).sum / 1000.0
      m("exec.spill_bytes") = tasks.map(_.spillBytes).sum.toDouble
      m("exec.busy_frac") = m("exec.task_s") / (r.durS * Main.Cores)
      m("exchange.shuffle_write_bytes") = tasks.map(_.shuffleWriteBytes).sum.toDouble
      m("exchange.shuffle_read_bytes") = tasks.map(_.shuffleReadBytes).sum.toDouble
      m("exchange.skew_max") = Attribution.skewMax(tasks)
      m("schemas.bytes_read") = tasks.map(_.inputBytes).sum.toDouble
      m("schemas.records_read") = tasks.map(_.inputRecords).sum.toDouble
      val blocks = tracer.recorder.blockWrites.asScala
        .filter(b => r.contains(b.atMs) && !ctx.keptRdds.contains(b.rddId))
      m("checkpoint.blocks_written") = blocks.size
      m("checkpoint.bytes_written") = blocks.map(_.bytes).sum.toDouble
      m("trace.result_s") = r.durS
      val c = ctx.counters.getOrElse(r.iter, mutable.Map.empty[String, Double])
      c.foreach { case (k, v) => m(k) = v }
      m("streaming.write_amp") = c.get("streaming.input_bytes").filter(_ > 0)
        .map(ib => c.getOrElse("streaming.bytes_rewritten", 0.0) / ib).getOrElse(0.0)
      val dedupJobs = under.filter(_.name.startsWith("dedup.")).flatMap(attr.jobsUnder)
      val dedupRead = attr.tasksOf(dedupJobs).map(_.shuffleReadRecords).sum
      m("dedup.yield") = if (dedupRead > 0) c.getOrElse("dedup.pairs_out", 0.0) / dedupRead else 0.0
      m.toMap
    }
    val names = perIter.flatMap(_.keys).distinct
    names.map(n => n -> Stats.median(perIter.map(_.getOrElse(n, 0.0)))).toMap
  }
}
