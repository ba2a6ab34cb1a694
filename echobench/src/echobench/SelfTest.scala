package echobench

import java.io.File
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Self-tests of the benchmark's own arithmetic and tracing:
  *
  *   python3 echobench/run.py --selftest
  *
  * Prints one line per test and returns whether all passed. */
object SelfTest {

  private val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    results += ((name, ok, if (ok) "" else detail))
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s" — $detail"}")
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12

  def run(work: File): Boolean = {
    statistics()
    spanSelfTime()
    generator(work)
    val spark = Main.session(work)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      attribution(spark)
      materialization(spark, work)
    } finally spark.stop()
    results.forall(_._2)
  }

  /** Median and quartiles (as Python's statistics.quantiles gives them). */
  def statistics(): Unit = {
    check("median odd", Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val q = Stats.quartiles((1 to 10).map(_.toDouble))
    check("quartiles 1..10 = (2.75, 5.5, 8.25)",
      near(q._1, 2.75) && near(q._2, 5.5) && near(q._3, 8.25), q.toString)
    val q2 = Stats.quartiles(Seq(2.0, 1.0))
    check("quartiles of two values = (0.75, 1.5, 2.25)",
      near(q2._1, 0.75) && near(q2._2, 1.5) && near(q2._3, 2.25), q2.toString)
    check("spread 1..10 = 5.5/5.5", near(Stats.spread((1 to 10).map(_.toDouble)), 1.0))
  }

  /** Self time is the span minus the union of its children. */
  def spanSelfTime(): Unit = {
    def span(id: Long, parent: Span, a: Long, b: Long): Span = {
      val s = new Span(id, s"s$id", parent, 0, a, a / 1000000L)
      s.endNs = b; s.endMs = b / 1000000L
      s
    }
    val ms = 1000000L
    val root = span(1, null, 0, 100 * ms)
    val kids = Seq(span(2, root, 10 * ms, 30 * ms), span(3, root, 20 * ms, 50 * ms),
      span(4, root, 60 * ms, 70 * ms))
    val grandchild = span(5, kids(2), 62 * ms, 64 * ms)
    val attr = new Attribution(root +: grandchild +: kids, new Recorder)
    check("self time subtracts the union of overlapping children",
      near(attr.selfS(root), 0.050), attr.selfS(root).toString)
    check("self time ignores grandchildren", near(attr.selfS(kids(2)), 0.008), attr.selfS(kids(2)).toString)
    check("interval union clips to the window",
      Attribution.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 2, 35) == 23)
  }

  /** Same seed, byte-identical input; another seed, other input. */
  def generator(work: File): Unit = {
    val cfg = Gen.CrawlCfg(users = 200, comms = 4)
    def gen(seed: Long, dir: String): String = {
      val sink = new Gen.Sink(new File(work, dir))
      Gen.echo(sink, Gen.rng(seed), cfg)
      sink.digest
    }
    val d1 = gen(7, "gen-a")
    val d2 = gen(7, "gen-b")
    val d3 = gen(8, "gen-c")
    def bytes(dir: String): Seq[Byte] = {
      def files(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(files) else Seq(f)
      files(new File(work, dir)).flatMap(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    }
    check("generator: same seed gives the same digest", d1 == d2)
    check("generator: same seed gives byte-identical files", bytes("gen-a") == bytes("gen-b"))
    check("generator: another seed gives another digest", d1 != d3)
    val graphs = (1 to 5).map(seed =>
      Gen.echo(new Gen.Sink(new File(work, s"gen-s$seed")), Gen.rng(seed), cfg)._2.pairs.toMap)
    check("generator: consecutive seeds give different graphs", graphs.distinct.length == 5)
    val sizes = Gen.CrawlCfg(users = 2400).commSizes
    check("generator: 60 Zipf community sizes sum to the users, the largest about 12 %",
      sizes.length == 60 && sizes.sum == 2400 && sizes == sizes.sortBy(-_) &&
        math.abs(sizes.max / 2400.0 - 0.12) < 0.01, sizes.toString)
  }

  /** A job from the span's own thread is attributed by property; jobs from
    * a pool thread created before the span (no property) or while an
    * earlier span was open (stale property) count as unattributed and fall
    * back to the innermost span open when they started. */
  def attribution(spark: org.apache.spark.sql.SparkSession): Unit = {
    val tracer = new Tracer(true)
    tracer.attach(spark.sparkContext)
    val sc = spark.sparkContext
    def job(): Unit = { sc.parallelize(1 to 10, 2).map(_ * 2).collect(); () }
    def pause(): Unit = Thread.sleep(20)
    val early = Executors.newSingleThreadExecutor()
    early.submit(new Runnable { def run(): Unit = () }).get()
    var stale: java.util.concurrent.ExecutorService = null
    pause()
    tracer.span("outer") {
      pause()
      tracer.span("inner") { pause(); job(); pause() }
      pause()
      early.submit(new Runnable { def run(): Unit = job() }).get()
      pause()
    }
    pause()
    tracer.span("s1") {
      stale = Executors.newSingleThreadExecutor()
      stale.submit(new Runnable { def run(): Unit = () }).get()
      pause()
    }
    pause()
    tracer.span("s2") {
      pause()
      stale.submit(new Runnable { def run(): Unit = job() }).get()
      pause()
    }
    early.shutdown(); stale.shutdown()
    org.apache.spark.echobench.BusBridge.drain(sc)
    tracer.detach()
    val attr = new Attribution(tracer.all, tracer.recorder)
    val byJob = attr.jobSpan.toSeq.sortBy(_._1).map { case (_, (s, byProp)) => (s.name, byProp) }
    check("attribution: job on the span's thread goes to the innermost span",
      byJob.headOption.contains(("inner", true)), byJob.toString)
    check("attribution: pool thread without the property falls back by time",
      byJob.lift(1).contains(("outer", false)), byJob.toString)
    check("attribution: pool thread with a stale property falls back by time",
      byJob.lift(2).contains(("s2", false)), byJob.toString)
    check("attribution: both pool-thread jobs count as unattributed",
      attr.unattributed.length == 2, attr.unattributed.toString)
    val outer = tracer.all.find(_.name == "outer").get
    check("attribution: jobs roll up to enclosing spans", attr.jobsUnder(outer).length == 2)
  }

  /** `count()` lets the optimizer drop a column nobody reads; the noop write
    * the benchmark times computes every column. */
  def materialization(spark: org.apache.spark.sql.SparkSession, work: File): Unit = {
    val calls = spark.sparkContext.longAccumulator("expensive_calls")
    val expensive = udf { (x: Long) => calls.add(1); x * 31 }
    val df = spark.range(1000).select(col("id"), expensive(col("id")).as("x"))
    df.count()
    val afterCount = calls.value
    val ctx = new Ctx(new Tracer(false), work)
    ctx.consume(df)
    val afterConsume = calls.value - afterCount
    check("materialization: count() prunes the projected column", afterCount == 0, s"$afterCount calls")
    check("materialization: the noop write computes every row of it", afterConsume == 1000,
      s"$afterConsume calls")
    ctx.keep(spark.range(100).toDF("id"))
    val kept = ctx.keptRdds.asScala.toSeq
    check("keep: the cache's RDD is recorded, so its blocks are not counted as checkpoints",
      kept.length == 1 && spark.sparkContext.getPersistentRDDs.contains(kept.head), kept.toString)
    ctx.release()
  }
}
