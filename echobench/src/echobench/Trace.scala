package echobench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `endMs` stays at Long.MaxValue while the
  * span is open, so an open span contains every later instant. */
final class Span(val id: Long, val name: String, val parent: Span,
    val iter: Int, val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  def durS: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = startMs <= ms && ms <= endMs
  def depth: Int = if (parent == null) 0 else parent.depth + 1
  def root: Span = if (parent == null) this else parent.root
}

object Tracer {
  /** Spark local property carrying the id of the innermost open span. */
  val Prop = "echobench.span"
}

/** In-memory span recorder. Disabled, `span` is a plain call: the timed
  * pass pays nothing for it. Enabled, each span is also published as a
  * Spark local property so the [[Recorder]] can attribute the jobs it
  * sees to the span that launched them. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  @volatile private var sc: SparkContext = _
  @volatile var iter: Int = -1
  /** Fresh for every attached context: job and stage ids restart with it. */
  @volatile var recorder = new Recorder

  def attach(context: SparkContext): Unit = {
    sc = context
    recorder = new Recorder
    if (enabled) context.addSparkListener(recorder)
  }

  def detach(): Unit = if (sc != null) {
    if (enabled) sc.removeSparkListener(recorder)
    sc = null
  }

  def currentSpan: Span = current.get

  private def publish(s: Span): Unit =
    if (sc != null) sc.setLocalProperty(Tracer.Prop,
      if (s == null) null else s.id.toString)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), name, parent, iter,
        System.nanoTime(), System.currentTimeMillis())
      spans.add(s)
      current.set(s)
      publish(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current.set(parent)
        publish(parent)
        System.err.println(f"echobench span ${"  " * s.depth}${s.name} iter=${s.iter} ${s.durS}%.3f s")
      }
    }

  /** Run `body` on this thread as if inside `parent` — for callbacks that
    * the engine runs on its own threads (streaming micro-batches). */
  def under[A](parent: Span)(body: => A): A =
    if (!enabled) body
    else {
      val saved = current.get
      current.set(parent)
      publish(parent)
      try body
      finally { current.set(saved); publish(saved) }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

final case class JobRec(id: Int, startMs: Long, prop: Long, stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final case class TaskRec(stageId: Int, runMs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleReadRecords: Long, shuffleWriteBytes: Long,
    spillBytes: Long, inputBytes: Long, inputRecords: Long)

final case class BlockRec(atMs: Long, rddId: Int, bytes: Long)

/** Records raw scheduler, task and storage events; attribution to spans
  * happens afterwards in [[Attribution]]. */
object Recorder {
  /** RDD blocks the block manager master currently holds. */
  def liveBlocks(sc: SparkContext): Int = sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
}

final class Recorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stagesRun = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val blockWrites = new ConcurrentLinkedQueue[BlockRec]()
  // removals of whole RDDs reach no listener, so this set only dedups
  // re-reported blocks; live counts come from the block manager master
  private val seen = ConcurrentHashMap.newKeySet[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, JobRec(e.jobId, e.time, prop, e.stageIds))
    // a stage runs under the first job that lists it; later jobs skip it
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesRun.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      if (info.storageLevel.isValid && seen.add(b.name))
        blockWrites.add(BlockRec(System.currentTimeMillis(), b.rddId, info.memSize + info.diskSize))
    }
  }
}

/** Attributes recorded jobs, stages, tasks and block writes to spans.
  *
  * A job belongs to the span named by its `echobench.span` property when
  * that span was open at the job's start. Jobs without the property, or
  * with a stale one, come from threads that did not inherit the launching
  * span's properties (pool threads created earlier); they are counted as
  * unattributed and charged to the innermost span open when they started. */
final class Attribution(spans: Seq[Span], rec: Recorder) {
  private val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap

  private def innermostAt(ms: Long): Option[Span] =
    spans.filter(_.contains(ms)).sortBy(s => (s.startMs, s.depth, s.id)).lastOption

  /** job id → (span, attributed-by-property) */
  val jobSpan: Map[Int, (Span, Boolean)] = rec.jobs.asScala.toMap.flatMap {
    case (id, j) =>
      byId.get(j.prop).filter(_.contains(j.startMs)) match {
        case Some(s) => Some(id -> (s, true))
        case None => innermostAt(j.startMs).map(s => id -> (s, false))
      }
  }

  val unattributed: Seq[JobRec] = rec.jobs.asScala.values.toSeq
    .filter(j => !jobSpan.get(j.id).exists(_._2))

  @annotation.tailrec
  private def isUnder(s: Span, anc: Span): Boolean =
    if (s == null) false else if (s eq anc) true else isUnder(s.parent, anc)

  def jobsUnder(anc: Span): Seq[JobRec] = rec.jobs.asScala.values.toSeq
    .filter(j => jobSpan.get(j.id).exists { case (s, _) => isUnder(s, anc) })

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val ids = js.map(_.id).toSet
    rec.tasks.asScala.toSeq.filter(t =>
      Option(rec.stageJob.get(t.stageId)).exists(j => ids.contains(j)))
  }

  def stagesOf(js: Seq[JobRec]): Int = {
    val ids = js.map(_.id).toSet
    rec.stagesRun.asScala.count(s =>
      Option(rec.stageJob.get(s)).exists(j => ids.contains(j)))
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent eq s).map(k => (k.startNs, k.endNs))
    s.durS - Attribution.covered(kids, s.startNs, s.endNs) / 1e9
  }

  /** Span time with no job of the span running: driver compute and
    * planning. */
  def idleS(s: Span): Double = {
    val js = jobsUnder(s).filter(_.endMs >= 0)
      .map(j => (j.startMs * 1000000L, j.endMs * 1000000L))
    val startMsNs = s.startMs * 1000000L
    val endMsNs = s.endMs * 1000000L
    s.durS - Attribution.covered(js, startMsNs, endMsNs) / 1e9
  }
}

object Attribution {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Largest max-task / median-task shuffle read over stages with at least
    * two tasks and a positive median. */
  def skewMax(ts: Seq[TaskRec]): Double = {
    val perStage = ts.groupBy(_.stageId).values
      .map(_.map(_.shuffleReadBytes.toDouble))
      .filter(v => v.length >= 2)
    val ratios = perStage.flatMap { v =>
      val med = Stats.median(v)
      if (med > 0) Some(v.max / med) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
