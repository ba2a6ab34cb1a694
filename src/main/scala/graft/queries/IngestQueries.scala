package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schemas.Tables
import graft.streaming.Streams

/** q59 — the reference's EP1 ingest pillar composed END-TO-END as one
  * registered query (project/main.py:24-49: producer → Kafka topics →
  * consumer fan-out into graph + vector stores):
  *
  *   file topic (tagged union) ─ routeUserStream ─┬─ cleanProfiles → users
  *                                                └─ edge keying   → edges
  *   file topic (posts)        ─ embedPosts (filter/id/embed) ─────→ vectors
  *
  * all through [[Streams.upsertSink]] (idempotent keyed MERGE, AvailableNow
  * ≙ drain). The query then REPLAYS both topics from scratch on a fresh
  * checkpoint and asserts the converged state is unchanged — ST2's
  * idempotence contract enforced inside the query path, every run. The
  * final-state summary (entity, n, k) is DuckDB-oracled: every clean /
  * filter / dedup rule is replicated in SQL over the same source tables.
  */
object IngestQueries {

  type Q = (SparkSession, String) => DataFrame

  private val unionSchema = StructType(Seq(
    StructField("did", StringType),
    StructField("handle", StringType),
    StructField("display_name", StringType),
    StructField("description", StringType),
    StructField("type", StringType),
    StructField("user_did", StringType),
    StructField("uri", StringType)))

  private val postSchema = StructType(Seq(
    StructField("uri", StringType),
    StructField("cid", StringType),
    StructField("text", StringType)))

  private def rm(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** One full drain of both topics into the three state tables. The users
    * topic feeds ONE stream whose micro-batch fans out into both the users
    * and edges merges (ST5 multi-table fan-out from a single consumer,
    * exactly the reference consumer's per-message dual MERGE); the posts
    * topic runs as a second stream CONCURRENTLY — the reference runs its
    * consumers as separate processes, and the two streams touch disjoint
    * state tables, so serializing them would only stack their fixed
    * stream-startup costs. */
  private def drain(spark: SparkSession, usersTopic: String, postsTopic: String,
      base: String, checkpointBase: String): Unit = {
    val usersQ = Streams.subscribe(spark, usersTopic, unionSchema).writeStream
      .option("checkpointLocation", s"$checkpointBase/users")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // ONE materialization of the micro-batch for the whole fan-out:
        // each merge otherwise re-decodes the JSON topic segment for its
        // own derived batch (probe + write), 4 decodes per micro-batch
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (profiles, likes) = Streams.routeUserStream(b)
          val users = Streams.cleanProfiles(profiles)
          val edges = likes.select(
            concat_ws("|", col("user_did"), col("uri")).as("edge_id"),
            col("user_did"), col("uri"))
          // ONE touched-bucket probe for the whole fan-out (the per-merge
          // probe paid the fixed per-job floor once per derived table on
          // the same cached batch). Creation batches need no probe at all
          // (mergeUpsert recovers touched from the written layout), so
          // while both tables are still unborn the probe job is skipped
          // entirely — two FS existence checks instead of a Spark job
          val hconf = spark.sparkContext.hadoopConfiguration
          def tableExists(p: String): Boolean = {
            val path = new org.apache.hadoop.fs.Path(p)
            path.getFileSystem(hconf).exists(path)
          }
          val hints: IndexedSeq[Option[(Int, Array[Int])]] =
            if (!tableExists(s"$base/users") && !tableExists(s"$base/edges"))
              IndexedSeq(None, None)
            else Streams.probeTouched(Seq(
                (users, "did", s"$base/users", Streams.DefaultMergeBuckets),
                (edges, "edge_id", s"$base/edges", Streams.DefaultMergeBuckets)))
              .toIndexedSeq.map(Option(_))
          // the two merges touch DISJOINT tables and read the same cached
          // batch — run them as concurrent Spark jobs (ST5: independent
          // sinks of one consumer don't serialize at scale either). BOTH
          // futures are awaited to COMPLETION before anything propagates —
          // including a thread interrupt from q.stop() on a sibling-stream
          // failure (InterruptedException is fatal to scala.util.Try and
          // would otherwise skip the second await, leaving a merge running
          // against a state dir the caller's retry path is about to
          // clear). The merges are bounded work, so finishing them under
          // interrupt is safe; the interrupt flag is restored after.
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          val fu = Future(Streams.mergeUpsert(users, s"$base/users", "did",
            touchedHint = hints(0)))
          val fe = Future(Streams.mergeUpsert(edges, s"$base/edges", "edge_id",
            touchedHint = hints(1)))
          var interrupted = false
          // the grace DEADLINE is fixed at the FIRST interrupt: repeated
          // interrupts must not restart the clock (a stop/retry loop
          // re-interrupting every few minutes would otherwise keep this
          // thread un-interruptible forever against a wedged merge)
          var graceDeadlineNanos = 0L
          def abandon(): Nothing = {
            Thread.currentThread().interrupt()
            val e = new java.io.InterruptedIOException(
              "interrupted, and a merge future did not complete within " +
              "the 10-minute grace period — abandoning the await")
            // surface any merge that DID fail before the wedge: its error
            // is the likely root cause and must not be masked by the
            // timeout of its sibling
            Seq(fu, fe).flatMap(_.value).flatMap(_.failed.toOption)
              .foreach(e.addSuppressed)
            throw e
          }
          Seq(fu, fe).foreach { f =>
            var done = false
            while (!done) {
              // after the first interrupt the wait turns FINITE: the merges
              // are bounded work and should be finished rather than
              // abandoned mid-swap, but a merge wedged during shutdown must
              // not leave this thread permanently un-interruptible
              val limit =
                if (!interrupted) Duration.Inf
                else {
                  val left = graceDeadlineNanos - System.nanoTime()
                  if (left <= 0) abandon()
                  scala.concurrent.duration.Duration(left, "nanoseconds")
                }
              try { Await.ready(f, limit); done = true }
              catch {
                case _: InterruptedException =>
                  if (!interrupted) {
                    interrupted = true
                    graceDeadlineNanos =
                      System.nanoTime() + java.util.concurrent.TimeUnit.MINUTES.toNanos(10)
                  }
                case _: java.util.concurrent.TimeoutException => abandon()
              }
            }
          }
          if (interrupted) Thread.currentThread().interrupt()
          // rethrow with NOTHING masked: both merges' failures surface (an
          // edges failure must not hide behind a users failure)
          val failures = Seq(fu, fe).flatMap(_.value.get.failed.toOption)
          failures.headOption.foreach { head =>
            failures.tail.foreach(t => if (t ne head) head.addSuppressed(t))
            throw head
          }
        } finally { b.unpersist(blocking = false); () }
      }
      .start()
    val vectorsQ = Streams.upsertSink(
      Streams.embedPosts(Streams.subscribe(spark, postsTopic, postSchema)),
      s"$base/vectors", "id", s"$checkpointBase/vectors").start()
    try {
      usersQ.awaitTermination()
      vectorsQ.awaitTermination()
    } catch {
      case t: Throwable =>
        // one stream failing must not leave the sibling merging in the
        // background — a retry's first step is rm(state), which would
        // yank the table out from under the orphaned stream mid-merge
        Seq(usersQ, vectorsQ).foreach { q =>
          try q.stop() catch { case _: Throwable => () }
        }
        throw t
    }
  }

  /** (entity, n, k) state summary: users(k = cleaned-to-"unknown" handles),
    * edges(k = distinct engaging users), vectors(k = distinct uris).
    * ONE action for all three tables — the per-table `first()` version
    * paid three scheduler round-trips per snapshot. */
  private def summary(spark: SparkSession, base: String): Array[(String, Long, Long)] = {
    def agg2(table: String, k: org.apache.spark.sql.Column): DataFrame =
      spark.read.parquet(s"$base/$table")
        .agg(count(lit(1)).as("n"), k.as("k"))
        .select(lit(table).as("entity"), col("n"), col("k"))
    val rows = agg2("users", count(when(col("handle") === "unknown", 1)))
      .unionByName(agg2("edges", countDistinct(col("user_did"))))
      .unionByName(agg2("vectors", countDistinct(col("uri"))))
      .collect()
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
  }

  val q59Ep1Ingest: Q = (spark, dir) => {
    import spark.implicits._
    val sf = new java.io.File(dir).getName
    val usersTopic = s"/tmp/graft_stream/$sf/ep1_users"
    val postsTopic = s"/tmp/graft_stream/$sf/ep1_posts"
    val base = s"/tmp/graft_ep1/$sf/state"
    val ckpt = s"/tmp/graft_ep1/$sf/ckpt"

    // ---- produce the topics (deterministic stand-in for the crawler):
    // profile records and LIKED events share ONE topic, discriminated by
    // `type` (consumer_user.py:79-82); some handles/display names are
    // deterministically blanked to exercise the clean coalesce, some posts
    // blanked to exercise the required-field filter. Topics are a pure
    // function of the source tables, so an already-produced topic (text
    // write's _SUCCESS marker) is reused — the query under measurement is
    // the ingest, not the synthetic producer ----
    def produced(topic: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(topic + "/_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val profiles = Tables.load(spark, dir, "customer").select(
      concat(lit("did_"), $"c_custkey").as("did"),
      when(pmod($"c_custkey", lit(7)) === 0, lit("  ")).otherwise($"c_name").as("handle"),
      when(pmod($"c_custkey", lit(5)) === 0, lit(null).cast("string"))
        .otherwise($"c_mktsegment").as("display_name"),
      concat(lit("segment "), $"c_mktsegment").as("description"),
      lit(null).cast("string").as("type"),
      lit(null).cast("string").as("user_did"),
      lit(null).cast("string").as("uri"))
    val likes = Tables.load(spark, dir, "orders").select(
      lit(null).cast("string").as("did"),
      lit(null).cast("string").as("handle"),
      lit(null).cast("string").as("display_name"),
      lit(null).cast("string").as("description"),
      lit("LIKED").as("type"),
      concat(lit("did_"), $"o_custkey").as("user_did"),
      concat(lit("post_"), pmod($"o_orderkey", lit(997))).as("uri"))
    if (!produced(usersTopic))
      profiles.unionByName(likes)
        .select(to_json(struct(unionSchema.fieldNames.map(col): _*)).as("value"))
        .coalesce(4).write.mode("overwrite").text(usersTopic)
    if (!produced(postsTopic))
      Tables.load(spark, dir, "documents").select(
        concat(lit("at://doc/"), $"doc_id").as("uri"),
        concat(lit("cid"), $"doc_id").as("cid"),
        when(pmod($"doc_id", lit(13)) === 0, lit(" ")).otherwise($"text").as("text"))
        .select(to_json(struct($"uri", $"cid", $"text")).as("value"))
        .coalesce(4).write.mode("overwrite").text(postsTopic)

    // ---- drain, snapshot, REPLAY from scratch, assert convergence ----
    Seq(base, s"$ckpt/a", s"$ckpt/b").foreach(rm(spark, _))
    drain(spark, usersTopic, postsTopic, base, s"$ckpt/a")
    val first = summary(spark, base)
    drain(spark, usersTopic, postsTopic, base, s"$ckpt/b")
    val second = summary(spark, base)
    require(first.sameElements(second),
      s"EP1 replay diverged: ${first.toSeq} vs ${second.toSeq}")

    second.toSeq.toDF("entity", "n", "k").orderBy($"entity")
  }

  val defs: Map[String, Q] = Map("q59_ep1_ingest" -> q59Ep1Ingest)

  val oracles: Map[String, String] = Map(
    "q59_ep1_ingest" ->
      """WITH u AS (SELECT 'did_' || c_custkey AS did,
        |  CASE WHEN c_custkey % 7 = 0 THEN '  ' ELSE c_name END AS handle0
        |  FROM customer),
        |uc AS (SELECT did,
        |  CASE WHEN trim(handle0) = '' THEN 'unknown' ELSE trim(handle0) END AS handle
        |  FROM u),
        |e AS (SELECT DISTINCT 'did_' || o_custkey AS user_did,
        |  'post_' || (o_orderkey % 997) AS uri FROM orders),
        |v AS (SELECT DISTINCT 'at://doc/' || doc_id AS uri FROM documents
        |  WHERE doc_id % 13 <> 0 AND trim(text) <> '')
        |SELECT * FROM (
        |  SELECT 'users' AS entity, count(*) AS n,
        |    count(*) FILTER (WHERE handle = 'unknown') AS k FROM uc
        |  UNION ALL
        |  SELECT 'edges', count(*), count(DISTINCT user_did) FROM e
        |  UNION ALL
        |  SELECT 'vectors', count(*), count(DISTINCT uri) FROM v
        |) ORDER BY entity""".stripMargin)
}
