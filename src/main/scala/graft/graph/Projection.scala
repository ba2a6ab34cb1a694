package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schemas.Tables

/** Graph projection: bipartite engagement (user → post) to the weighted
  * undirected user–user co-engagement graph (SURVEY.md J1/G8; reference
  * Cypher projection at project/metrics/community_detection.py:22-38).
  *
  * Scale notes: the self-join shuffles on the post key only — the
  * canonicalizing `u1 < u2` predicate is applied post-match, halving output
  * (same hand-optimization the reference bakes into its Cypher,
  * community_detection.py:25). Hot posts (engaged by k users) emit k²/2
  * pairs — at 100 TB, cap fan-out per post (`maxFanout`) the way the
  * reference caps its crawl (MAX_LIKERS=20), or salt the post key; AQE skew
  * join handles the residual imbalance.
  */
object Projection {

  /** Weighted undirected co-engagement edges, canonical orientation
    * (src < dst), weight = number of co-engaged posts. */
  def coEngagement(engagements: DataFrame, userCol: String, postCol: String,
      maxFanout: Option[Int] = None): DataFrame = {
    val e0 = engagements
      .select(col(postCol).as("post"), col(userCol).as("user"))
      .distinct()
    val e = maxFanout match {
      case Some(k) =>
        // bound the quadratic blow-up of ultra-hot posts: keep the k
        // smallest user ids per post (deterministic)
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("post")).orderBy(col("user"))
        e0.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
      case None => e0
    }
    e.as("a").join(e.as("b"),
        col("a.post") === col("b.post") && col("a.user") < col("b.user"))
      .groupBy(col("a.user").as("src"), col("b.user").as("dst"))
      .agg(count(lit(1)).cast("double").as("weight"))
  }

  /** Both orientations — the form iterative algorithms consume
    * (undirectedness as symmetric closure, SURVEY.md G8). */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("weight"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))

  /** Supplier co-engagement over lineitem (suppliers sharing an order) —
    * the testdata instantiation of the reference's user/post graph.
    *
    * Uses the SALTED projection by default: identical output to
    * [[coEngagement]] (BucketingSpec proves equality), but one viral post
    * can never form a k² pair block on a single reducer — the skew
    * protection is on by default rather than an opt-in variant, because at
    * 100 TB the one unprotected hot key is the one that kills the job. The
    * extra per-post count aggregation it costs is one cheap partial-agg
    * pass over the engagement table.
    *
    * Cached per (session, dir) — the reference's named GDS projection
    * (G8: `gds.graph.project` at community_detection.py:18-47) is exactly
    * a cached materialized graph reused by every algorithm; [[dropGraph]]
    * is the drop-if-exists twin (`:19-20`). */
  def supplierGraph(spark: SparkSession, dir: String): DataFrame =
    projections.getOrElseUpdate((spark, dir), {
      val g = coEngagementSalted(Tables.load(spark, dir, "lineitem"),
        "l_suppkey", "l_orderkey").cache()
      g.count() // materialize once
      g
    })

  /** LRU-bounded (round-2 audit: the unbounded map held cached DataFrames
    * for the life of the session). Release cascades into Louvain's
    * collected-sym cache (r11, ADVICE): a dropped or evicted projection
    * takes its derived collect-tier edge array with it, so a
    * drop-and-rebuild re-ingest can never serve stale edges and a dead
    * projection's ~50 MB driver array is freed immediately. */
  private val projections =
    new graft.util.BoundedSessionCache[(SparkSession, String), DataFrame](
      maxEntries = 8, { df =>
        Louvain.invalidateCollected(df)
        df.unpersist(blocking = false)
      })

  /** Invalidate a cached projection (the reference's drop-and-rebuild). */
  def dropGraph(spark: SparkSession, dir: String): Unit =
    projections.remove((spark, dir))

  /** Co-engagement with SALTED hot-post handling: posts whose engagement
    * count exceeds `hotThreshold` get their self-join decomposed into
    * salt×salt sub-joins so no single reducer sees a k² pair block —
    * the explicit skew mitigation for when AQE's runtime splitting isn't
    * available (e.g. disabled AQE or extreme keys). Results are identical
    * to [[coEngagement]] (proved in ProjectionSpec). */
  def coEngagementSalted(engagements: DataFrame, userCol: String,
      postCol: String, hotThreshold: Int = 1000, salts: Int = 8): DataFrame = {
    val e = engagements
      .select(col(postCol).as("post"), col(userCol).as("user"))
      .distinct()
    val counts = e.groupBy(col("post")).agg(count(lit(1)).as("n"))
    val tagged = e.join(counts, "post")
      .withColumn("salt",
        when(col("n") > hotThreshold, pmod(xxhash64(col("user")), lit(salts)))
          .otherwise(lit(0L)))
    // pair (saltA, saltB) grid: replicate the b-side per saltA so every
    // (a.salt, b.salt) combination meets exactly once
    val a = tagged.select(col("post"), col("user"), col("salt"))
    // replicate ONLY hot posts' b-rows across the salt grid; cold posts
    // keep a single copy (no shuffle inflation on the long tail)
    val b = tagged.select(col("post"), col("user").as("user_b"), col("n"))
      .withColumn("salt_a", explode(
        when(col("n") > hotThreshold, sequence(lit(0L), lit(salts - 1L)))
          .otherwise(array(lit(0L)))))
    a.join(b,
        a("post") === b("post") && col("salt") === col("salt_a") &&
          col("user") < col("user_b"))
      .groupBy(col("user").as("src"), col("user_b").as("dst"))
      .agg(count(lit(1)).cast("double").as("weight"))
  }
}
