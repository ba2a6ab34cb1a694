package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.graph.Projection
import graft.schemas.Tables
import graft.warehouse.Bucketing

class BucketingSpec extends SparkSpec with Matchers {

  test("bucketed fact⋈fact join runs shuffle-free and matches the shuffled result") {
    // managed tables land under the default spark.sql.warehouse.dir
    // (./spark-warehouse, gitignored)
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    Bucketing.saveBucketed(li, "li_b", "l_orderkey", 8)
    Bucketing.saveBucketed(orders.withColumnRenamed("o_orderkey", "l_orderkey"),
      "orders_b", "l_orderkey", 8)

    val joined = Bucketing.table(spark, "li_b")
      .join(Bucketing.table(spark, "orders_b"), "l_orderkey")
      .groupBy("l_orderkey").agg(sum("l_quantity").as("q"), max("o_totalprice").as("p"))
    Bucketing.isShuffleFree(joined) shouldBe true // both exchanges elided

    val shuffled = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy("l_orderkey").agg(sum("l_quantity").as("q"), max("o_totalprice").as("p"))
    joined.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted shouldBe
      shuffled.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sorted
  }

  test("salted co-engagement equals the plain projection exactly") {
    val s = spark
    import s.implicits._
    // one hot post (40 users) + long tail
    val eng = ((1 to 40).map(u => (900L, u.toLong)) ++
      (1 to 30).map(i => (i.toLong, (i % 7).toLong)) ++
      Seq((10L, 50L), (10L, 51L))).toDF("post", "user")
    val plain = Projection.coEngagement(eng, "user", "post").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Projection.coEngagementSalted(eng, "user", "post",
      hotThreshold = 10, salts = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    salted shouldBe plain
    plain.nonEmpty shouldBe true
  }

  test("salting bounds per-reducer fan-out on a planted hot post") {
    val s = spark
    import s.implicits._
    val salts = 8
    val n = 200
    // the salt assignment used by coEngagementSalted for hot posts
    val groups = (1 to n).map(_.toLong).toDF("user")
      .select(pmod(xxhash64(col("user")), lit(salts)).as("salt"))
      .groupBy("salt").count().collect()
    groups.length shouldBe salts // every salt bucket populated
    val maxGroup = groups.map(_.getLong(1)).max
    // no (post, salt) block exceeds ~2× the ideal n/salts split, so the
    // worst sub-join block is ≤ (2n/salts)² pairs instead of n² — the
    // bound that keeps one viral post from pinning a single reducer
    maxGroup should be <= (2L * n / salts)
  }

  test("dropGraph unpersists the cached projection and a rebuild works (G8 lifecycle)") {
    val dir = "/root/testdata/sf0.001"
    val g = graft.graph.Projection.supplierGraph(spark, dir)
    g.storageLevel.useMemory shouldBe true
    graft.graph.Projection.dropGraph(spark, dir)
    g.storageLevel.useMemory shouldBe false // released, not leaked
    graft.graph.Projection.supplierGraph(spark, dir).count() should be > 0L
    graft.graph.Projection.dropGraph(spark, dir)
  }

  test("dropGraph cascades into the collected-sym cache (r11 ADVICE: no stale edges)") {
    val dir = "/root/testdata/sf0.001"
    val g = graft.graph.Projection.supplierGraph(spark, dir)
    // populate the collect-tier cache through the public entry point
    graft.graph.Louvain.run(g).count() should be > 0L
    val before = graft.graph.Louvain.collectedSymEntries
    before should be >= 1
    // dropping the projection must release its derived edge array too —
    // a re-ingested rebuild can then never serve stale collected edges
    graft.graph.Projection.dropGraph(spark, dir)
    graft.graph.Louvain.collectedSymEntries shouldBe (before - 1)
    val g2 = graft.graph.Projection.supplierGraph(spark, dir)
    (g2 eq g) shouldBe false // a rebuild is a fresh instance (fresh key)
    graft.graph.Louvain.run(g2).count() should be > 0L // fresh collect works
    graft.graph.Projection.dropGraph(spark, dir)
    graft.graph.Louvain.collectedSymEntries shouldBe (before - 1)
  }

  test("checkpointed-sym cache: forced-tier queries share one symmetrize; dropGraph releases it (r12)") {
    val dir = "/root/testdata/sf0.001"
    val g = graft.graph.Projection.supplierGraph(spark, dir)
    val before = graft.graph.Louvain.checkpointedSymEntries
    // gate 0 forces the distributed ALGORITHM; the checkpointed sym
    // (an executor-resident shuffle product) is still shared — reusing it
    // changes cost, not formulation (see Louvain.symTiered scaladoc)
    def forced[T](body: => T): T =
      graft.util.SizeGate.withCollectThreshold(0L)(body)
    forced(graft.graph.Louvain.run(g)).count() should be > 0L
    graft.graph.Louvain.checkpointedSymEntries shouldBe (before + 1)
    // a second forced algorithm on the same instance hits the entry
    // (same count — no second insertion) and still answers correctly
    val cores = forced(graft.graph.KCore.run(g))
    cores.count() should be > 0L
    graft.graph.Louvain.checkpointedSymEntries shouldBe (before + 1)
    // the forced run must agree with the collect tier on the same graph
    val coresSeq = graft.graph.KCore.run(g).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    cores.collect().map(r => (r.getLong(0), r.getInt(1))).toMap shouldBe coresSeq
    // drop cascades into BOTH caches — no stale edges, blocks released
    graft.graph.Projection.dropGraph(spark, dir)
    graft.graph.Louvain.checkpointedSymEntries shouldBe before
  }

  test("symTiered cache contract: a same-instance input serves its collected edges like .cache() (r12)") {
    val s2 = spark
    import s2.implicits._
    // a NON-Projection edge frame whose underlying files get rewritten:
    // the documented contract (Louvain.symTiered scaladoc) is instance-
    // keyed caching — the same frame instance keeps serving the edges
    // collected at first use, exactly like Spark's own .cache() would;
    // a fresh read after the rewrite is a fresh instance and misses.
    val dir = java.nio.file.Files.createTempDirectory("symcc").toFile.getAbsolutePath
    val p = s"$dir/edges.parquet"
    Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "weight")
      .write.mode("overwrite").parquet(p)
    val inst = spark.read.parquet(p)
    val labels1 = graft.graph.Louvain.run(inst).count()
    labels1 shouldBe 3L
    // rewrite the files under the SAME instance
    Seq((10L, 20L, 1.0), (20L, 30L, 1.0), (30L, 40L, 1.0), (40L, 50L, 1.0))
      .toDF("src", "dst", "weight").write.mode("overwrite").parquet(p)
    // same instance -> cached collected edges (the documented hazard)
    graft.graph.Louvain.run(inst).count() shouldBe labels1
    // fresh instance -> fresh key -> reads the rewritten files
    graft.graph.Louvain.run(spark.read.parquet(p)).count() shouldBe 5L
    graft.graph.Louvain.invalidateCollected(inst) // don't leak the entry
  }

  test("BoundedSessionCache evicts least-recently-used and releases it") {
    val released = scala.collection.mutable.ArrayBuffer[Int]()
    val c = new graft.util.BoundedSessionCache[String, Int](2, released += _)
    c.getOrElseUpdate("a", 1); c.getOrElseUpdate("b", 2)
    c.getOrElseUpdate("a", -1) shouldBe 1 // hit refreshes recency, no build
    c.getOrElseUpdate("c", 3) // bound exceeded -> evict LRU = b
    released.toSeq shouldBe Seq(2)
    c.size shouldBe 2
    c.getOrElseUpdate("b", 4) shouldBe 4 // b was evicted, rebuilds
    released.toSeq shouldBe Seq(2, 1) // and now a (LRU) went
    c.remove("c")
    released.toSeq shouldBe Seq(2, 1, 3)
    c.size shouldBe 1
  }
}
