package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Integer PageRank (q94's operator): regular-graph uniformity, hub
  * dominance, ppm mass conservation up to deterministic DIV truncation,
  * and the empty-graph guard. */
class PageRankSpec extends SparkSpec with Matchers {

  private def edges(pairs: Seq[(Long, Long, Double)]) = {
    val s = spark
    import s.implicits._
    pairs.toDF("src", "dst", "weight")
  }

  test("ring graph: every node gets the identical rank") {
    val n = 8
    val ring = edges((0 until n).map(i =>
      (i.toLong, ((i + 1) % n).toLong, 1.0)).filter(p => p._1 < p._2)
      :+ (0L, (n - 1).toLong, 1.0))
    val pr = PageRank.run(ring, iters = 5).collect()
    pr.map(_.getAs[Long]("pr")).toSet.size shouldBe 1
    pr.length shouldBe n
  }

  test("star graph: the hub outranks every leaf") {
    val star = edges((1 to 6).map(i => (0L, i.toLong, 1.0)))
    val pr = PageRank.run(star, iters = 5)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    val hub = pr(0L)
    (1 to 6).foreach(i => hub should be > pr(i.toLong))
  }

  test("ppm mass is conserved within deterministic truncation loss") {
    val g = edges(Seq((1L, 2L, 2.0), (2L, 3L, 1.0), (1L, 3L, 1.0), (3L, 4L, 5.0)))
    val total = PageRank.run(g, iters = 5)
      .agg(sum(col("pr"))).collect()(0).getLong(0)
    total should be <= 1000000L
    total should be > 900000L // <=1 ppm lost per DIV, a handful of DIVs deep
  }

  test("personalized: mass stays reachable-from-seeds; unreachable component is all zero") {
    // component A: 1-2-3 (seed 1); component B: 10-11 (no seeds)
    val g = edges(Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (10L, 11L, 1.0)))
    val pr = PageRank.run(g, iters = 5, seed = Some(n => n === 1L))
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("pr")).toMap
    pr(10L) shouldBe 0L
    pr(11L) shouldBe 0L
    pr(1L) should be > pr(3L) // the seed outranks the far node
    pr(2L) should be > 0L
    pr(3L) should be > 0L
  }

  test("empty edge list returns an empty frame, not a division by zero") {
    PageRank.run(edges(Nil), iters = 3).count() shouldBe 0L
  }

  test("iters <= 0 is rejected up front (r9 ADVICE: would be use-after-release)") {
    an[IllegalArgumentException] should be thrownBy
      PageRank.run(edges(Seq((1L, 2L, 1L))), iters = 0)
  }

  test("collect tier = distributed tier, ppm-exact, uniform and seeded (r10)") {
    // an irregular weighted graph (star + chain + triangle + isolated pair)
    // where ranks genuinely differ per node; identical integer arithmetic
    // must make the two tiers BIT-equal
    val es = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (1L, 4L, 2.0), (4L, 5L, 1.0),
      (5L, 6L, 4.0), (6L, 4L, 2.0), (10L, 11L, 7.0))
    for (seed <- Seq(None, Some((n: org.apache.spark.sql.Column) => n % 2 === 0))) {
      val inMem = PageRank.run(edges(es), iters = 5, seed = seed)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = graft.util.SizeGate.withCollectThreshold(0L)(
          PageRank.run(edges(es), iters = 5, seed = seed))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"seeded=${seed.isDefined}: ") { inMem shouldBe dist }
      inMem.values.toSet.size should be > 1 // the fixture isn't degenerate
    }
  }
}
