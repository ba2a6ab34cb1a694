package graft

import org.scalatest.matchers.should.Matchers

import graft.graph._
import graft.metrics.CommunityMetrics

/** Degenerate inputs through the small-graph tiers: empty and single-edge
  * graphs must return well-typed results, not throw. */
class GraphEdgeCasesSpec extends SparkSpec with Matchers {

  test("empty graphs: every iterative algorithm returns an empty typed result") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long, Double)].toDF("src", "dst", "weight")
    Louvain.run(empty).count() shouldBe 0
    Leiden.run(empty).count() shouldBe 0
    Louvain.modularityOptimization(empty).count() shouldBe 0
    KCore.run(empty).count() shouldBe 0
    GraphAlgos.labelPropagationDF(empty).count() shouldBe 0
    GraphAlgos.connectedComponents(empty).count() shouldBe 0
    FastRP.run(empty, dim = 4).count() shouldBe 0
    val noPts = Seq.empty[(Long, Seq[Double])].toDF("id", "v")
    Hdbscan.run(noPts).count() shouldBe 0
    graft.util.SizeGate.withCollectThreshold(0L)(Hdbscan.run(noPts)).count() shouldBe 0
  }

  test("single-edge graph: totality and sane labels through the sequential tier") {
    val s = spark
    import s.implicits._
    val one = Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight")
    val lv = Louvain.run(one).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lv.keySet shouldBe Set(1L, 2L)
    lv(1L) shouldBe lv(2L) // one edge = one community
    KCore.run(one).collect().map(_.getInt(1)).toSet shouldBe Set(1)
    GraphAlgos.connectedComponents(
      one.select($"src", $"dst")).collect()
      .map(_.getLong(1)).toSet shouldBe Set(1L)
    val fr = FastRP.run(one, dim = 8).collect()
    fr.length shouldBe 2
    fr.foreach(_.getSeq[Double](1).length shouldBe 8)
  }

  test("incumbent guard: pure-distributed community tiers never return Q < 0 on a dense graph") {
    val s = spark
    import s.implicits._
    // two 12-cliques joined by one bridge: dense enough that torn
    // mid-flight partitions (bounded synchronous rounds, parity damping)
    // go negative without the guard; two planted communities regardless
    val cliques = for {
      c <- 0 to 1; i <- 0 until 12; j <- (i + 1) until 12
    } yield (c * 100L + i, c * 100L + j, 1.0)
    val edges = (cliques :+ ((0L, 100L, 1.0))).toDF("src", "dst", "weight")
    for (lab <- graft.util.SizeGate.withCollectThreshold(0L)(Seq(
        Leiden.run(edges),
        Louvain.run(edges),
        Louvain.modularityOptimization(edges)))) {
      val labels = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      labels.keySet shouldBe cliques.flatMap(e => Seq(e._1, e._2)).toSet // totality
      CommunityMetrics.modularity(edges, lab).head().getDouble(0) should be >= 0.0
      graft.util.BlockRelease.release(lab)
    }
    // the forced runs cached the graph's checkpointed sym: drop it, so
    // later suites' cache counts do not see this one
    Louvain.invalidateCollected(edges)
  }
}
