package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.matchers.should.Matchers

import graft.functions.{VectorFunctions => V}
import graft.graph.{KCore, Projection}
import graft.metrics.CommunityMetrics

/** Property-based invariants (SURVEY.md §5.3): mathematical bounds that
  * must hold for any input, checked over ScalaCheck-generated data.
  * (Raw Gen sampling — the scalatest/scalacheck bridge isn't in the
  * offline artifact cache.) */
class PropertiesSpec extends SparkSpec with Matchers {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val vecPairGen: Gen[(Seq[Double], Seq[Double])] = for {
    n <- Gen.chooseNum(2, 8)
    a <- Gen.listOfN(n, Gen.chooseNum(-10.0, 10.0))
    b <- Gen.listOfN(n, Gen.chooseNum(-10.0, 10.0))
  } yield (a.toSeq, b.toSeq)

  /** Random graph as canonical edge list over node ids 1..n. */
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(4, 12)
    pairs = for { i <- 1 to n; j <- (i + 1) to n } yield (i.toLong, j.toLong)
    mask <- Gen.listOfN(pairs.length, Gen.prob(0.5))
  } yield pairs.zip(mask).filter(_._2).map(_._1)

  test("cosine ∈ [−1,1], symmetric; l2normalize gives unit (or zero) norm") {
    val s = spark
    import s.implicits._
    val cases = samples(vecPairGen, 25)
    val df = cases.toDF("a", "b")
      .select(
        V.cosine(col("a"), col("b")).as("cab"),
        V.cosine(col("b"), col("a")).as("cba"),
        V.l2norm(V.l2normalize(col("a"))).as("na"))
      .collect()
    df.zip(cases).foreach { case (r, (a, _)) =>
      r.getDouble(0) should (be >= -1.0 - 1e-9 and be <= 1.0 + 1e-9)
      r.getDouble(0) shouldBe r.getDouble(1) +- 1e-12
      if (a.exists(_ != 0.0)) r.getDouble(2) shouldBe 1.0 +- 1e-9
      else r.getDouble(2) shouldBe 0.0
    }
  }

  test("k-core: 1 ≤ coreness ≤ degree for every non-isolated node") {
    val s = spark
    import s.implicits._
    samples(graphGen.suchThat(_.nonEmpty), 6).foreach { es =>
      val edges = es.toDF("src", "dst").withColumn("weight", lit(1.0))
      val cores = KCore.run(edges).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val degs = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (node, ends) => node -> ends.length.toDouble }
      cores.foreach { case (node, core) =>
        core should be >= 1
        core.toDouble should be <= degs(node)
      }
    }
  }

  test("modularity of any partition ∈ [−0.5, 1]; conductance ∈ [0, 1]") {
    val s = spark
    import s.implicits._
    samples(Gen.zip(graphGen.suchThat(_.length >= 3), Gen.chooseNum(1, 4)), 6)
      .foreach { case (es, k) =>
        val edges = es.toDF("src", "dst").withColumn("weight", lit(1.0))
        val labels = es.flatMap(e => Seq(e._1, e._2)).distinct
          .map(n => (n, (n % k).toInt)).toDF("node", "label")
        val q = CommunityMetrics.modularity(edges, labels).collect()(0).getDouble(0)
        q should (be >= -0.5 - 1e-9 and be <= 1.0 + 1e-9)
        CommunityMetrics.modularity(Projection.symmetrize(edges), labels)
          .collect()(0).getDouble(0) shouldBe q +- 1e-9
        CommunityMetrics.structure(edges, labels)
          .select(col("conductance")).collect()
          .filterNot(_.isNullAt(0)).map(_.getDouble(0))
          .foreach { c => c should (be >= 0.0 and be <= 1.0 + 1e-9) }
      }
  }

  test("ECS = cohesion × separation by construction; components bounded") {
    val s = spark
    import s.implicits._
    val vecs = samples(vecPairGen, 30).flatMap { case (a, b) => Seq(a.take(4), b.take(4)) }
      .filter(_.length == 4).filter(_.exists(_ != 0.0))
    val members = vecs.zipWithIndex
      .map { case (v, i) => (i % 3, v) }.toDF("label", "v0")
      .select(col("label"), V.l2normalize(col("v0")).as("v"))
    CommunityMetrics.ecs(members).collect().foreach { r =>
      val (coh, sep) = (r.getAs[Any]("cohesion"), r.getAs[Any]("separation"))
      if (coh != null && sep != null) {
        val e = r.getAs[Double]("ecs")
        e shouldBe coh.asInstanceOf[Double] * sep.asInstanceOf[Double] +- 1e-12
        coh.asInstanceOf[Double] should (be >= -1.0 - 1e-9 and be <= 1.0 + 1e-9)
        sep.asInstanceOf[Double] should (be >= 0.0 - 1e-9 and be <= 2.0 + 1e-9)
      }
    }
  }

  test("IndirectSort: stable, matches boxed sortBy on random doubles with ties") {
    samples(Gen.listOfN(300, Gen.chooseNum(0, 20).map(_ * 0.5)), 25).foreach { xs =>
      val w = xs.toArray
      val expected = Array.range(0, w.length).toSeq.sortBy(w) // TimSort, stable
      val actual = graft.util.IndirectSort.sorted(w.length)((a, b) => w(a) < w(b)).toSeq
      actual shouldBe expected
    }
  }
}
