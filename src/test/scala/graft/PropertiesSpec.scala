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

  /** A labeled graph for the tier check: weighted edges over nodes 0..n
    * (self-loops and duplicate edges included, possibly none), labels
    * that skip some endpoints and cover two edge-less nodes (one of
    * them a singleton community), unit or zero node vectors for some
    * nodes, and optionally one node repeated in the labels or vectors. */
  private final case class Labeled(edges: Seq[(Long, Long, Double)],
      labels: Seq[(Long, Int)], vecs: Seq[(Long, Seq[Double])])

  private val labeledGen: Gen[Labeled] = for {
    n <- Gen.chooseNum(1, 9)
    nEdges <- Gen.oneOf(Gen.const(0), Gen.chooseNum(1, 24))
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.chooseNum(0, n); b <- Gen.chooseNum(0, n)
      w <- Gen.oneOf(0.5, 1.0, 2.0, 3.0)
    } yield (a.toLong, b.toLong, w))
    k <- Gen.chooseNum(1, 4) // 1: one community holds every labeled node
    labels <- Gen.sequence[List[Option[(Long, Int)]], Option[(Long, Int)]](
      (0 to n + 1).map(node => Gen.option(Gen.chooseNum(0, k - 1).map(node.toLong -> _))))
    dim <- Gen.chooseNum(2, 4)
    vecs <- Gen.sequence[List[Option[(Long, Seq[Double])]], Option[(Long, Seq[Double])]](
      (0 to n + 1).map(node => Gen.option(Gen.frequency(
        1 -> Gen.const(Seq.fill(dim)(0.0)), // the zero vector
        6 -> Gen.listOfN(dim, Gen.chooseNum(-1.0, 1.0)).map { v =>
          val norm = math.sqrt(v.map(x => x * x).sum)
          if (norm == 0.0) v else v.map(_ / norm)
        }).map(node.toLong -> _))))
    repeat <- Gen.chooseNum(0, 3) // 1: a label row twice, 2: a vector row twice
  } yield {
    val lab = labels.flatten :+ ((n + 2).toLong -> 99)
    val vs = vecs.flatten
    Labeled(edges, if (repeat == 1) lab :+ lab.head else lab,
      if (repeat == 2 && vs.nonEmpty) vs :+ vs.head else vs)
  }

  test("metrics driver tier equals the distributed tier on generated inputs") {
    val s = spark
    import s.implicits._
    import graft.util.SizeGate.withCollectThreshold
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.headOption.map(String.valueOf)).toSeq
    def same(a: Any, b: Any): Unit = (a, b) match {
      case (x: Double, y: Double) => x shouldBe y +- 1e-9 * math.max(1.0, math.abs(y))
      case _ => a shouldBe b
    }
    val fixed = Seq(
      Labeled(Nil, Seq(1L -> 0, 2L -> 1), Seq(1L -> Seq(1.0, 0.0))), // no edges
      Labeled(Seq((1L, 1L, 2.0), (1L, 2L, 1.0), (1L, 2L, 1.0), (2L, 3L, 0.5)),
        Seq(1L -> 0, 2L -> 0, 3L -> 0), // one community, self-loop, duplicate
        Seq(1L -> Seq(0.0, 0.0), 2L -> Seq(0.6, 0.8), 3L -> Seq(0.6, 0.8))))
    (fixed ++ samples(labeledGen, 14)).foreach { g =>
      val edges = g.edges.toDF("src", "dst", "weight")
      val labels = g.labels.toDF("node", "label")
      val vecs = g.vecs.toDF("node", "v")
      val members = g.labels.flatMap { case (node, l) =>
        g.vecs.filter(_._1 == node).map(v => (l, v._2)) }.toDF("label", "v")
      val repeatedLabel = g.labels.map(_._1).distinct.length < g.labels.length
      val repeatedVec = g.vecs.map(_._1).distinct.length < g.vecs.length
      Seq[(String, () => org.apache.spark.sql.DataFrame, Boolean)](
        ("modularity", () => CommunityMetrics.modularity(edges, labels), !repeatedLabel),
        ("structure", () => CommunityMetrics.structure(edges, labels), !repeatedLabel),
        ("ecs", () => CommunityMetrics.ecs(members), true),
        ("homophily", () => CommunityMetrics.homophily(edges, vecs), !repeatedVec)
      ).foreach { case (name, metric, driver) =>
        withClue(s"$name on $g: ") {
          val (local, dist) = (metric(), withCollectThreshold(0L)(metric()))
          local.isLocal shouldBe driver // a repeated node refuses the tier
          dist.isLocal shouldBe false
          local.schema shouldBe dist.schema
          val (l, d) = (rowsOf(local), rowsOf(dist))
          l.length shouldBe d.length
          l.zip(d).foreach { case (lr, dr) => lr.zip(dr).foreach { case (a, b) => same(a, b) } }
        }
      }
    }
  }
}
