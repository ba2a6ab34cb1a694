package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.graph.{FastRP, GraphAlgos, KCore, Louvain, Projection}
import graft.metrics.CommunityMetrics
import graft.util.SizeGate.{pairCount, withCollectThreshold}

/** Golden-graph tests (FIXTURES.md §B): exact values for deterministic
  * algorithms, invariants for heuristic ones. */
class GraphAlgoSpec extends SparkSpec with Matchers {

  private def edges(e: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    e.toDF("src", "dst").withColumn("weight", lit(1.0))
  }

  /** triangle 1-2-3 + pendant 4 hanging off 1 */
  private lazy val trianglePendant = edges(Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)))

  /** two 4-cliques {1..4}, {5..8} joined by bridge 4-5 */
  private lazy val twoCliques = {
    val c1 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val c2 = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    edges(c1 ++ c2 :+ (4L, 5L))
  }

  test("k-core: triangle+pendant → triangle nodes core 2, pendant core 1") {
    val out = KCore.run(trianglePendant).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out(1L) shouldBe 2
    out(2L) shouldBe 2
    out(3L) shouldBe 2
    out(4L) shouldBe 1
  }

  test("k-core: two 4-cliques + bridge → all clique nodes core 3") {
    val out = KCore.run(twoCliques).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    (1L to 8L).foreach { n => out(n) shouldBe 3 }
  }

  test("DataFrame k-core equals the sequential peel") {
    Seq(trianglePendant, twoCliques,
      Projection.supplierGraph(spark, "/root/testdata/sf0.001")).foreach { g =>
      // run() peels below the collect gate: the reference; gate 0
      // forces the DataFrame h-index tier
      val peel = KCore.run(g).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val df = withCollectThreshold(0L)(KCore.run(g))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      df shouldBe peel // h-index fixpoint ≡ peeling
      // the forced run cached g's checkpointed sym: drop it, so later
      // suites' cache counts do not see this one
      Louvain.invalidateCollected(g)
    }
  }

  test("connected components: two disconnected cliques → 2 min-id labels") {
    val c1 = edges(Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L)))
    val out = GraphAlgos.connectedComponents(c1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(1L) shouldBe 1L; out(2L) shouldBe 1L; out(3L) shouldBe 1L
    out(10L) shouldBe 10L; out(11L) shouldBe 10L; out(12L) shouldBe 10L
  }

  test("DataFrame label propagation: same disconnection invariant, total labeling") {
    val c1 = edges(Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L)))
    val out = GraphAlgos.labelPropagationDF(c1, maxSteps = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.keySet shouldBe Set(1L, 2L, 3L, 10L, 11L, 12L)
    Set(out(1L), out(2L), out(3L)).intersect(Set(out(10L), out(11L), out(12L))) shouldBe empty
  }

  test("modularity closed form: two cliques + bridge with perfect partition") {
    val s = spark
    import s.implicits._
    val labels = ((1L to 4L).map(_ -> 0) ++ (5L to 8L).map(_ -> 1))
      .toDF("node", "label")
    val q = CommunityMetrics.modularity(twoCliques, labels)
      .collect()(0).getDouble(0)
    // m=13, intra=12, d_0=d_1=13 → Q = 12/13 − 2·(13/26)² = 12/13 − 1/2
    q shouldBe (12.0 / 13.0 - 0.5) +- 1e-9
  }

  test("Louvain: two cliques + bridge → exactly the two cliques") {
    val out = Louvain.run(twoCliques).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.values.toSet.size shouldBe 2
    Set(out(1L), out(2L), out(3L), out(4L)).size shouldBe 1
    Set(out(5L), out(6L), out(7L), out(8L)).size shouldBe 1
    out(1L) should not be out(5L)
  }

  test("Louvain/Leiden degrade gracefully when the super-graph exceeds the collect threshold") {
    // threshold of 1 directed edge can never be met by this graph: the
    // old code aborted with require(); now extra DISTRIBUTED coarsening
    // levels run and, once converged, the distributed labels are returned
    val louvain = withCollectThreshold(1L)(Louvain.run(twoCliques, maxLevels = 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    louvain.keySet shouldBe (1L to 8L).toSet // total partition, no abort
    Set(louvain(1L), louvain(2L), louvain(3L), louvain(4L)).size shouldBe 1
    Set(louvain(5L), louvain(6L), louvain(7L), louvain(8L)).size shouldBe 1
    louvain(1L) should not be louvain(5L)
    val leiden = withCollectThreshold(1L)(
        graft.graph.Leiden.run(twoCliques, distRounds = 2, maxLevels = 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    leiden.keySet shouldBe (1L to 8L).toSet
    Set(leiden(1L), leiden(2L), leiden(3L), leiden(4L)).size shouldBe 1
    Set(leiden(5L), leiden(6L), leiden(7L), leiden(8L)).size shouldBe 1
    // the forced runs cached twoCliques' checkpointed sym: drop it, so
    // later suites' cache counts do not see this one
    Louvain.invalidateCollected(twoCliques)
  }

  test("Louvain sequential tier: label-node movement does not merge distinct communities") {
    // regression (round-3 review, fuzz-confirmed): coarsen's comp map is
    // indexed by node and already folds the partition in — composing the
    // partition a second time merged {0,2,5} and {1,3} into one community
    // on exactly this graph whenever a community's label node had moved
    val s = spark
    import s.implicits._
    val g = Seq((0L, 2L, 10.0), (1L, 3L, 0.1), (1L, 5L, 1.0),
      (2L, 5L, 10.0), (3L, 5L, 0.5)).toDF("src", "dst", "weight")
    val out = Louvain.run(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.keySet shouldBe Set(0L, 1L, 2L, 3L, 5L)
    Set(out(0L), out(2L), out(5L)).size shouldBe 1 // heavy 2-edge path 0-2-5 together
    out(1L) shouldBe out(3L)
    out(0L) should not be out(1L) // and NOT merged with the light pair
  }

  test("Louvain: partition is total and modularity beats singleton baseline") {
    val g = Projection.supplierGraph(spark, "/root/testdata/sf0.001")
    val nodes = g.select(col("src").as("node"))
      .union(g.select(col("dst").as("node"))).distinct()
    val comm = Louvain.run(g)
    comm.count() shouldBe nodes.count() // every node labeled exactly once
    comm.groupBy("node").count().filter(col("count") > 1).count() shouldBe 0
    val q = CommunityMetrics.modularity(g, comm).collect()(0).getDouble(0)
    // the dense co-engagement testgraph has no real community structure, so
    // Louvain may legitimately return one community (Q = 0); anything below
    // the all-in-one baseline would be a bug, as would the negative-Q
    // singleton partition
    q should be >= -1e-9
  }

  test("conductance of the bridge cut = 1/13 per side") {
    val s = spark
    import s.implicits._
    val labels = ((1L to 4L).map(_ -> 0) ++ (5L to 8L).map(_ -> 1))
      .toDF("node", "label")
    val out = CommunityMetrics.structure(twoCliques, labels)
      .select("label", "conductance").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // cut=1, vol(C)=2·6+1=13, 2m−vol=13 → φ = 1/13
    out(0) shouldBe 1.0 / 13.0 +- 1e-9
    out(1) shouldBe 1.0 / 13.0 +- 1e-9
  }

  test("modularity and structure of a partial labeling: unlabeled node, isolated labeled node") {
    val s = spark
    import s.implicits._
    // node 8 unlabeled; node 99 labeled but on no edge
    val labels = ((1L to 4L).map(_ -> 0) ++ (5L to 7L).map(_ -> 1) :+ (99L -> 2))
      .toDF("node", "label")
    // m and intra count the 10 edges with both endpoints labeled; the
    // volumes count every edge: d_0 = 13, d_1 = 4+3+3 = 10 → Q = 9/10 − 269/400
    val q = CommunityMetrics.modularity(twoCliques, labels).collect()(0)
    q.getDouble(0) shouldBe (0.9 - 269.0 / 400.0) +- 1e-9
    q.getDouble(1) shouldBe 10.0
    q.getLong(2) shouldBe 2L
    // conductance over m = 13 (all edges); label 2 has no volume
    val rows = CommunityMetrics.structure(twoCliques, labels).collect()
      .map(r => r.getInt(0) -> r).toMap
    rows.keySet shouldBe Set(0, 1, 2)
    def fixed(r: org.apache.spark.sql.Row) = (r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getLong(4), r.getDouble(5))
    fixed(rows(0)) shouldBe ((4L, 6.0, 1.0, 6L, 13.0))
    fixed(rows(1)) shouldBe ((3L, 3.0, 1.0, 3L, 10.0))
    fixed(rows(2)) shouldBe ((1L, 0.0, 0.0, 0L, 0.0))
    rows(0).getDouble(6) shouldBe 1.0 / 13.0 +- 1e-9
    rows(1).getDouble(6) shouldBe 1.0 / 10.0 +- 1e-9
    rows(2).isNullAt(6) shouldBe true
    rows(0).getDouble(7) shouldBe 1.0
    rows(1).getDouble(7) shouldBe 1.0
    rows(2).isNullAt(7) shouldBe true
  }

  /** The jobs started by `run` under job group `group`: a marker job
    * fences off every earlier job start (the listener bus delivers in
    * order). */
  private def jobsOf(group: String)(run: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        js.properties.getProperty("spark.jobGroup.id") match {
          case `group` => jobs.incrementAndGet()
          case "jobs-marker" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      run
      sc.setJobGroup("jobs-marker", "marker")
      spark.range(1).count()
      markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  private def cliqueLabels: DataFrame = {
    val s = spark
    import s.implicits._
    ((1L to 4L).map(_ -> 0) ++ (5L to 8L).map(_ -> 1)).toDF("node", "label")
  }

  /** Unit vectors of nodes 1..8 in 3 dimensions. */
  private def cliqueVecs: DataFrame = {
    val s = spark
    import s.implicits._
    (1L to 8L).map { n =>
      val v = Seq(1.0 + n % 2, n % 3, 0.5 * n)
      val norm = math.sqrt(v.map(x => x * x).sum)
      n -> v.map(_ / norm)
    }.toDF("node", "v")
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("metrics driver tier: <= 2 jobs per modularity, <= 3 per consumed metric") {
    val (labels, vecs) = (cliqueLabels, cliqueVecs)
    val members = labels.join(vecs, "node").select(col("label"), col("v")).cache()
    members.count()
    jobsOf("modularity") {
      val q = CommunityMetrics.modularity(twoCliques, labels)
      q.isLocal shouldBe true
      q.head().getDouble(0) shouldBe (12.0 / 13.0 - 0.5) +- 1e-9
    } should be <= 2
    Seq[(String, () => DataFrame)](
      "structure" -> (() => CommunityMetrics.structure(twoCliques, labels)),
      "ecs" -> (() => CommunityMetrics.ecs(members)),
      "homophily" -> (() => CommunityMetrics.homophily(twoCliques, vecs))
    ).foreach { case (name, metric) =>
      withClue(s"$name: ") {
        jobsOf(name) {
          val df = metric()
          df.isLocal shouldBe true
          materialize(df)
        } should be <= 3
        // the distributed plans are lazy: building them collects nothing
        jobsOf(s"$name-forced") {
          withCollectThreshold(0L)(metric()).isLocal shouldBe false
        } shouldBe 0
      }
    }
    jobsOf("modularity-forced") {
      withCollectThreshold(0L)(CommunityMetrics.modularity(twoCliques, labels))
    } shouldBe 0
    members.unpersist()
  }

  test("bounded collect: a partition past its share refuses; the metrics fall back alike") {
    val sc = spark.sparkContext
    // partitions of 1 and 5 rows: a bound of 6 gives each a share of 3
    val rows = sc.parallelize(Seq(1), 1).union(sc.parallelize(1 to 5, 1))
    val read = sc.longAccumulator("rows read")
    val counted = rows.map { x => read.add(1); x }
    graft.util.SizeGate.collectWithin(counted, 6L)(_.toArray) shouldBe None
    read.value shouldBe 1L + 4L // the 5-row partition stops after share + 1
    graft.util.SizeGate.collectWithin(rows, 10L)(_.toArray).map(_.flatten.toSeq) shouldBe
      Some(Seq(1, 1, 2, 3, 4, 5))
    jobsOf("bound-0") {
      graft.util.SizeGate.collectWithin(rows, 0L)(_.toArray) shouldBe None
    } shouldBe 0
    // all 13 edges in the last of 4 partitions: a gate of 14 gives each
    // partition 3 rows, a gate of 100 gives 25
    val skewed = spark.createDataFrame(
      sc.parallelize(Seq.empty[org.apache.spark.sql.Row], 3)
        .union(sc.parallelize(twoCliques.collect().toSeq, 1)),
      twoCliques.schema)
    def rowsOf(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    val refused = withCollectThreshold(14L)(CommunityMetrics.structure(skewed, cliqueLabels))
    val local = withCollectThreshold(100L)(CommunityMetrics.structure(skewed, cliqueLabels))
    refused.isLocal shouldBe false
    local.isLocal shouldBe true
    local.schema shouldBe refused.schema
    rowsOf(local) shouldBe rowsOf(refused)
  }

  test("Leiden: two cliques + bridge → the two cliques (refined)") {
    val out = graft.graph.Leiden.run(twoCliques, distRounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.values.toSet.size shouldBe 2
    Set(out(1L), out(2L), out(3L), out(4L)).size shouldBe 1
    Set(out(5L), out(6L), out(7L), out(8L)).size shouldBe 1
  }

  test("density clustering: two tight vector clusters + one outlier → 2 clusters, noise -1") {
    val s = spark
    import s.implicits._
    // cluster A around e1, cluster B around e2, outlier near e3
    def jitter(base: Seq[Double], i: Int): Seq[Double] = {
      val v = base.zipWithIndex.map { case (x, d) => x + 0.01 * ((i * 7 + d) % 3 - 1) }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val a = (0 until 5).map(i => (i.toLong, jitter(Seq(1.0, 0.0, 0.0, 0.0), i)))
    val b = (0 until 5).map(i => ((10 + i).toLong, jitter(Seq(0.0, 1.0, 0.0, 0.0), i)))
    val outlier = Seq((99L, Seq(0.0, 0.0, 0.0, 1.0)))
    val pts = (a ++ b ++ outlier).toDF("id", "v")
    val out = graft.graph.DensityCluster.dbscan(pts, eps = 0.9, minPts = 2,
      bits = 2, tables = 8).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(99L) shouldBe -1L
    (0L to 4L).map(out).toSet.size shouldBe 1
    (10L to 14L).map(out).toSet.size shouldBe 1
    out(0L) should not be out(10L)
    out(0L) should not be -1L
  }

  test("DBSCAN LSH tier vs exact tier: planted 3k fixture, disagreement bounded") {
    val s = spark
    import s.implicits._
    // 3 planted clusters (1000 points each) + 60 scattered noise points,
    // dim 8, deterministic jitter — same audit contract as HdbscanSpec's
    // approximate-tier bound
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Seq(
      Seq(1.0, 0, 0, 0, 0, 0, 0, 0),
      Seq(0, 1.0, 0, 0, 0, 0, 0, 0),
      Seq(0, 0, 1.0, 0, 0, 0, 0, 0))
    val clustered = for {
      c <- 0 until 3
      i <- 0 until 1000
    } yield {
      val v = centers(c).zipWithIndex.map { case (x, d) =>
        x + 0.02 * (((c * 1000 + i) * 31 + d * 7) % 5 - 2)
      }
      ((c * 1000 + i).toLong, unit(v))
    }
    val noise = (0 until 60).map { i =>
      val v = (0 until 8).map(d => ((i * 13 + d * 5) % 11 - 5).toDouble + 0.1)
      ((5000 + i).toLong, unit(v))
    }
    val pts = (clustered ++ noise).toDF("id", "v")
    // the brute tier runs while the 3,060 points' pairs fit the gate
    val pairs = pairCount(3060)
    val exact = withCollectThreshold(pairs)(graft.graph.DensityCluster
      .dbscan(pts, eps = 0.95, minPts = 4))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = withCollectThreshold(pairs - 1)(graft.graph.DensityCluster
      .dbscan(pts, eps = 0.95, minPts = 4)) // force LSH tier
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact tier: the three planted clusters recovered, noise labeled -1
    (0 until 3).foreach { c =>
      (0 until 1000).map(i => exact((c * 1000 + i).toLong)).toSet.size shouldBe 1
    }
    exact(0L) should not be exact(1000L)
    // LSH tier: same partition up to the candidate approximation — bound
    // the pointwise disagreement like the HDBSCAN audit (measured 0)
    val disagree = exact.keys.count { k =>
      // compare partition structure via (is-noise, cluster-of-smallest-member)
      val en = exact(k) == -1L
      val ln = lsh(k) == -1L
      en != ln || (!en && exact(k) != lsh(k))
    }
    disagree.toDouble / exact.size should be <= 0.02
  }

  test("collect gate 0 reaches nested component gates: GraphX components, same labels") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    // the listener pattern above: the jobs of one job group that run
    // GraphX code, a marker job fencing off every earlier job start
    def graphxJobsOf(group: String)(run: => Unit): Int = {
      val graphx = new java.util.concurrent.atomic.AtomicInteger(0)
      val markerSeen = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          js.properties.getProperty("spark.jobGroup.id") match {
            case `group` =>
              if (js.stageInfos.exists(_.details.contains("org.apache.spark.graphx.")))
                graphx.incrementAndGet()
            case "nested-marker" => markerSeen.countDown()
            case _ =>
          }
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, group)
        run
        sc.setJobGroup("nested-marker", "marker")
        spark.range(1).count()
        markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      graphx.get()
    }
    def labels(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each step runs once in a `local` scope and once under gate 0; the
    // local scope fixes the step's other gates, so the component step is
    // the only choice that differs
    def bothScopes(name: String, local: Long)(
        step: => Map[Long, Long]): Map[Long, Long] = {
      var byLocal, forced = Map.empty[Long, Long]
      withClue(s"$name: ") {
        graphxJobsOf(s"$name-local") {
          byLocal = withCollectThreshold(local)(step)
        } shouldBe 0
        graphxJobsOf(s"$name-forced") {
          forced = withCollectThreshold(0L)(step)
        } should be > 0
        forced shouldBe byLocal
      }
      byLocal
    }

    // DBSCAN's components over the exact ε-graph: two clusters and one
    // noise point. A gate of 30 lies between the ε-graph's 20 edges and
    // the 55 point pairs, so the brute tier is off and the components
    // collect
    val pts = (Seq.tabulate(5)(i => (i.toLong, Seq(1.0, 0.01 * i, 0.0))) ++
      Seq.tabulate(5)(i => (10L + i, Seq(0.0, 1.0, 0.01 * i))) :+
      ((99L, Seq(0.0, 0.0, 1.0)))).toDF("id", "v")
      .select(col("id"), graft.functions.VectorFunctions.l2normalize(col("v")).as("v"))
    val db = bothScopes("dbscan", local = 30L)(labels(
      graft.graph.DensityCluster.dbscan(pts, eps = 0.9, minPts = 2,
        exactCandidates = true)))
    db(99L) shouldBe -1L
    (0L to 4L).map(db).toSet shouldBe Set(0L)
    (10L to 14L).map(db).toSet shouldBe Set(10L)

    // HDBSCAN's extraction levels over a two-chain MST: topFit = 5 leaves
    // a below-pivot forest, whose components are the nested gate
    val chains = (0 until 9).map(i => (i.toLong, i + 1L, 0.10 + 0.01 * i)) ++
      (0 until 9).map(i => (100L + i, 101L + i, 0.12 + 0.01 * i)) :+
      ((9L, 100L, 5.0))
    val ids = (0L to 9L) ++ (100L to 109L)
    val hd = bothScopes("hdbscan-extraction", local = 2000000L)(labels(
      graft.graph.Hdbscan.extractLabelsDistributed(chains.toDF("a", "b", "w"),
        ids.toDF("id"), minClusterSize = 4, topFit = 5, minDriverBatch = 1)))
    hd shouldBe graft.graph.Hdbscan.extractLabels(chains.toArray, ids.toArray, 4)
  }

  test("the collect gate set to its default changes no tier: brute at 2,000 points, not 2,001") {
    val s = spark
    import s.implicits._
    def unitPoints(n: Int): DataFrame = (0 until n).map { i =>
      val v = Seq(1.0 + i % 7, (i * 13 % 11).toDouble, (i * 29 % 17).toDouble)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(_ / norm))
    }.toDF("id", "v")
    def labels(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val algos = Seq[(String, DataFrame => DataFrame)](
      "hdbscan" -> (graft.graph.Hdbscan.run(_, minPts = 4, minClusterSize = 4)),
      "dbscan" -> (graft.graph.DensityCluster.dbscan(_, eps = 0.999, minPts = 4, dim = 3)))
    for ((name, algo) <- algos; n <- Seq(2000, 2001)) withClue(s"$name, n = $n: ") {
      val pts = unitPoints(n).cache()
      pts.count()
      // each run once with no scope, once with the gate set to its
      // default, and once with a gate that exactly fits the n(n−1)/2
      // pairs, which puts the brute tier on
      var byDefault, explicit = Map.empty[Long, Long]
      val jobsByDefault = jobsOf(s"$name-$n-default") { byDefault = labels(algo(pts)) }
      val jobsExplicit = jobsOf(s"$name-$n-explicit") {
        explicit = withCollectThreshold(2000000L)(labels(algo(pts)))
      }
      val jobsBrute = jobsOf(s"$name-$n-brute") {
        withCollectThreshold(pairCount(n))(labels(algo(pts)))
      }
      jobsExplicit shouldBe jobsByDefault
      explicit shouldBe byDefault
      if (n == 2000) jobsByDefault shouldBe jobsBrute // the brute tier
      else jobsByDefault should be > jobsBrute // the blocked or LSH tier
      pts.unpersist()
    }
  }

  test("Leiden: total single-label partition on the testdata graph") {
    val g = Projection.supplierGraph(spark, "/root/testdata/sf0.001")
    val nodes = g.select(col("src").as("node"))
      .union(g.select(col("dst").as("node"))).distinct().count()
    val out = graft.graph.Leiden.run(g, distRounds = 2)
    out.count() shouldBe nodes
    out.groupBy("node").count().filter(col("count") > 1).count() shouldBe 0
  }

  test("FastRP: deterministic across runs, unit vectors, right dim") {
    val a = FastRP.run(twoCliques, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = FastRP.run(twoCliques, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    a shouldBe b
    a.values.foreach { v =>
      v.length shouldBe 16
      math.sqrt(v.map(x => x * x).sum) shouldBe 1.0 +- 1e-9
    }
  }

  test("q49 EP2 composed pipeline: FastRP embeddings -> HDBSCAN separates planted cliques") {
    // two 8-cliques + weak bridge — the reference's fastrp_embedding →
    // run_hdbscan chain (community_detection.py) must recover them
    import spark.implicits._
    val cA = for (i <- 0 until 8; j <- i + 1 until 8) yield (i.toLong, j.toLong, 1.0)
    val cB = for (i <- 10 until 18; j <- i + 1 until 18) yield (i.toLong, j.toLong, 1.0)
    val edges = (cA ++ cB :+ ((0L, 10L, 0.1))).toDF("src", "dst", "weight")
    def pipeline() = graft.graph.Hdbscan.run(
      FastRP.run(edges, dim = 32)
        .select(col("node").as("id"), col("embedding").as("v")),
      minPts = 3, minClusterSize = 3)
    val out = pipeline().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.size shouldBe 16 // total labeling
    val labelsA = (0L until 8L).map(out).toSet
    val labelsB = (10L until 18L).map(out).toSet
    labelsA.size shouldBe 1 // each clique uniform...
    labelsB.size shouldBe 1
    labelsA should not equal labelsB // ...and separated
    labelsA.head should not be -1L // neither is noise
    labelsB.head should not be -1L
    pipeline().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe out
  }
}
