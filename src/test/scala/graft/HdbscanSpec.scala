package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.graph.Hdbscan
import graft.util.SizeGate.{pairCount, withCollectThreshold}

/** Golden/invariant specs for true HDBSCAN (SURVEY.md G2): planted-density
  * fixtures with known cluster recovery + noise semantics, plus a
  * hand-checked Borůvka MST. */
class HdbscanSpec extends SparkSpec with Matchers {

  /** Runs `body` with the brute tier over `n` points just past the
    * collect gate: one pair under n(n−1)/2 forces the blocked tier and
    * keeps the MST and extraction gates on the driver. */
  private def blockedTier[T](n: Long)(body: => T): T =
    withCollectThreshold(pairCount(n) - 1)(body)

  /** Two tight 8-dim blobs (30 pts each) + 12 scattered far-apart noise
    * points: the canonical planted-density fixture. Blob points sit on a
    * radially-thinning shell pattern (unimodal density peak) so the
    * mathematically right EOM answer is ONE cluster per blob — a uniform
    * cube can legitimately split under Excess-of-Mass. */
  private def fixture = {
    val s = spark
    import s.implicits._
    def blob(center: Seq[Double], idBase: Long): Seq[(Long, Seq[Double])] =
      (0 until 30).map { i =>
        val dir = Seq.tabulate(8)(d =>
          ((i * 2654435761L + d * 40503L + 7L) % 2000L) / 1000.0 - 1.0)
        val norm = math.max(math.sqrt(dir.map(x => x * x).sum), 1e-9)
        val r = 0.003 * i // density decreasing with radius: unimodal
        (idBase + i, center.zip(dir).map { case (c, x) => c + x / norm * r })
      }
    val blobA = blob(Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0), 0L)
    val blobB = blob(Seq(0.0, 5.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0), 100L)
    val noise = (0 until 12).map { i =>
      val v = Seq.tabulate(8)(d =>
        if (d == (i % 8)) 20.0 + 7.0 * i else -10.0 - 3.0 * ((i * 13 + d) % 9))
      ((1000 + i).toLong, v)
    }
    (blobA ++ blobB ++ noise).toDF("id", "v")
  }

  test("planted-density fixture: exactly 2 clusters recovered, scattered points are noise") {
    val out = Hdbscan.run(fixture, minPts = 4, minClusterSize = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.size shouldBe 72 // total labeling
    val aLabels = (0L until 30L).map(out).toSet
    val bLabels = (100L until 130L).map(out).toSet
    aLabels.size shouldBe 1 // blob A intact
    bLabels.size shouldBe 1 // blob B intact
    aLabels.head should not be -1L
    bLabels.head should not be -1L
    aLabels.head should not be bLabels.head
    (0 until 12).foreach { i => out(1000L + i) shouldBe -1L } // all noise
  }

  test("Borůvka MST matches the hand-computed MST on a weighted graph") {
    val s = spark
    import s.implicits._
    // graph: 1-2 (1.0), 2-3 (2.0), 1-3 (3.0), 3-4 (1.5), 4-5 (4.0), 2-5 (5.0)
    // MST: {1-2, 2-3, 3-4, 4-5} with total weight 8.5
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 3.0),
      (3L, 4L, 1.5), (4L, 5L, 4.0), (2L, 5L, 5.0)).toDF("a", "b", "w")
    val mst = Hdbscan.boruvkaMst(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    mst shouldBe Set((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 4L, 1.5), (4L, 5L, 4.0))
    // the fully-distributed merge path (pointer doubling) must agree
    val mstDist = withCollectThreshold(0L)(Hdbscan.boruvkaMst(edges))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    mstDist shouldBe mst
    // several rounds of pointer doubling: a 500-node ring with chords
    // against Kruskal under the same (w, a, b) order
    val ring = (0L until 500L).flatMap { i =>
      Seq((i, (i + 1) % 500, (i * 7919 % 1009) / 1009.0),
        (i, (i * 37 + 11) % 500, 1.0 + (i * 104729 % 997) / 997.0))
    }.collect { case (a, b, w) if a != b => (math.min(a, b), math.max(a, b), w) }
    withCollectThreshold(0L)(Hdbscan.boruvkaMst(ring.toDF("a", "b", "w")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet shouldBe Hdbscan.kruskalMst(ring.toArray).toSet
  }

  test("Borůvka on a disconnected graph yields one spanning tree per component") {
    val s = spark
    import s.implicits._
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 2.0), // component {1,2,3}
      (10L, 11L, 0.5)).toDF("a", "b", "w") // component {10,11}
    val mst = Hdbscan.boruvkaMst(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    mst shouldBe Set((1L, 2L, 1.0), (2L, 3L, 2.0), (10L, 11L, 0.5))
  }

  test("blocked exact tier = brute tier, label-exact (r10: the LSH tier is gone)") {
    // blockedTier forces the block-pair partitioned path; with a
    // tiny taskTarget the 72 points spread over many block-pair tasks, so
    // the sparsified MST union is genuinely exercised. The blocked tier
    // computes the SAME unique (w, a, b)-ordered MST as the in-memory
    // brute tier, so labels (min member ids) must be EQUAL, not similar.
    val brute = Hdbscan.run(fixture, minPts = 4, minClusterSize = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val blocked = blockedTier(72)(Hdbscan.run(fixture, minPts = 4,
        minClusterSize = 5, taskTarget = 16))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    blocked shouldBe brute
    (0L until 30L).map(blocked).toSet.size shouldBe 1
    (100L until 130L).map(blocked).toSet.size shouldBe 1
    blocked(0L) should not be -1L
    blocked(0L) should not be blocked(100L)
  }

  test("over collect threshold: distributed EOM extraction = collected extraction, label-exact") {
    // same blocked candidate graph and MST both times; the only difference is
    // the extraction tier — collected condensed tree vs the two-phase
    // pivot-split factorization (round-5 replacement for the flat cut).
    // Labels are min member ids, so exact equality is the contract.
    val base = blockedTier(72)(Hdbscan.run(fixture, minPts = 4,
        minClusterSize = 5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = withCollectThreshold(20L)( // force two-phase extraction
        Hdbscan.run(fixture, minPts = 4, minClusterSize = 5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dist.size shouldBe 72
    dist shouldBe base
    // and the planted structure survives end-to-end
    (0L until 30L).map(dist).toSet.size shouldBe 1
    (100L until 130L).map(dist).toSet.size shouldBe 1
    dist(0L) should not be dist(100L)
    dist(0L) should not be -1L
  }

  test("two-phase extraction = sequential extraction on a handcrafted forest MST") {
    // a forest exercising every stitching path: two mcs-sized chains
    // joined by a heavy bridge (top-piece edge → the EOM split), an
    // undersized side tree (→ noise) and an isolated point (singleton
    // component, → noise). componentFit forces the pivot BELOW the
    // bridge so both chains become separate continuation components.
    val s = spark
    import s.implicits._
    val chainA = (0 until 9).map(i => (i.toLong, (i + 1).toLong, 0.10 + 0.01 * i))
    val chainB = (0 until 9).map(i => (100L + i, 101L + i, 0.12 + 0.01 * i))
    val bridge = Seq((9L, 100L, 5.0))
    val smallTree = Seq((200L, 201L, 0.1))
    val edges = (chainA ++ chainB ++ bridge ++ smallTree).toArray
    val ids = ((0L to 9L) ++ (100L to 109L) ++ Seq(200L, 201L, 300L)).toArray
    val seqLab = Hdbscan.extractLabels(edges, ids, 4)
    val distLab = Hdbscan.extractLabelsDistributed(
        edges.toSeq.toDF("a", "b", "w"), ids.toSeq.toDF("id"),
        minClusterSize = 4, topFit = 5, componentFit = 10, minDriverBatch = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    distLab shouldBe seqLab
    distLab(300L) shouldBe -1L // isolated singleton component
    distLab(200L) shouldBe -1L // undersized side tree
    distLab(0L) should not be distLab(100L) // the bridge split both chains
  }

  test("two-phase extraction = sequential extraction on 12 randomized forest MSTs") {
    // deterministic pseudo-random forests with mixed weight scales,
    // multiple trees, chains, stars and isolated points — the stitching
    // logic (pivot split, continuations, spills, cross-boundary EOM) must
    // reproduce the sequential labels EXACTLY on every one
    val s = spark
    import s.implicits._
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    for (seed <- 1 to 12) {
      val nTrees = 1 + (mix(seed).abs % 4).toInt
      var nodeId = 0L
      val edges = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      val ids = scala.collection.mutable.ArrayBuffer[Long]()
      for (t <- 0 until nTrees) {
        val size = 2 + (mix(seed * 100 + t).abs % 30).toInt
        val members = (0 until size).map(i => nodeId + i)
        ids ++= members
        // random attachment: node i joins a random earlier member —
        // mixes chains and stars; weights span two scales so pivots
        // land in genuinely different places per seed
        for (i <- 1 until size) {
          val parent = members((mix(seed * 1000 + nodeId + i).abs % i).toInt)
          val scale = if (mix(seed * 7 + i).abs % 3 == 0) 10.0 else 0.1
          val w = scale * (1 + (mix(seed * 13 + nodeId + i).abs % 100).toInt / 100.0)
          edges += ((math.min(parent, members(i)), math.max(parent, members(i)), w))
        }
        nodeId += size + 3 // id gaps; the +3 leaves room for isolated ids
      }
      ids += nodeId + 1 // one isolated point per fixture
      val mcs = 2 + (mix(seed * 31).abs % 4).toInt
      val seqLab = Hdbscan.extractLabels(edges.toArray, ids.toArray.sorted, mcs)
      // componentFit cycles 50 / 5 / 0 across seeds: 50 keeps every
      // continuation in the executor tier, 5 mixes executor walks with
      // recursion, 0 forces EVERY continuation to recurse (the walk
      // bottoms out entirely on the driver, many levels deep)
      val cfit = Seq(50L, 5L, 0L)(seed % 3)
      val distLab = Hdbscan.extractLabelsDistributed(
          edges.toSeq.toDF("a", "b", "w"), ids.toSeq.toDF("id"),
          minClusterSize = mcs,
          topFit = 1 + (mix(seed * 41).abs % 10), componentFit = cfit,
          minDriverBatch = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"seed=$seed mcs=$mcs nodes=${ids.size} edges=${edges.size}: ") {
        distLab shouldBe seqLab
      }
    }
  }

  test("oversized components recurse: EOM labels survive componentFit = 0 (no flat cut)") {
    // componentFit = 0 rejects EVERY continuation component from the
    // executor tier, so the r11 recursion must re-split each one at its
    // own lexicographic pivot until the walk bottoms out on the driver —
    // the case the pre-r11 code degraded to a non-EOM flat cut. The
    // contract is now full exactness: labels ≡ the sequential condensed
    // walk, including on UNIFORM (tie-heavy) chain weights, where no
    // weight-only pivot exists at all.
    val s = spark
    import s.implicits._
    val chain = (0 until 30).map(i => (i.toLong, (i + 1).toLong, 0.1))
    val far = Seq((30L, 100L, 9.0)) // the EOM split point
    val chainB = (0 until 30).map(i => (100L + i, 101L + i, 0.1))
    val edges = (chain ++ far ++ chainB).toArray
    val ids = ((0L to 30L) ++ (100L to 130L)).toArray
    val seqLab = Hdbscan.extractLabels(edges, ids, 4)
    val out = Hdbscan.extractLabelsDistributed(
        edges.toSeq.toDF("a", "b", "w"), ids.toSeq.toDF("id"),
        minClusterSize = 4, topFit = 5, componentFit = 0, minDriverBatch = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe seqLab
    out.values.toSet.size shouldBe 2 // the bridge splits the two chains
    out(0L) should not be out(130L)
  }

  test("blocked tier = brute tier on 8 randomized point sets (r10 property pin)") {
    // deterministic pseudo-random corpora across dims/minPts/taskTarget:
    // clusters + uniform scatter + exact-duplicate points (distance-0
    // edges exercise the (w, a, b) tie order hard). Equality must be
    // EXACT on every one — the sparsification proof is input-agnostic.
    val s = spark
    import s.implicits._
    def mix(x: Long): Double = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)).toDouble / Long.MaxValue.toDouble
    }
    for (seed <- 1 to 8) {
      val n = 150 + (seed * 37) % 120
      val dim = 2 + seed % 5
      val nClust = 2 + seed % 3
      val pts = (0 until n).map { i =>
        val id = i.toLong
        if (i % 17 == 0 && i > 0) {
          // exact duplicate of an earlier point → zero-distance pair
          val j = (i - 1) % (i / 2 + 1)
          (id, Seq.tabulate(dim)(d =>
            (if (d == j % nClust % dim) 4.0 * (j % nClust) else 0.0) +
              mix(j.toLong * dim + d) * 0.3))
        } else if (i % 11 == 0) { // scatter
          (id, Seq.tabulate(dim)(d => 40.0 * mix(seed * 1000L + i * dim + d)))
        } else {
          val c = i % nClust
          (id, Seq.tabulate(dim)(d =>
            (if (d == c % dim) 4.0 * c else 0.0) +
              mix(i.toLong * dim + d) * 0.3))
        }
      }.toDF("id", "v")
      val minPts = 2 + seed % 4
      val mcs = 3 + seed % 3
      val brute = Hdbscan.run(pts, minPts = minPts, minClusterSize = mcs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val tt = 16 + (seed % 3) * 24 // 16/40/64 → varying block shapes
      val blocked = blockedTier(n)(Hdbscan.run(pts, minPts = minPts,
          minClusterSize = mcs, taskTarget = tt))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"seed=$seed n=$n dim=$dim minPts=$minPts mcs=$mcs tt=$tt: ") {
        blocked shouldBe brute
      }
    }
  }

  test("single tight blob with allow_single_cluster=False semantics → all noise") {
    val s = spark
    import s.implicits._
    // unimodal radial blob: no split can yield two ≥mcs sides
    val pts = (0 until 20).map { i =>
      val dir = Seq.tabulate(4)(d =>
        ((i * 2654435761L + d * 40503L + 3L) % 2000L) / 1000.0 - 1.0)
      val norm = math.max(math.sqrt(dir.map(x => x * x).sum), 1e-9)
      (i.toLong, dir.map(x => 1.0 + x / norm * 0.002 * i))
    }.toDF("id", "v")
    val out = Hdbscan.run(pts, minPts = 3, minClusterSize = 5)
      .collect().map(r => r.getLong(1)).toSet
    out shouldBe Set(-1L) // root cluster never splits → no selected clusters
  }

  test("blocked tier = brute tier on a planted 5k-point fixture, label-exact (r10)") {
    // r9 VERDICT item 3 closed: what used to be a bounded-disagreement
    // pin on the approximate LSH tier (measured 0.48%, bounded <= 1%) is
    // now an EXACT-EQUALITY pin — the block-pair sparsified tier computes
    // the same unique MST as brute, so every label must match.
    // 4 tight clusters (1237-1238 pts each) + 50 scattered noise points,
    // all placement deterministic hash arithmetic.
    val s = spark
    import s.implicits._
    val n = 5000
    val dim = 8
    def mix(x: Long): Double = { // splitmix64 finalizer -> (-1, 1)
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)).toDouble / Long.MaxValue.toDouble
    }
    val pts = (0L until n.toLong).map { i =>
      if (i >= n - 50) { // scattered far-out noise
        (i, Seq.tabulate(dim)(d =>
          (if (d == (i % dim).toInt) 25.0 + 2.0 * (i % 17) else 0.0) +
            2.0 * mix(i * 8 + d)))
      } else {
        // radially-thinning shells (unimodal density peak per cluster, as
        // in the blob fixture above — a uniform cube can legitimately
        // split under Excess-of-Mass)
        val c = (i % 4).toInt
        val j = (i / 4).toInt // rank within the cluster
        val dir = Seq.tabulate(dim)(d => mix(i * 8 + d))
        val norm = math.max(math.sqrt(dir.map(x => x * x).sum), 1e-9)
        (i, Seq.tabulate(dim)(d =>
          (if (d == c) 2.0 else 0.0) + dir(d) / norm * 0.0001 * j))
      }
    }.toDF("id", "v")

    val exact = withCollectThreshold(pairCount(n))( // the brute tier
      Hdbscan.run(pts, minPts = 5, minClusterSize = 25)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val blocked = blockedTier(n)( // default taskTarget → 3 blocks, 6 tasks
      Hdbscan.run(pts, minPts = 5, minClusterSize = 25)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    exact.size shouldBe n
    blocked.size shouldBe n
    // exact tier must nail the planted structure outright
    exact.filterNot(_._2 == -1L).values.toSet.size shouldBe 4
    (0L until (n - 50).toLong).count(i => exact(i) == -1L) shouldBe 0

    // and the blocked tier must reproduce it EXACTLY — same unique MST,
    // same condensed tree, same min-member-id labels
    blocked shouldBe exact
  }

  test("brute tier past one sort's index: refused before any allocation") {
    // 46,342 points are 1,073,767,311 pairs: n(n−1) overflows an Int, and
    // the pair sort's merge width would pass Int.MaxValue
    val pts = Array.tabulate(46342)(i => (i.toLong, Array(i.toDouble)))
    val e = intercept[IllegalArgumentException](
      Hdbscan.exactInMemory(pts, minPts = 2, minClusterSize = 2))
    e.getMessage should include("n = 46342 points")
  }
}
