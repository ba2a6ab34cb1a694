package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions, VectorMean}
import graft.util.Checkpointer.CheckpointSyntax

/** Similarity search over embedding columns (SURVEY.md EP3/W2 + the
  * LLM-pipeline ANN extension).
  *
  * Three tiers, increasing scale:
  *  - [[bruteTopK]]: exact scan — plans as TakeOrderedAndProject (per-
  *    partition heap + driver merge, no global sort). The correctness
  *    baseline, and the reference's own semantics made exact
  *    (post_distance_test.py replaced Qdrant HNSW approximation).
  *  - [[lshTopK]]: random-hyperplane buckets prune the scan to bucket-mates
  *    (multi-table for recall) — candidate generation is an equality join.
  *  - [[ivfTopK]]: inverted-file index — a mini distributed k-means
  *    (Lloyd via the VectorMean aggregator) partitions the corpus into
  *    `nlist` cells; queries probe the `nprobe` nearest cells only. At
  *    100 TB this is the tier that works: the corpus is bucketed/partitioned
  *    by cell id on disk, so a query touches nprobe/nlist of the data.
  */
object Ann {

  /** Exact top-k neighbors of one query vector (qv: literal array column). */
  def bruteTopK(corpus: DataFrame, idCol: String, vecCol: String,
      qv: Column, k: Int): DataFrame =
    corpus.select(col(idCol),
        VectorFunctions.cosineUnguarded(col(vecCol), qv).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** LSH top-k: probe bucket-mates of the query across `tables` hyperplane
    * tables, verify exactly, keep best k. Approximate: recall grows with
    * `tables`, cost with bucket size (2^bits buckets/table).
    *
    * `probes` > 0 enables QUERY-SIDE multi-probe (Lv et al., VLDB 2007,
    * adapted to hyperplane signs): the corpus index keeps ONE exact
    * signature per (item, table), while the query additionally probes the
    * `probes` single-bit flips of its lowest-|projection| bits per table.
    * Measured catch rates per table (MC, 20k pairs/cell, dim 128): at
    * bits=12, s=0.9, m=3 probes, equal ≤3e-4 miss needs 18 tables vs 50
    * classic — ~2.7× fewer. The index — the part that is persisted, built
    * over the full corpus, and re-read by every query at 100 TB — shrinks
    * by that factor; only the broadcast-sized query fan-out grows (×(1+m)).
    * (The symmetric variant does NOT pay off for banding SELF-joins:
    * both sides then need the probe rows, and measured total row volume
    * stays ≈flat vs classic at equal recall — see BENCH_LOCAL_r7.md —
    * which is why the Dedup cosine banding self-joins stay classic.)
    *
    * `dim` is the embedding width — callers know it (q27 reads it off the
    * query vector it already fetched); the default −1 falls back to a
    * one-row probe, an extra driver action per call. */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      qv: Column, k: Int, bits: Int = 8, tables: Int = 4,
      dim: Int = -1, probes: Int = 0): DataFrame = {
    val d = if (dim > 0) dim else corpus.select(size(col(vecCol))).first().getInt(0)
    val stride = 1 + probes
    // same prefix + (bits, tables) ⇒ same planes for index and query,
    // probed or not: probes = 0 reproduces the historical behavior exactly
    val bucketed = corpus.select(col(idCol), col(vecCol),
      posexplode(graft.functions.VectorExpressions
        .hyperplane_sigs(col(vecCol), d, "ann", bits, tables)).as(Seq("t", "s")))
    val qdf = corpus.sparkSession.range(1)
      .select(posexplode(graft.functions.VectorExpressions
        .hyperplane_probes(qv, d, "ann", bits, tables, probes)).as(Seq("qp", "qs")),
        qv.as("qv"))
      .select((col("qp") / stride).cast("int").as("qt"), col("qs"), col("qv"))
    bucketed.join(broadcast(qdf),
        col("t") === col("qt") && col("s") === col("qs"))
      .dropDuplicates(idCol)
      .select(col(idCol),
        VectorFunctions.cosineUnguarded(col(vecCol), col("qv")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Mini distributed k-means in cosine space (unit-normalized input):
    * deterministic seeded init (hash-ordered sample), Lloyd iterations with
    * VectorMean partial aggregation. Returns (cell, centroid). */
  def kmeansCentroids(points: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3): DataFrame = {
    var centroids = points
      .orderBy(xxhash64(col(idCol))) // deterministic pseudo-sample
      .limit(nlist)
      .select(monotonically_increasing_id().as("cell"), col(vecCol).as("centroid"))
      .cp()
    for (_ <- 1 to iters) {
      centroids = ivfAssign(points, idCol, vecCol, centroids)
        .groupBy(col("cell"))
        .agg(VectorMean(col(vecCol)).as("m"))
        .select(col("cell"), VectorFunctions.l2normalize(col("m")).as("centroid"))
        .cp()
    }
    centroids
  }

  /** Assign every corpus vector to its nearest cell (the IVF "index build";
    * persist/bucket this by cell in production). Equal-sim ties break
    * toward the SMALLEST cell id — the SAME order [[probeCells]] uses to
    * pick the home cell c₀ (r11, ADVICE: with opposite tie orders an
    * exactly-tied corpus vector could sit in a cell the margin ranking
    * probes last or, at low nprobe, not at all). */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(centroids))
      .select(col(idCol), col(vecCol), col("cell"),
        VectorFunctions.dot(col(vecCol), col("centroid")).as("sim"))
      .groupBy(col(idCol))
      .agg(max(struct(col("sim"), (-col("cell")).as("negCell"))).as("b"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), col(vecCol), (-col("b.negCell")).as("cell"))

  /** Persist the IVF index partitioned BY CELL: at query time only the
    * probed cells' files are read (partition pruning — `PartitionFilters`
    * in the scan node). This is what makes IVF the 100 TB tier: a query
    * touches nprobe/nlist of the corpus bytes on disk, not just in CPU. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, path: String): Unit =
    ivfAssign(corpus, idCol, vecCol, centroids)
      .write.partitionBy("cell").mode("overwrite").parquet(path)

  /** Probe-cell selection — WHICH `nprobe` cells a query reads.
    *
    * `byMargin = true` (default, r10 — ROADMAP item 2) ranks candidate
    * cells by BOUNDARY MARGIN instead of plain centroid-dot order: after
    * the query's own (nearest) cell c₀, cell j is scored by the distance
    * from the query to the perpendicular bisector between c₀ and c_j,
    *
    *   margin_j = (q·c₀ − q·c_j) / ‖c₀ − c_j‖
    *
    * (Lv et al., VLDB 2007's multi-probe idea carried from LSH to IVF).
    * Dot order reads cells whose centroids point WITH the query even
    * when their Voronoi regions are nowhere near it; margin order reads
    * the cells whose boundary is closest — which is where the neighbors
    * the home cell is missing actually live. Measured (AnnSpec): equal
    * recall at LOWER nprobe — i.e. fewer partition-pruned bytes per
    * query on the 100 TB index. `byMargin = false` reproduces the
    * historical dot order (kept for the recall-vs-nprobe spec).
    *
    * Driver-sized by construction: `centroids` is nlist rows (the same
    * bound the previous inline collect relied on). */
  def probeCells(centroids: DataFrame, qv: Column, nprobe: Int,
      byMargin: Boolean = true): Array[Long] = {
    val sims = centroids.select(col("cell"), col("centroid"),
      VectorFunctions.dot(col("centroid"), qv).as("sim"))
    if (!byMargin) {
      sims.orderBy(col("sim").desc, col("cell").asc).limit(nprobe)
        .select(col("cell")).collect().map(_.getLong(0))
    } else {
      val all = sims.collect().map(r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      if (all.isEmpty) return Array.empty
      val (c0, v0, s0) = all.minBy { case (c, _, s) => (-s, c) }
      val rest = all.iterator.filter(_._1 != c0).map { case (c, v, s) =>
        var d2 = 0.0
        var i = 0
        while (i < v.length) { val t = v(i) - v0(i); d2 += t * t; i += 1 }
        // coincident centroids (d2 = 0) carry no boundary: probe last
        (c, if (d2 == 0.0) Double.MaxValue else (s0 - s) / math.sqrt(d2))
      }.toArray.sortBy { case (c, m) => (m, c) }
        .take(math.max(0, nprobe - 1)).map(_._1)
      Array(c0) ++ rest
    }
  }

  /** Query a persisted IVF index: resolve probe cells from the (tiny)
    * centroid table — margin-ranked, see [[probeCells]] — then scan only
    * those partitions. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: DataFrame, idCol: String, vecCol: String,
      qv: Column, k: Int, nprobe: Int, byMargin: Boolean = true): DataFrame = {
    val cells = probeCells(centroids, qv, nprobe, byMargin)
    spark.read.parquet(path)
      .filter(col("cell").isin(cells: _*)) // → partition pruning
      .select(col(idCol),
        VectorFunctions.cosineUnguarded(col(vecCol), qv).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF top-k: probe the `nprobe` margin-ranked cells ([[probeCells]]),
    * exact within them. */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, qv: Column, k: Int, nprobe: Int,
      byMargin: Boolean = true): DataFrame = {
    val cells = probeCells(centroids, qv, nprobe, byMargin)
    assigned.filter(col("cell").isin(cells: _*))
      .select(col(idCol),
        VectorFunctions.cosineUnguarded(col(vecCol), qv).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
