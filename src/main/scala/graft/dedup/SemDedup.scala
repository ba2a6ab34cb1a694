package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemDeDup-style embedding-cluster semantic deduplication (Abbas et al.
  * 2023, arXiv:2303.09540): partition the corpus into semantically
  * coherent cells with a coarse quantizer, then prune near-duplicate
  * pairs WITHIN cells only — never a cross-cell pair, which is the whole
  * scale story: pairwise cost is Σ|cell|², not n², and each cell's join
  * is one shuffle partition's local work.
  *
  * The operator is generic over the cell assignment:
  *  - production tier: [[graft.similarity.Ann.kmeansCentroids]] +
  *    [[graft.similarity.Ann.ivfAssign]] (the q26 IVF cells — nlist
  *    sized to corpus/target-cell-size at 100 TB, cells persisted
  *    cell-partitioned on disk); seed-dependent, so spec-verified
  *    (SemDedupSpec) like every k-means artifact in the repo.
  *  - cross-engine twin: [[srpCellsMd5]] — sign-random-projection cells
  *    from md5-derived ±1 hyperplanes over the integer md5Embed vectors;
  *    every dot is an exact integer, so DuckDB replays the assignment
  *    bit-for-bit and the whole operator goes under the full hash oracle
  *    (q79 — the q24/q37 md5-twin discipline).
  *
  * The within-cell similarity runs on the q74 int8 CODES (the 4×
  * bandwidth artifact a 100 TB store serves) with the q24 RATIONAL
  * predicate made integer-exact: tauDen²·dot² ≥ tauNum²·|ca|²·|cb|² ∧
  * dot > 0 over integer code vectors ⟺ cosine(codes) ≥ tau exactly —
  * every operand an exact integer in both engines, no float boundary.
  *
  * Keep rule (deterministic, one pass, mirrors greedy SemDeDup): a
  * document is dropped iff SOME SMALLER-id document in its cell is a
  * τ-duplicate of it; kept ⟺ no such witness. Pair-based, not
  * transitive-closure — the q73 CC canonicalization composes on top when
  * cluster-level resolution is wanted.
  */
object SemDedup {

  /** q74 int8 scalar quantization as a reusable column: scale = max|x|,
    * code_i = round(127·x_i/scale) (round-half-away in both engines),
    * zero vectors → all-zero codes. */
  def quantizeCodes(v: Column): Column = {
    val s = array_max(transform(v, x => abs(x)))
    when(s === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x => round(x * lit(127.0) / s, 0).cast("long")))
  }

  /** Exact integer dot of two code vectors. */
  def codeDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, t) => acc + t)

  /** md5-derived ±1 hyperplane coefficients: sign(b, i) = +1 iff the
    * first hex nibble of md5("seed:b:i") ≥ 8 — the q24-oracle bit
    * derivation, replayable by any engine with md5. Driver-side literal
    * (bits×dim values); exact integers. */
  private def md5Planes(seed: String, bits: Int, dim: Int): IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    IndexedSeq.tabulate(bits, dim) { (b, i) =>
      val d = md.digest(s"$seed:$b:$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xf) >= 8) 1 else -1
    }
  }

  /** SRP cell id over an integer-valued vector column: bit b of the cell
    * = [Σ_i v_i·sign(b,i) > 0] (strict — ties, including the zero
    * vector, land on 0). 2^bits cells. Exact in doubles: the inputs are
    * integer-valued, the coefficients ±1. The plane table is tabulated
    * ONCE (r9, ADVICE fix: the per-bit md5Planes call was O(bits²·dim)
    * driver digests — harmless at bits=4, quadratic at the 500k-doc
    * bits≈11 cells of BENCH_LOCAL_r9.md). */
  def srpCellsMd5(v: Column, dim: Int, bits: Int, seed: String): Column = {
    val planes = md5Planes(seed, bits, dim)
    (0 until bits).map { b =>
      val dot = aggregate(
        zip_with(v, array(planes(b).map(c => lit(c.toDouble)): _*), (x, s) => x * s),
        lit(0.0), (acc, t) => acc + t)
      when(dot > 0.0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** MARGIN-RANKED SRP multi-probe (r10 — ROADMAP item 2 applied to the
    * cell-serving path): among the `bits` Hamming-1 flips of a query's
    * SRP cell, rank flip b by |q·plane_b| ASCENDING — the hyperplane the
    * query sits closest to is the one its missing neighbors most likely
    * crossed (Lv et al., VLDB 2007, the same reasoning the q27
    * hyperplane_probes tier already measures) — and return the `p`
    * lowest-margin bit indices. Probing cell ⊕ (1<<b) for these p bits
    * reads p+1 cells instead of bits+1 at near-equal recall: bytes per
    * query on a cell-partitioned 100 TB store drop ∝ (p+1)/(bits+1).
    * Projections are exact integers (integer-valued qv, ±1 planes) with
    * deterministic (|proj|, b) tie-break, so any engine replays the
    * ranking bit-for-bit — the q86 oracle re-derives it in SQL. */
  def marginProbeBits(qv: Seq[Double], dim: Int, bits: Int, seed: String,
      p: Int): Seq[Int] = {
    val planes = md5Planes(seed, bits, dim)
    (0 until bits).map { b =>
      var proj = 0.0
      var i = 0
      while (i < dim) { proj += qv(i) * planes(b)(i); i += 1 }
      (b, math.abs(proj))
    }.sortBy { case (b, m) => (m, b) }.take(math.max(0, p)).map(_._1)
  }

  /** The production cell-count rule (the q26 IVF nlist sizing): the
    * smallest bits ≥ 4 with 2^bits ≥ n/targetCellSize, i.e. cells grow ∝
    * corpus so per-cell pairwise work stays O(target²)·n/target = O(n).
    * Pure integer arithmetic (no float log2 ceil boundary) so any engine
    * replays it exactly — q79's oracle derives the identical value from
    * its own count. */
  def nlistBits(n: Long, targetCellSize: Long = 400L): Int = {
    require(targetCellSize > 0, "target cell size must be positive")
    var b = 4
    while (b < 40 && (targetCellSize << b) < n) b += 1
    b
  }

  /** Integer-exactness guard for the codegen double-dot predicate: with
    * int8 codes (|c_i| ≤ 127) both predicate sides stay < 2⁵³ — exact in
    * doubles — only while dim ≤ 2⁵³ᐟ²/(max(τnum,τden)·127²). At τ=9/10
    * that is dim ≤ 588; beyond it the comparison silently degrades to
    * approximate (r9 ADVICE). Costs one size() comparison per row; the
    * guard IS the n2 computation so column pruning cannot drop it. */
  private def guardedNorm2(codes: Column, tauNum: Long, tauDen: Long): Column = {
    val tmax = math.max(tauNum, tauDen).toDouble
    val dimBound = math.floor(math.sqrt(9007199254740992.0) / (tmax * 127.0 * 127.0)).toLong
    when(size(codes) > dimBound,
      raise_error(concat(
        lit(s"graft.SemDedup: code dim "), size(codes).cast("string"),
        lit(s" exceeds the int8 double-exactness bound $dimBound for tau=" +
          s"$tauNum/$tauDen; reduce dim or use an exact-decimal predicate")))
        .cast("long"))
      .otherwise(codeDot(codes, codes))
  }

  /** Per-cell semantic prune over an assigned frame (idCol, codesCol,
    * cellCol): emits ONE ROW PER INPUT DOC (total surface) —
    * (id, cell, n_dups_smaller, kept). Shuffles once on cell for the
    * pair join and once on id for the witness count; both are
    * partial-aggregated. Cross-cell pairs are never formed. */
  def semDeDup(assigned: DataFrame, idCol: String = "doc_id",
      codesCol: String = "codes", cellCol: String = "cell",
      tauNum: Long = 9, tauDen: Long = 10): DataFrame = {
    require(tauNum > 0 && tauDen > 0, "rational τ must be positive")
    // |codes|² computed ONCE PER DOC before the join (the r8 plan audit
    // found the per-pair form re-running the norm fold on both sides of
    // every candidate). The per-pair dot runs through the CODEGEN'D
    // DotProduct kernel on a double copy of the codes — the interpreted
    // aggregate/zip_with lambda measured 51× slower at the 500k-doc
    // cell (BENCH_LOCAL_r8.md; per-pair HOF evaluation dominates). EXACT
    // despite the doubles: every operand is an integer (|dot| ≤ dim·127²,
    // 100·dot² ≤ 6.7e12, 81·|ca|²·|cb|² ≤ 5.4e12 — all < 2⁵³), so the
    // double arithmetic and comparisons are value-identical to the
    // integer form the oracle replays.
    val a = assigned.select(col(idCol).as("id"), col(codesCol).as("codes"),
      col(cellCol).as("cell"),
      transform(col(codesCol), c => c.cast("double")).as("codesd"),
      guardedNorm2(col(codesCol), tauNum, tauDen).as("n2"))
    val dot = graft.functions.VectorFunctions.dot(col("a.codesd"), col("b.codesd"))
    val dups = a.as("a").join(a.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(dot > 0.0 &&
        lit((tauDen * tauDen).toDouble) * dot * dot >=
          lit((tauNum * tauNum).toDouble) * col("a.n2") * col("b.n2"))
      .groupBy(col("b.id").as("id"))
      .agg(count(lit(1)).as("n_dups_smaller"))
    a.join(dups, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("n_dups_smaller"), lit(0L)).as("n_dups_smaller"),
        (coalesce(col("n_dups_smaller"), lit(0L)) === 0L).as("kept"))
  }

  /** SEMANTIC benchmark decontamination — the embedding twin of
    * [[Dedup.flagContaminated]] (which catches verbatim 8-gram overlap;
    * this catches paraphrased/reworded eval leakage the n-gram test
    * misses): a corpus document is contaminated when SOME benchmark
    * document sits within cosine τ of it in code space, under the same
    * integer-exact rational predicate as [[semDeDup]].
    *
    * Scale shape: the benchmark side of a decontamination is SMALL (eval
    * sets, not corpora) — it BROADCASTS, and the corpus side is scanned
    * ONCE map-side with zero shuffle (the per-doc aggregation is against
    * the broadcast build, so the one groupBy is corpus-sized and
    * partial-aggregated). Never corpus × corpus; for a benchmark too big
    * to broadcast, the q24 banded machinery is the bipartite tier.
    * Output is TOTAL over non-benchmark docs: (id, n_bench_close,
    * contaminated) — the q66 surface shape, semantically.
    * Zero-code docs (dot = 0 fails dot > 0) never flag, both engines. */
  def flagSemanticContaminated(corpus: DataFrame, bench: DataFrame,
      idCol: String = "doc_id", codesCol: String = "codes",
      tauNum: Long = 9, tauDen: Long = 10): DataFrame = {
    require(tauNum > 0 && tauDen > 0, "rational τ must be positive")
    // codegen'd double dot, exact over integer-valued operands — see
    // [[semDeDup]]'s kernel note (same bounds, same argument)
    val c = corpus.select(col(idCol).as("id"),
      transform(col(codesCol), x => x.cast("double")).as("codesd"),
      guardedNorm2(col(codesCol), tauNum, tauDen).as("n2"))
    val b = bench.select(col(idCol).as("bid"),
      transform(col(codesCol), x => x.cast("double")).as("bcodesd"),
      guardedNorm2(col(codesCol), tauNum, tauDen).as("bn2"))
    val dot = graft.functions.VectorFunctions.dot(col("codesd"), col("bcodesd"))
    val hits = c.join(broadcast(b),
        dot > 0.0 &&
          lit((tauDen * tauDen).toDouble) * dot * dot >=
            lit((tauNum * tauNum).toDouble) * col("n2") * col("bn2"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bench_close"))
    c.select(col("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bench_close"), lit(0L)).as("n_bench_close"),
        (coalesce(col("n_bench_close"), lit(0L)) > 0L).as("contaminated"))
  }
}
