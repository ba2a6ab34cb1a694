package graft.dedup

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.TextFunctions._
import graft.functions.TextExpressions._
import graft.util.Checkpointer.CheckpointSyntax
import graft.util.SizeGate

/** Large-scale deduplication operators (LLM-data-pipeline extension set).
  *
  * Scale design: every variant avoids the O(n²) all-pairs join —
  * candidates come from equality joins on content keys (hash buckets,
  * LSH bands, SimHash chunks), so the shuffle is proportional to
  * data-plus-collisions, not pairs. That is the only formulation that
  * survives 100 TB. Below it, the MinHash and cosine group forms run on
  * the driver: one job collects every member's content hashes and band
  * keys, the driver forms the gids and buckets the reps, a second job
  * collects the reps' verify payloads, and the driver verifies the rep
  * candidates with the kernels' exact arithmetic and unions them. The
  * gate has two parts, both against the collect gate
  * ([[SizeGate.collectThreshold]], default 2M): members × bands before
  * anything reaches the driver, then the reps' projected candidates
  * Σ C(|B|,2) and payload elements before any payload does
  * ([[collapsedGroups]]). A distributed job
  * costs a fixed driver round-trip, so a small corpus pays for dozens of
  * them in scheduling, not in work.
  *
  * Exact-dup collapse: every near-dup relation here is a function of a
  * content key (shingle set, (scope, text), vector, fingerprint), so
  * identical keys give identical signatures and an identical metric
  * against any third doc: (u, x) collides and verifies iff (v, x) does.
  * Two skeletons run a kernel on one representative per distinct key.
  * [[collapsedPairs]] expands rep pairs back to member pairs; four pair
  * forms take it when the corpus is duplicate-heavy, SimHash never
  * ([[pigeonholePairs]]). [[collapsedGroups]] always takes it: every
  * `*NearDupGroups` form attaches members to the components of the rep
  * graph, which equal the member graph's because identical
  * pair-eligible docs are near-dups of each other at any threshold the
  * forms accept. The pair-complete contract itself stays quadratic in
  * dup-group size, so at extreme multiplicities consume a
  * `*NearDupGroups` form instead.
  */
object Dedup {

  /** Exact duplicate groups by normalized content hash: collapse
    * whitespace, lowercase, md5. One shuffle (hash partial-agg). */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " "))
    docs
      .select(col(idCol).as("doc_id"), fp.as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
  }

  /** Distinct word-shingle sets (the unit of Jaccard similarity). */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int = 3,
      keep: Seq[String] = Nil): DataFrame =
    docs.select(
      (col(idCol).as("doc_id") +: keep.map(col)) :+
        wordShingles(col(textCol), n).as("shingles"): _*)

  /** Distinct word-shingle HASH sets — same sets as [[shingled]] but as
    * 64-bit content hashes from the one-pass [[graft.functions
    * .WordShingleHashes]] scan (the HOF string composition re-ran the
    * tokenizing regex per shingle index — the dominant cost of the whole
    * dedup tier). Jaccard over these hash sets equals Jaccard over the
    * string sets (collisions negligible), and MinHash signatures computed
    * from them are BIT-IDENTICAL (same per-element FNV-1a). */
  def shingledHashes(docs: DataFrame, idCol: String, textCol: String, n: Int = 3,
      keep: Seq[String] = Nil, spread: Boolean = true): DataFrame = {
    // spread BEFORE the one-pass shingle scan (guide §2.5): a single-split
    // corpus otherwise runs the kernel serially — the repartitions further
    // down the kernels spread the BUCKETS, not this map stage. Callers
    // whose downstream kernel is CHEAP per row (the exact-Jaccard forms:
    // no signature pass, the inverted index re-spreads by shingle anyway)
    // pass spread = false — measured at sf0.1 × 32: the exchange +
    // 32-partition cache blocks cost q113 +0.7 s for no parallelism the
    // posting repartition wasn't already providing, while the signature
    // kernels (MinHashSig: q36 0.48×) and the md5-shingle kernels win.
    val src = if (spread) graft.util.SpreadScan.spread(docs) else docs
    src.select(
      (col(idCol).as("doc_id") +: keep.map(col)) :+
        word_shingle_hashes(col(textCol), n).as("shingles"): _*)
  }

  /** MinHash-LSH candidate pairs: shingle → k-minhash signature → band
    * buckets → equality self-join per bucket. Pairs agreeing on ≥1 of
    * `bands` bands surface as candidates (recall tuned by bands×rows).
    * `caller` names the kernel in the bucket-density warning. */
  def minhashCandidates(sh: DataFrame, k: Int = 64, bands: Int = 16,
      caller: String = "minhashNearDups"): DataFrame = {
    val rows = k / bands
    val banded = sh.select(col("doc_id"),
        lshBands(minhashSignature(col("shingles"), k), bands, rows).as("bh"))
      .select(col("doc_id"), explode(col("bh")).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.h").as("h"))
      .repartition(col("band"), col("h")) // spread buckets — don't inherit
      //                                     a single-file scan's partitioning
      .cp() // signatures are expensive; never recompute for the self-join
    warnBucketDensity(banded, Seq("band", "h"), caller)
    // materialize the (small, collision-sized) pair set so the banded
    // blocks can be released NOW — leaked corpus×bands checkpoints stack
    // across calls in a long session until memory pressure drags every
    // later job
    val pairs = banded.as("a").hint("merge").join(banded.as("b").hint("merge"),
        col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .cp()
    graft.util.BlockRelease.release(banded)
    pairs
  }

  /** Exact Jaccard for given candidate pairs (verification stage): joins
    * shingle sets back in and computes |∩| / |∪|. */
  def jaccardOfPairs(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sized = sh.select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
    pairs
      .join(sized.select(col("doc_id").as("doc_a"), col("shingles").as("sa"), col("n").as("na")), "doc_a")
      .join(sized.select(col("doc_id").as("doc_b"), col("shingles").as("sb"), col("n").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
  }

  /** Full MinHash near-dup pipeline: candidates → exact-verify → threshold.
    * Runs on shingle HASH sets end-to-end (one-pass shingling, long-array
    * intersections in the verify); signatures and surviving pairs are
    * identical to the string-shingle formulation. Duplicate-heavy
    * corpora collapse per distinct shingle set ([[collapsedPairs]]);
    * an empty set has no Jaccard (0/0 is null), so it never self-pairs. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 64, bands: Int = 16): DataFrame = {
    val sh = shingledHashes(docs, idCol, textCol).cache()
    val probe = sh.agg(count(lit(1)), approx_count_distinct(col("shingles"))).first()
    val (nDocs, nDistinct) = (probe.getLong(0), probe.getLong(1))
    if (nDocs < CollapseRatio * nDistinct) {
      // direct tier: dup-light corpus — near-dup pairs are output-sized:
      // materialize them and release the corpus-sized shingle cache and
      // the candidate checkpoint before returning
      val cand = minhashCandidates(sh, k, bands)
      val out = jaccardOfPairs(cand, sh)
        .filter(col("jaccard") >= threshold)
        .cp()
      sh.unpersist(blocking = false)
      graft.util.BlockRelease.release(cand)
      out
    } else collapsedPairs(sh, "doc_id", Seq("shingles"), nDocs, "doc_a",
        "doc_b", "minhashNearDups", "minhashNearDupGroups") { reps =>
      val cand = minhashCandidates(reps, k, bands)
      val pairs = jaccardOfPairs(cand, reps)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a").as("ga"), col("doc_b").as("gb"), col("jaccard"))
      (pairs, unitSelfPairs(reps, "jaccard", threshold), Seq(cand))
    }
  }

  /** Exact n-gram Jaccard near-dup pairs within each `scopeCol` value
    * (q33's kernel, factored r12): hashed word-shingles → inverted index
    * (one row per (doc, shingle), repartitioned by shingle so a
    * single-file scan can't serialize the self-join) → per-pair
    * intersection counts via one equality self-join + groupBy → exact
    * Jaccard ≥ threshold. Shuffle ∝ postings + co-occurrences, never
    * all pairs. Duplicate-heavy corpora collapse per distinct (scope,
    * shingle set) ([[collapsedPairs]]); an empty set has no postings,
    * so it never self-pairs, and neither does a null scope. */
  def ngramJaccardNearDups(docs: DataFrame, idCol: String, textCol: String,
      scopeCol: String, threshold: Double = 0.5, n: Int = 3): DataFrame = {
    val sh = shingledHashes(docs, idCol, textCol, n, keep = Seq(scopeCol),
      spread = false).cache() // the q113 rationale: no signature kernel
    val probe = sh.agg(count(lit(1)),
      approx_count_distinct(struct(col(scopeCol), col("shingles")))).first()
    val (nDocs, nDistinct) = (probe.getLong(0), probe.getLong(1))
    def pairs(src: DataFrame, la: String, lb: String): (DataFrame, DataFrame) =
      postingJaccardPairs(src, scopeCol, threshold, la, lb,
        "ngramJaccardNearDups")
    if (nDocs < CollapseRatio * nDistinct) {
      val (ex, out0) = pairs(sh, "doc_a", "doc_b")
      val out = out0.cp() // pair set is output-sized:
      // materialize and free the corpus×shingles index blocks
      sh.unpersist(blocking = false)
      graft.util.BlockRelease.release(ex)
      out
    } else collapsedPairs(sh, "doc_id", Seq(scopeCol, "shingles"), nDocs,
        "doc_a", "doc_b", "ngramJaccardNearDups", "jaccardNearDupGroups") {
      reps =>
        val (ex, gpairs) = pairs(reps, "ga", "gb")
        (gpairs, unitSelfPairs(reps.filter(col(scopeCol).isNotNull), "jaccard",
          threshold), Seq(ex))
    }
  }

  /** The inverted-index pair stage of [[ngramJaccardNearDups]]'s tiers
    * and [[jaccardNearDupGroups]] over `src` (doc_id, scopeCol,
    * shingles): postings repartitioned by shingle, a bucket-density
    * warning as `caller`, then the fused co-occurrence self-join — inter
    * by posting count ≡ |array_intersect|, because the shingle arrays
    * are DISTINCT hash sets. Returns (checkpointed postings, which the
    * CALLER releases; pairs (la, lb, jaccard) ≥ threshold, a plan). */
  private def postingJaccardPairs(src: DataFrame, scopeCol: String,
      threshold: Double, la: String, lb: String,
      caller: String): (DataFrame, DataFrame) = {
    val ex = src.select(col("doc_id"), col(scopeCol),
        size(col("shingles")).as("n"), explode(col("shingles")).as("s"))
      .repartition(col("s"))
      .cp() // shingling is the expensive part; never twice
    warnBucketDensity(ex, Seq(scopeCol, "s"), caller)
    val out = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") &&
          col(s"a.$scopeCol") === col(s"b.$scopeCol") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as(la), col("b.doc_id").as(lb))
      .agg(count(lit(1)).as("inter"), max(col("a.n")).as("na"),
        max(col("b.n")).as("nb"))
      .select(col(la), col(lb),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (ex, out)
  }

  /** Shingle-candidate + cosine-verify near-dup pairs (q38's kernel,
    * factored r12): candidates are doc pairs sharing ≥1 exact hashed
    * n-word shingle within a `scopeCol` value (inverted-index equality
    * self-join, repartitioned by shingle), each verified by exact cosine
    * ≥ tau over the [[graft.functions.TextFunctions.md5Embed]] vectors.
    * The embedding projection is checkpointed BEFORE the pair join —
    * Catalyst otherwise collapses it past the join and re-evaluates the
    * (interpreted higher-order) md5 vector fold once per candidate pair
    * side instead of once per document (measured 14 s → <1 s on 56k
    * sf0.1 candidates).
    *
    * Duplicate-heavy corpora collapse per distinct (scope, text)
    * ([[collapsedPairs]]), upstream of the shingling and the embedding
    * fold. A rep self-pairs at cos ≡ 1.0 exactly (dot(v,v) is bit-equal
    * to n² by identical fold order, and √(n²·n²) = n² for these
    * integer-valued sums) under the direct tier's conditions: a
    * nonempty shingle set, n² > 0 and a non-null scope. */
  def shingleCosineVerify(docs: DataFrame, idCol: String, textCol: String,
      scopeCol: String, tauCos: Double = 0.6, n: Int = 3): DataFrame = {
    val d0 = docs.select(col(idCol).as("doc_id"), col(scopeCol).as("scope"),
      col(textCol).as("text"))
    // pair stage shared by both tiers (and by the r14 group form)
    def verifiedPairs(src: DataFrame, la: String, lb: String):
        (DataFrame, DataFrame, DataFrame) =
      shingleCosinePairStage(src, la, lb, tauCos, n, "shingleCosineVerify")
    val probe = d0.agg(count(lit(1)),
      approx_count_distinct(struct(col("scope"), col("text")))).first()
    val (nDocs, nDistinct) = (probe.getLong(0), probe.getLong(1))
    if (nDocs < CollapseRatio * nDistinct) {
      val (shr, emb, out) = verifiedPairs(d0, "doc_a", "doc_b")
      graft.util.BlockRelease.release(Seq(shr, emb))
      out
    } else collapsedPairs(d0, "doc_id", Seq("scope", "text"), nDocs,
        "doc_a", "doc_b", "shingleCosineVerify", "shingleCosineGroups") {
      reps =>
        val (shr, emb, gpairs) = verifiedPairs(reps, "ga", "gb")
        val self = shr.filter(size(col("shingles")) > 0 && col("scope").isNotNull)
          .join(emb.filter(col("n2") > 0), "doc_id")
          .select(col("doc_id").as("gid"), lit(1.0).as("cos"))
          .filter(col("cos") >= tauCos)
        (gpairs, self, Seq(shr, emb))
    }
  }

  /** The shingle-candidate + cosine-verify pair stage over `src`
    * (doc_id, scope, text) — factored r14 so [[shingleCosineVerify]]'s
    * tiers and [[shingleCosineGroups]] share one definition of the
    * near-dup relation; `caller` names the kernel in the bucket-density
    * warning. Returns (shingled frame, embedding frame, verified pairs
    * (la, lb, cos)) — all three localCheckpointed; the CALLER releases
    * them. The embedding projection is checkpointed BEFORE the pair join
    * (Catalyst otherwise collapses it past the join and re-evaluates the
    * interpreted higher-order md5 fold once per candidate SIDE instead
    * of once per document — measured 14 s → <1 s at sf0.1). */
  private def shingleCosinePairStage(src: DataFrame, la: String,
      lb: String, tauCos: Double, n: Int, caller: String):
      (DataFrame, DataFrame, DataFrame) = {
    val shr = shingledHashes(src, "doc_id", "text", n, keep = Seq("scope"))
      .cp() // shingling runs once: postings + nz flags
    val ex = shr.select(col("doc_id"), col("scope"),
        explode(col("shingles")).as("k"))
      .repartition(col("k")) // spread the inverted index
      .cp()
    warnBucketDensity(ex, Seq("scope", "k"), caller)
    val cand = ex.as("a").join(ex.as("b"),
        col("a.k") === col("b.k") && col("a.scope") === col("b.scope") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as(la), col("b.doc_id").as(lb)).distinct()
      .cp()
    graft.util.BlockRelease.release(ex)
    // codegen kernels (r17, guide §4: the verify runs once per CANDIDATE):
    // vec_dot/normSq accumulate left-to-right in doubles exactly like the
    // zip_with/aggregate composition they replace (VectorExpressions
    // scaladoc; probe-measured 0 mismatches over 5M corpus pairs, 3.7×)
    val emb = src.select(col("doc_id"), md5Embed(col("text")).as("v"))
      .withColumn("n2", graft.functions.VectorFunctions.normSq(col("v")))
      .cp()
    val out = cand
      .join(emb.select(col("doc_id").as(la), col("v").as("va"), col("n2").as("na2")), la)
      .join(emb.select(col("doc_id").as(lb), col("v").as("vb"), col("n2").as("nb2")), lb)
      .filter(col("na2") > 0 && col("nb2") > 0)
      .select(col(la), col(lb),
        round(graft.functions.VectorFunctions.dot(col("va"), col("vb")) /
          sqrt(col("na2") * col("nb2")), 4)
          .as("cos"))
      .filter(col("cos") >= tauCos)
      .cp()
    graft.util.BlockRelease.release(cand)
    (shr, emb, out)
  }

  /** COMPACT GROUP form of [[shingleCosineVerify]] — the last of the
    * four text near-dup kernels to get the q110 escape hatch (q38's
    * pair form materialized 41.7M rows at dup multiplicity 30, the
    * largest pair-complete output in the family). Emits (doc_id,
    * canon_id, group_size): components of the "shares ≥1 scoped shingle
    * AND exact cosine ≥ tauCos" relation, linear in group members
    * ([[collapsedGroups]] over one rep per distinct (scope, text): the
    * group key determines the shingle set AND the embedding).
    *
    * Pair-ineligibility is per TEXT, so it is decided on the REP and
    * inherited: docs whose text yields no shingles (no postings → no
    * candidate) or a zero embedding (the verify's n² > 0 guard) can
    * never pair — even with an identical twin — and stay singletons,
    * exactly the pair form's emission conditions. Null text bypasses the
    * gid stage as a singleton. NON-null degenerate texts (whitespace,
    * < n tokens) are NOT bypassable: the pair stage's WordShingleHashes
    * floors at one shingle, so identical degenerate twins DO pair
    * (cos ≡ 1) and must group. A null scope never pairs, so its docs are
    * singletons too. Requires tauCos ≤ 1 (identical eligible texts must
    * be near-dups: their rounded cosine is exactly 1.0). */
  def shingleCosineGroups(docs: DataFrame, idCol: String, textCol: String,
      scopeCol: String, tauCos: Double = 0.6, n: Int = 3): DataFrame = {
    require(tauCos <= 1.0,
      "group form needs tauCos <= 1 (identical docs must be near-dups)")
    val d0 = docs.select(col(idCol).cast("long").as("id"),
      col(scopeCol).as("scope"), col(textCol).as("text"))
    // no keyed checkpoint: d0 is a plain pruned scan
    collapsedGroups(d0, Seq("scope", "text"),
        col("text").isNull || col("scope").isNull,
        checkpointKeyed = false) { reps =>
      val (shr, emb, pairs) = shingleCosinePairStage(reps, "src", "dst",
        tauCos, n, "shingleCosineGroups")
      val pairless = shr.join(emb, "doc_id")
        .filter(!(size(col("shingles")) > 0 && col("n2") > 0))
        .select(col("doc_id").as("gid"))
      (pairs.select(col("src"), col("dst")), Seq(shr, emb), Some(pairless))
    }
  }

  /** Embedding-cosine near-duplicate pairs (q24's kernel) by
    * signed-random-projection LSH banding with a RATIONAL-threshold,
    * integer-exact verify — the DECIDABLE tier for integer-valued
    * vectors (feature-hash counts like
    * [[graft.functions.TextFunctions.md5Embed]]'s ±1 bucket sums). Each
    * vector gets `tables` b-bit hyperplane-sign signatures; candidates
    * come from equality self-joins on (table, signature) — shuffle ∝
    * data + collisions, never all pairs. Recall per pair at cosine s is
    * 1 − (1 − p^bits)^tables with p = 1 − acos(s)/π; q24 passes 96
    * tables, whose set-equality with the brute twin it pins.
    *
    * For τ = tauNum/tauDen > 0, `cos(a,b) ≥ τ` is equivalent to
    * `dot > 0 ∧ tauDen²·dot² ≥ tauNum²·|a|²·|b|²` — every operand an
    * integer, every product exact in doubles (bounds: |dot| ≤ tokens², so
    * dot² ≤ 1e12 for 1k-token docs, far under 2^53). Any engine that
    * reproduces the vectors reproduces the PAIR SET bit-for-bit: no
    * floating-point rounding boundary exists for a pair to sit on (the
    * round-5 q24 oracle attempt died on exactly such a boundary).
    * Hyperplane signs are scale-invariant, so raw integer vectors band
    * identically to their normalized forms.
    *
    * Zero vectors (all tokens hash-cancelled) have no cosine and are
    * excluded, mirrored by `n2 > 0` in SQL twins.
    *
    * Duplicate-heavy corpora collapse per distinct vector
    * ([[collapsedPairs]]; the gate rides the maxN2 guard's action). A
    * rep self-pairs iff the predicate holds at dot = na2 = nb2 = n², so
    * τ > 1 configurations stay correct; na2/nb2 follow the member-pair
    * orientation. */
  def cosineNearDupsExact(vecs: DataFrame, idCol: String, vCol: String,
      tauNum: Long = 9, tauDen: Long = 10, bits: Int = 12, tables: Int = 48,
      dim: Int = -1): DataFrame = {
    import graft.functions.VectorFunctions
    val d = if (dim > 0) dim else vecs.select(size(col(vCol))).first().getInt(0)
    val base = vecs.select(col(idCol).as("id"), col(vCol).as("v"),
        VectorFunctions.dot(col(vCol), col(vCol)).as("n2"))
      .filter(col("n2") > 0)
    // one cheap aggregation per call: the exactness guard's max |v|² and
    // the collapse gate's counts (same scan)
    val probe = base.agg(coalesce(max(col("n2")), lit(0.0)),
      count(lit(1)), approx_count_distinct(col("v"))).first()
    val maxN2 = probe.getDouble(0)
    val nMembers = probe.getLong(1)
    val nDistinct = probe.getLong(2)
    def bandPairs(src: DataFrame, la: String, lb: String): DataFrame =
      rationalCosinePairs(src, la, lb, tauNum, tauDen, d, bits, tables,
        maxN2, "cosineNearDupsExact", keepMetrics = true)
    if (nMembers < CollapseRatio * nDistinct) bandPairs(base, "id_a", "id_b")
    else collapsedPairs(base, "id", Seq("v"), nMembers, "id_a", "id_b",
        "cosineNearDupsExact", "cosineNearDupGroups",
        sided = Some(("na2", "nb2"))) { reps =>
      val self = reps.select(col("id").as("gid"), col("n2").as("dot"),
          col("n2").as("na2"), col("n2").as("nb2"))
        .filter(col("dot") > 0 && lit(tauDen * tauDen) * col("dot") * col("dot") >=
          lit(tauNum * tauNum) * col("na2") * col("nb2"))
      (bandPairs(reps, "ga", "gb"), self, Nil)
    }
  }

  /** The banding + integer-rational verify of [[cosineNearDupsExact]]
    * and [[cosineNearDupGroups]] over `src` (id, v, n2) with n2 > 0:
    * candidate pairs (la < lb) from `tables` b-bit hyperplane-sign
    * buckets, deduped, checkpointed; the CALLER releases the result.
    * `keepMetrics` carries (dot, na2, nb2) through the dedup; the group
    * form keeps only the ids.
    *
    * FAT banding with verify-inside-join, not a skinny (id, t, s)
    * banding that dedups candidates before fetching vectors: this tier
    * runs at the oracle SFs on a DENSE near-dup corpus (sf0.1: 120k true
    * pairs over 5k docs, ~15 bucket hits per true pair at 96 tables),
    * where filtering to true pairs BEFORE the distinct keeps the dedup
    * output-sized; a candidate-first restructure measured 4.5 → 23 s
    * here.
    *
    * Merge hints on BOTH sides of the bucket self-join (as in every
    * banding self-join here): the banded set is corpus×tables-sized BY
    * CONSTRUCTION, never a broadcast candidate, but localCheckpoint
    * propagates the PRE-checkpoint size estimate, so a stat-less source
    * (in-memory range/Dataset, no parquet footers) reads as kilobytes
    * and the static planner elects a broadcast that only fails when the
    * build side materializes (14.6 GiB on the 500k-doc corpus,
    * BENCH_LOCAL_r6.md). AQE cannot demote it: the build side has no
    * shuffle stage to re-estimate. Sort-merge is what accurate stats
    * pick here anyway.
    *
    * Exactness GUARD, not just a scaladoc bound: the decidability
    * contract needs every predicate operand exact in doubles, and
    * |dot| ≤ √(na²·nb²) (Cauchy–Schwarz) makes
    * max(tauNum², tauDen²)·maxN2² an upper bound for both sides. A
    * corpus of long-enough documents to break 2^53 fails LOUDLY here —
    * silently degrading to float rounding is exactly what this tier
    * exists to rule out. */
  private def rationalCosinePairs(src: DataFrame, la: String, lb: String,
      tauNum: Long, tauDen: Long, d: Int, bits: Int, tables: Int,
      maxN2: Double, caller: String, keepMetrics: Boolean): DataFrame = {
    import graft.functions.VectorExpressions
    requireExactCosine(tauNum, tauDen, maxN2, caller)
    val allSigs = VectorExpressions.hyperplane_sigs(col("v"), d, "neardup",
      bits, tables)
    val banded = src.select(col("id"), col("v"), col("n2"),
        posexplode(allSigs).as(Seq("t", "s")))
      .repartition(col("t"), col("s"))
      .cp()
    warnBucketDensity(banded, Seq("t", "s"), caller)
    // verify INSIDE the join condition (r17, guide §3/§4): the quadratic
    // bucket enumeration then drops failing pairs in the sort-merge
    // join's inner loop instead of emitting them through the downstream
    // projection — probe-measured ~1.4× on the dominant stage at
    // identical output (dot/na2/nb2 are functions of the pair, so the
    // dropDuplicates representative is unaffected). The predicate is the
    // FUSED [[graft.functions.CosineRationalGate]] kernel (r17 session
    // 4): join conditions get no common-subexpression elimination, so a
    // composed predicate re-ran the d-double dot up to 3× per ordered
    // pair; the fused gate runs it once.
    val ids = Seq(col("a.id").as(la), col("b.id").as(lb))
    val metrics =
      if (keepMetrics) Seq(
        graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")).as("dot"),
        col("a.n2").as("na2"), col("b.n2").as("nb2"))
      else Nil
    val out = banded.as("a").hint("merge").join(banded.as("b").hint("merge"),
        col("a.t") === col("b.t") && col("a.s") === col("b.s") &&
          col("a.id") < col("b.id") &&
          VectorExpressions.cosine_rational_gate(
            col("a.v"), col("b.v"), col("a.n2"), col("b.n2"),
            tauNum, tauDen))
      .select(ids ++ metrics: _*)
      .dropDuplicates(la, lb)
      .cp()
    graft.util.BlockRelease.release(banded)
    out
  }

  /** The rational tier's guards, shared by [[rationalCosinePairs]] and
    * the driver tier of [[cosineNearDupGroups]]: τ is positive, and
    * max(tauNum², tauDen²)·maxN2² stays within 2^53, so that every
    * operand of the integer predicate is exact in doubles. */
  private def requireExactCosine(tauNum: Long, tauDen: Long, maxN2: Double,
      caller: String): Unit = {
    require(tauNum > 0 && tauDen > 0, "rational τ must be positive")
    val tauSq = math.max(tauNum.toDouble * tauNum, tauDen.toDouble * tauDen)
    require(tauSq * maxN2 * maxN2 <= math.pow(2, 53),
      f"$caller: max |v|² = $maxN2%.0f makes τ²·dot² exceed 2^53 — " +
      "the integer predicate would round; shorten documents or rescale vectors")
  }

  /** Measured crossover of the pair-complete contract (BENCH_LOCAL_r13.md
    * §7, the k-multiplicity cells): the pair form is the right output up
    * to dup multiplicity ~10 (23.3 s at the measurement corpus), and 10×
    * slower than the group form by multiplicity 30 (126.6 s vs 12.7 s —
    * all of it C(k,2) member-pair materialization). Amplification =
    * Σ C(k,2) / members ≈ (mean k − 1)/2, so the guard warns above 10
    * (mean multiplicity ≈ 20, between the measured decades). */
  private[graft] val PairAmplificationWarnAt = 10.0

  /** Projected member pairs PER DOC if this collapsed corpus is expanded
    * pair-complete: Σ C(k,2) over exact-dup groups / member count. One
    * cheap aggregation over the already-checkpointed gid frame. */
  private[graft] def pairAmplification(mem: DataFrame,
      gidCol: String = "gid"): Double = {
    val r = mem.groupBy(col(gidCol)).agg(count(lit(1)).as("k"))
      .agg(coalesce(sum(col("k")), lit(0L)).cast("double"),
        coalesce(sum(col("k") * (col("k") - 1) / 2), lit(0L)).cast("double"))
      .first()
    if (r.getDouble(0) == 0.0) 0.0 else r.getDouble(1) / r.getDouble(0)
  }

  /** Members per distinct content key at which the pair forms collapse
    * (the probe compares members with 1.25 × approx-distinct keys).
    * Below it the banding savings (∝ 1 − 1/r²) cannot pay for the gid
    * shuffle and the two expansion joins (measured 2.1× slower on the
    * dup-free sf0.1 corpus). */
  private val CollapseRatio = 1.25

  /** The exact-dup collapse of the pair forms (BENCH_LOCAL_r12.md §8).
    * Identical content keys (shingle set, (scope, text), vector) give
    * identical signatures and an identical metric against any third
    * doc, so banding every copy multiplies bucket-pair work by the
    * square of the dup multiplicity for no information. Instead:
    *
    *  1. gid = min member id per distinct `contentCols` ([[gidByContent]],
    *     bounded by `nDocs`), checkpointed with the rest of `frame`; a
    *     cached `frame` is unpersisted once this is materialized;
    *  1. `stage` runs the kernel's own pair stage on one rep per gid
    *     (`frame`'s columns) and returns the group pairs (ga, gb,
    *     metric…), the rep self-pair frame (gid, metric…) — the reps
    *     whose self-pair passes the direct tier's emission conditions,
    *     with the value the direct tier computes — and scratch frames;
    *  1. group pairs expand to |A|·|B| member pairs oriented (la < lb) —
    *     the two metrics named `sided` swap with the orientation — and
    *     every self-paired group emits its C(k,2) within pairs.
    *
    * Pair set and metric values are bit-for-bit the direct tier's: if
    * u ≡ v then (u, x) collides and verifies iff (v, x) does, and
    * identical docs share every bucket. Measured at dup multiplicity 10:
    * q24 309.6 → 23.3 s, q36 20.0 → 11.9 s, q33 18.2 → 11.5 s, q38
    * 24.0 → 16.8 s. Past the measured pair-form ceiling (BENCH_LOCAL_r13
    * §7: right through multiplicity ~10, 10× slower than the group form
    * by 30) the expansion says so on stderr and names `escape`; the
    * projection counts self-paired groups only, since ineligible docs
    * (empty shingle sets, zero vectors) share one gid yet emit no pairs.
    * Returns the checkpointed pairs (la, lb, metric…); releases the rest. */
  private def collapsedPairs(frame: DataFrame, idCol: String,
      contentCols: Seq[String], nDocs: Long, la: String, lb: String,
      caller: String, escape: String,
      sided: Option[(String, String)] = None)(
      stage: DataFrame => (DataFrame, DataFrame, Seq[DataFrame])): DataFrame = {
    val (withG0, gidScratch) = gidByContent(
      frame.withColumnRenamed(idCol, "id"), contentCols,
      checkpointKeyed = false, knownRows = nDocs)
    val withG = withG0.cp()
    graft.util.BlockRelease.release(gidScratch)
    frame.unpersist(blocking = false)
    val (gpairs, self, scratch) = stage(
      withG.filter(col("id") === col("gid")).drop("gid")
        .withColumnRenamed("id", idCol))
    val metrics = gpairs.columns.toSeq.filterNot(Set("ga", "gb"))
    val mem = withG.select(col("id"), col("gid"))
    val paired = mem.join(self, "gid")
    val amp = pairAmplification(paired)
    if (amp > PairAmplificationWarnAt)
      System.err.println(
        f"WARN graft.dedup.$caller: exact-dup multiplicity projects ~$amp%.1f " +
        f"member pairs per doc (measured pair-form ceiling: right through " +
        f"multiplicity ~10, 10x slower than the group form by 30); " +
        f"prefer $escape for canonicalization-shaped consumers")
    val fwd = col("ida") < col("idb")
    val oriented = metrics.map { m =>
      sided match {
        case Some((a, b)) if m == a => when(fwd, col(a)).otherwise(col(b)).as(a)
        case Some((a, b)) if m == b => when(fwd, col(b)).otherwise(col(a)).as(b)
        case _ => col(m)
      }
    }
    // merge-hinted: mem is corpus-sized and checkpoint stats
    // under-estimate (the banding broadcast hazard, [[rationalCosinePairs]])
    val cross = gpairs.hint("merge")
      .join(mem.select(col("gid").as("ga"), col("id").as("ida")).hint("merge"), "ga")
      .hint("merge")
      .join(mem.select(col("gid").as("gb"), col("id").as("idb")).hint("merge"), "gb")
      .select(least(col("ida"), col("idb")).as(la) +:
        greatest(col("ida"), col("idb")).as(lb) +: oriented: _*)
    val within = paired.as("x").hint("merge").join(mem.as("y").hint("merge"),
        col("x.gid") === col("y.gid") && col("x.id") < col("y.id"))
      .select(col("x.id").as(la) +: col("y.id").as(lb) +:
        metrics.map(m => col(s"x.$m")): _*)
    val out = cross.unionByName(within).cp()
    graft.util.BlockRelease.release(withG +: gpairs +: scratch)
    out
  }

  /** Rep self-pair frame of the Jaccard kernels: a nonempty shingle set
    * pairs with itself at `metric` ≡ 1.0 when that meets `threshold`. */
  private def unitSelfPairs(reps: DataFrame, metric: String,
      threshold: Double): DataFrame =
    reps.filter(size(col("shingles")) > 0)
      .select(col("doc_id").as("gid"), lit(1.0).as(metric))
      .filter(col(metric) >= threshold)

  /** Candidate density above which [[warnBucketDensity]] reports a
    * bucket self-join (projected candidates per banded row). 12 sits
    * above q114's sf0.1 density (9.5) and below the boilerplate
    * mixed-regime cell (~31) and q110's collision regime (~73). */
  private[graft] val BucketDensityWarnAt = 12.0

  /** Loud diagnosis for the kernels' candidate stage (r17, verdict item
    * 5): a hot bucket (a crawl corpus's low-entropy template bands)
    * makes the candidate self-join C(|B|,2)-shaped BEFORE the verify
    * filter, in the pair forms and the group forms alike. One agg over
    * the banded frame projects the candidate count; above
    * [[BucketDensityWarnAt]] × banded rows the kernel says so on stderr
    * before the join runs. Diagnosis only — the output is unchanged. */
  private[graft] def warnBucketDensity(banded: DataFrame,
      keyCols: Seq[String], caller: String): Unit = {
    val r = banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_bc"))
      .agg(coalesce(sum(col("_bc").cast("double") *
        (col("_bc") - 1).cast("double") / 2), lit(0.0)),
        coalesce(sum(col("_bc")), lit(0L))).first()
    reportBucketDensity(r.getDouble(0), r.getLong(1), caller)
  }

  /** The stderr line of [[warnBucketDensity]] for `cand2` projected
    * candidates over `rows` banded rows; the driver tier of
    * [[collapsedGroups]] counts its buckets itself and calls this. */
  private def reportBucketDensity(cand2: Double, rows: Long,
      caller: String): Unit = {
    if (cand2 > BucketDensityWarnAt * math.max(rows, 1L))
      System.err.println(
        f"WARN graft.dedup.$caller: banding buckets project $cand2%,.0f " +
        f"candidate pairs over $rows%,d banded rows (factor " +
        f"${cand2 / math.max(rows, 1L)}%,.1f > ${BucketDensityWarnAt}%.1f): " +
        f"the candidate self-join is quadratic in the hot buckets' size")
  }

  /** COMPACT GROUP-REPRESENTATIVE near-dup output — the escape hatch for
    * the pair-complete contract's quadratic ceiling, located by the r13
    * k=30 dup-multiplicity cell (BENCH_LOCAL_r13.md §7: q24's
    * pair-complete form is 23.3 s at multiplicity 10 but 125.5 s at 30,
    * all of it C(k,2) within-group pair materialization). Instead of
    * every near-dup PAIR, emit every doc's CANONICAL representative
    * (doc_id, canon_id, group_size), where canon_id = the smallest doc
    * id in the doc's connected component under the near-dup relation —
    * the pair forms' collapse group structure EXPOSED rather than
    * expanded, and the form a dedup pipeline actually consumes
    * (keep-canonical, drop the rest — the q73 canonicalization shape).
    * Cost is linear where the pair form is quadratic
    * ([[collapsedGroups]]): dup-group size k costs k rows, not C(k,2).
    *
    * Rep pairs carry the integer-rational predicate of
    * [[cosineNearDupsExact]]. Zero vectors have no cosine: they group by
    * exact equality only (identical zero or null vectors share a gid)
    * and never cross-link. A small corpus runs on the driver
    * ([[collapsedGroups]]), banded on the same `tables` signatures. */
  def cosineNearDupGroups(vecs: DataFrame, idCol: String, vCol: String,
      tauNum: Long = 9, tauDen: Long = 10, bits: Int = 12,
      tables: Int = 48, dim: Int = -1): DataFrame = {
    import graft.functions.{CosineRationalGate, VectorExpressions, VectorFunctions}
    val caller = "cosineNearDupGroups"
    val base = vecs.select(col(idCol).cast("long").as("id"),
      col(vCol).as("v"),
      VectorFunctions.dot(col(vCol), col(vCol)).as("n2"))
    // the first banded vector's length; an all-zero corpus bands nothing
    val d = if (dim > 0) dim
      else base.filter(col("n2") > 0).select(size(col("v"))).head(1)
        .headOption.fold(0)(_.getInt(0))
    val tier = LocalTier(base, tables, caller,
      when(col("n2") > 0,
        VectorExpressions.hyperplane_sigs(col("v"), d, "neardup", bits, tables)),
      Seq(col("v"), col("n2")), size(col("v"))) { reps =>
      def doubles(r: Row): Array[Double] = r.getSeq[Any](0).iterator.map {
        case x: Number => x.doubleValue
        case _ => 0.0 // a null element reads as 0 in the kernels
      }.toArray
      val vs = reps.map(r => if (r.isNullAt(0)) null else doubles(r))
      val n2 = reps.map(r => if (r.isNullAt(1)) 0.0 else r.getDouble(1))
      requireExactCosine(tauNum, tauDen, n2.foldLeft(0.0)(math.max), caller)
      val (tn2, td2) = ((tauNum * tauNum).toDouble, (tauDen * tauDen).toDouble)
      (a, b) => CosineRationalGate.passes(math.min(vs(a).length, vs(b).length),
        vs(a)(_), vs(b)(_), n2(a), n2(b), tn2, td2)
    }
    collapsedGroups(base, Seq("v"), lit(false), checkpointKeyed = true,
        Some(tier)) { reps0 =>
      val reps = reps0.filter(col("n2") > 0).withColumnRenamed("doc_id", "id")
      val maxN2 = reps.agg(coalesce(max(col("n2")), lit(0.0))).first()
        .getDouble(0)
      (rationalCosinePairs(reps, "src", "dst", tauNum, tauDen, d, bits,
        tables, maxN2, caller, keepMetrics = false), Nil, None)
    }
  }

  /** The exact-dup collapse of the five `*NearDupGroups` forms, the
    * group twin of [[collapsedPairs]] (the argument is in the [[Dedup]]
    * scaladoc):
    *
    *  1. rows where `singleton` holds (it must never be null) bypass the
    *     gid stage as their own group; the rest get gid = min member id
    *     per distinct `contentCols` ([[gidByContent]], hash-keyed and
    *     map-side combined, so a hot content key never lands in one
    *     task). Both are checkpointed as the member frame, and a cached
    *     `members` (a long `id` plus `contentCols`) is unpersisted;
    *  1. `stage` runs the kernel's own edge stage on one rep per gid
    *     (`members`' columns with `id` renamed `doc_id`, bypassed rows
    *     left out) and returns the verified rep edges (src, dst), scratch
    *     frames to release at the end and, optionally, the gids whose
    *     groups are pair-ineligible: their members become singletons;
    *  1. [[groupsFromReps]] attaches every member to the min id of its
    *     rep-graph component.
    *
    * A kernel that passes a [[LocalTier]] first gets the driver tier
    * ([[localGroups]]): one job collects every member's content hashes
    * and bucket keys, a second the reps' verify payloads, and the driver
    * runs the same three steps. It runs only while members × bands, and
    * then the reps' projected candidates Σ C(|B|,2) and payload
    * elements, stay within the collect gate
    * ([[SizeGate.collectThreshold]], default 2M); otherwise the
    * distributed steps above run.
    *
    * Returns (doc_id, canon_id, group_size): checkpointed, or a local
    * frame from the driver tier. */
  private def collapsedGroups(members: DataFrame, contentCols: Seq[String],
      singleton: Column, checkpointKeyed: Boolean,
      local: Option[LocalTier] = None)(
      stage: DataFrame => (DataFrame, Seq[DataFrame], Option[DataFrame])):
      DataFrame = local.flatMap(localGroups(_, contentCols, singleton)) match {
    case Some(out) =>
      members.unpersist(blocking = false)
      out
    case None => distributedGroups(members, contentCols, singleton,
      checkpointKeyed)(stage)
  }

  /** The distributed steps of [[collapsedGroups]]. */
  private def distributedGroups(members: DataFrame, contentCols: Seq[String],
      singleton: Column, checkpointKeyed: Boolean)(
      stage: DataFrame => (DataFrame, Seq[DataFrame], Option[DataFrame])):
      DataFrame = {
    val (withGid, gidScratch) = gidByContent(members.filter(!singleton),
      contentCols, checkpointKeyed)
    val mem0 = withGid
      .unionByName(members.filter(singleton).withColumn("gid", col("id")))
      .cp()
    graft.util.BlockRelease.release(gidScratch)
    members.unpersist(blocking = false)
    val (edges, scratch, pairless) = stage(
      mem0.filter(col("id") === col("gid") && !singleton).drop("gid")
        .withColumnRenamed("id", "doc_id"))
    val mem = pairless.fold(mem0) { bad =>
      mem0.select(col("id"), col("gid"))
        .join(SizeGate.maybeBroadcast(
          bad.select(col("gid"), lit(true).as("_pairless"))), Seq("gid"), "left")
        .select(col("id"),
          when(col("_pairless"), col("id")).otherwise(col("gid")).as("gid"))
        .cp()
    }
    val out = groupsFromReps(mem, edges)
    graft.util.BlockRelease.release(
      (if (mem eq mem0) Nil else Seq(mem0)) ++ scratch :+ edges)
    out
  }

  /** A kernel's driver tier for [[collapsedGroups]]: `src` carries the
    * member columns (a long `id` plus the content columns), `keys` is an
    * array<long> of one bucket key per band (`bands` of them; null for a
    * member never banded), `payload` the columns the verify reads and
    * `size` the payload's element count (its array length).
    * `verifier` gets the reps' payload rows, ordered by id, runs the
    * kernel's guards and returns its exact pair predicate over positions
    * in that array. `caller` names the kernel in the density warning. */
  private final case class LocalTier(src: DataFrame, bands: Int,
      caller: String, keys: Column, payload: Seq[Column],
      size: Column)(val verifier: Array[Row] => (Int, Int) => Boolean)

  /** One member as the driver tier's first job hands it over: `h` is
    * its content-hash triple and `keys` its band keys, both null for a
    * singleton; `size` is its payload's element count. */
  private final case class LocalMember(id: Long, single: Boolean,
      h: (Long, Long, Long), keys: Array[Long], size: Long)

  private val GroupSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("canon_id", LongType),
    StructField("group_size", LongType, nullable = false)))

  /** The driver tier of [[collapsedGroups]], or None when the corpus is
    * past the gate. Two jobs over one spread of the members
    * ([[graft.util.SpreadScan.spreadInline]]):
    *
    *  1. the members' (id, singleton, content hashes, keys, payload size)
    *     are collected within gate / bands rows
    *     ([[SizeGate.collectWithin]]), so members × bands ≤ gate holds
    *     for whatever reaches the driver. The driver forms the gids
    *     ([[localGids]]) and buckets the reps, and refuses the tier when
    *     their projected candidates Σ C(|B|,2) or their payload elements
    *     exceed the gate: no payload has moved yet;
    *  1. the reps' payloads are collected, and the driver verifies each
    *     distinct candidate rep pair whose components are still apart
    *     and unions the verified ones. */
  private def localGroups(t: LocalTier, contentCols: Seq[String],
      singleton: Column): Option[DataFrame] = {
    val gate = SizeGate.collectThreshold
    if (gate < t.bands) return None
    val src = graft.util.SpreadScan.spreadInline(t.src)
    val rows = src.select(Seq(col("id"), singleton) ++
      contentHashes(contentCols) ++ Seq(when(!singleton, t.keys),
        when(!singleton, t.size)): _*).queryExecution.toRdd
    val ms = SizeGate.collectWithin(rows, gate / t.bands)(_.map { r =>
      val single = r.getBoolean(1)
      LocalMember(r.getLong(0), single,
        if (single) null else (r.getLong(2), r.getLong(3), r.getLong(4)),
        if (r.isNullAt(5)) null else r.getArray(5).toLongArray(),
        if (r.isNullAt(6)) 0L else math.max(r.getInt(6), 0).toLong)
    }.toArray).getOrElse(return None).flatten
    val ids = ms.map(_.id)
    val gid = localGids(ids, ms.map(_.h))
    val reps = ids.indices.filter(i => !ms(i).single && ids(i) == gid(i))
      .sortBy(ids(_)).toArray
    val keys = reps.map(ms(_).keys)
    // the rep buckets per band: candidates and banded rows as the
    // distributed density warning counts them
    val buckets = mutable.ArrayBuffer.empty[Array[Int]]
    var (cand2, banded) = (0.0, 0L)
    (0 until t.bands).foreach { b =>
      val byKey = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
      reps.indices.foreach { p =>
        if (keys(p) != null)
          byKey.getOrElseUpdate(keys(p)(b), mutable.ArrayBuffer.empty) += p
      }
      byKey.valuesIterator.foreach { bk =>
        banded += bk.size
        cand2 += bk.size.toDouble * (bk.size - 1) / 2
        if (bk.size > 1) buckets += bk.toArray
      }
    }
    if (cand2 > gate || reps.map(ms(_).size).sum > gate) return None
    val repIds = reps.map(ids(_)) // sorted
    val payload = src.select(col("id"), struct(t.payload: _*))
    val width = t.payload.size
    val fetched = payload.queryExecution.toRdd.mapPartitions(_.collect {
      case r if java.util.Arrays.binarySearch(repIds, r.getLong(0)) >= 0 =>
        (r.getLong(0), r.getStruct(1, width).copy(): InternalRow)
    }).collect()
    val toRow = CatalystTypeConverters.createToScalaConverter(
      payload.schema(1).dataType)
    val byId = mutable.LongMap.from(fetched.iterator.map { case (id, p) =>
      id -> toRow(p).asInstanceOf[Row] })
    val pass = t.verifier(repIds.map(byId(_)))
    reportBucketDensity(cand2, banded, t.caller)
    val cand = mutable.ArrayBuilder.make[Long]
    buckets.foreach { bk =>
      for (x <- bk.indices; y <- x + 1 until bk.length)
        cand += (bk(x).toLong << 32) | bk(y)
    }
    val pairs = cand.result()
    java.util.Arrays.sort(pairs)
    val uf = new graft.util.UnionFind.Longs
    pairs.indices.foreach { c =>
      if (c == 0 || pairs(c) != pairs(c - 1)) {
        val (p, q) = ((pairs(c) >>> 32).toInt, pairs(c).toInt)
        val (a, b) = (repIds(p), repIds(q))
        if (uf.find(a) != uf.find(b) && pass(p, q)) uf.union(a, b)
      }
    }
    // the union-find root is the component's min gid, i.e. its min id
    val canon = ids.indices.map(i => if (ms(i).single) ids(i) else uf.find(gid(i)))
    val sizes = canon.groupMapReduce(identity)(_ => 1L)(_ + _)
    Some(t.src.sparkSession.createDataFrame(
      ids.indices.map(i => Row(ids(i), canon(i), sizes(canon(i)))).asJava,
      GroupSchema))
  }

  /** The gid step of the driver tier: gid = min id per (`_gh1`, `_gh2`)
    * of [[contentHashes]], with [[gidByContent]]'s collision error when a
    * group's `_gh3` differs; a null hash triple marks a singleton, whose
    * gid is its own id. */
  private[graft] def localGids(ids: Array[Long],
      hashes: Array[(Long, Long, Long)]): Array[Long] = {
    val groups = mutable.HashMap.empty[(Long, Long), (Long, Long)]
    ids.indices.foreach { i =>
      val h = hashes(i)
      if (h != null) groups.get((h._1, h._2)) match {
        case Some((m, h3)) =>
          if (h3 != h._3) throw new IllegalStateException(GidCollision)
          if (ids(i) < m) groups((h._1, h._2)) = (ids(i), h3)
        case None => groups((h._1, h._2)) = (ids(i), h._3)
      }
    }
    ids.indices.map { i =>
      val h = hashes(i)
      if (h == null) ids(i) else groups((h._1, h._2))._1
    }.toArray
  }

  /** Shared exact-dup gid stage of the `*NearDupGroups` family (r15 —
    * the r14 verdict's one weak mark): gid = min member id per exact
    * content group, computed WITHOUT a content-partitioned window.
    *
    * A `min(id).over(Window.partitionBy(<content>))` is a full shuffle
    * with NO map-side combine in which every member of a group lands in
    * ONE task — exactly backwards for this family's advertised regime
    * (high dup multiplicity: a crawl corpus's empty/boilerplate content
    * appears 10⁶–10⁹ times, and for the text kernels the shuffle key was
    * the FULL text/shingle array). Here instead: a 128-bit content hash
    * (two independently-seeded xxhash64s — collision is a raised error,
    * not a correctness risk) keys a `groupBy.agg(min(id))`, whose
    * map-side partial aggregation collapses hot groups to one row per
    * map task BEFORE the shuffle, followed by a join-back on the two
    * hash longs through [[SizeGate.maybeBroadcast]]: broadcast when the
    * distinct-content side is small (every registered corpus), else one
    * plain shuffle join. There is no heavy-hitter split for a hot
    * content key on the shuffle side: SCALE_CELLS_r15.txt's hot-group
    * cell measured a full group query with every join-back forced
    * through one at 7.2 s, against 6.7 s on the broadcast path.
    *
    * Hash-group purity is GUARDED, not assumed: the aggregate carries
    * min/max of a THIRD independently-seeded hash (8 B each — the first
    * cut carried min/max of the full content struct, which doubled the
    * agg's content bytes and cost the text kernels 25–55% at sf0.1,
    * ABBA-measured), and the projected gid RAISES whenever a grouping
    * collision is observable in it. Distinct contents silently merge
    * only if all three 64-bit hashes collide at once (≤ 2⁻⁶⁴ on top of
    * the 2⁻¹²⁸ grouping event — below any hardware-error floor), every
    * other collision is a loud error, never a silent false merge. Null
    * content hashes to a constant, so null groups stay grouped together
    * — the window's null semantics.
    *
    * @param frame must carry a long `id` column plus `contentCols`
    * @param checkpointKeyed materialize the hashed frame once so the
    *          aggregate AND the join-back probe side share it — pass
    *          true when the upstream projection is expensive to
    *          recompute (q110's interpreted md5Embed ran twice without
    *          it, measured +0.9 s at sf0.1); false when the upstream is
    *          already cached (the text kernels' shingle cache) or a
    *          plain column-pruned scan
    * @param knownRows an upper bound on `frame`'s row count when the
    *          caller has one lying around (−1 = unknown); it bounds the
    *          distinct side too, so the broadcast decision runs no count
    * @return (frame + `gid` column with the hash keys dropped,
    *          checkpointed scratch frames — caller releases them once
    *          its consumer is checkpointed) */
  private[graft] def gidByContent(frame: DataFrame,
      contentCols: Seq[String],
      checkpointKeyed: Boolean = true,
      knownRows: Long = -1L): (DataFrame, Seq[DataFrame]) = {
    val keyed0 = frame.select(col("*") +: contentHashes(contentCols): _*)
    // LAZY checkpoints: the first downstream action (the broadcast
    // gate's count, or the broadcast build when knownRows is given) is
    // the job that materializes them
    val keyed = if (checkpointKeyed) keyed0.cp(false) else keyed0
    val gids = keyed.groupBy(col("_gh1"), col("_gh2"))
      .agg(min(col("id")).as("_gmin"),
        min(col("_gh3")).as("_p1"), max(col("_gh3")).as("_p2"))
      .select(col("_gh1"), col("_gh2"),
        when(col("_p1") <=> col("_p2"), col("_gmin"))
          .otherwise(raise_error(lit(GidCollision)).cast("long"))
          .as("gid"))
      .cp(false)
    // gids ≤ knownRows by construction
    val out = keyed.join(SizeGate.maybeBroadcast(gids,
        known = Some(knownRows).filter(_ >= 0L)), Seq("_gh1", "_gh2"))
      .drop("_gh1", "_gh2", "_gh3")
    (out, if (checkpointKeyed) Seq(keyed, gids) else Seq(gids))
  }

  /** The three independently seeded content hashes `_gh1`, `_gh2`,
    * `_gh3` of [[gidByContent]] and the driver tier of
    * [[collapsedGroups]]. xxhash64 SKIPS null inputs (a null column
    * leaves the running hash untouched), so for same-typed multi-column
    * content (A, null) and (null, A) would collide in ALL three seeded
    * hashes — a structural silent merge, not a random collision. A
    * per-column null-pattern signature (booleans are never null, never
    * skipped) restores the window's null semantics: the null LAYOUT is
    * part of the key, and all-null content still hashes to one constant
    * group. */
  private def contentHashes(contentCols: Seq[String]): Seq[Column] = {
    val cs = contentCols.map(col)
    val hin = cs ++ cs.map(_.isNull)
    Seq(xxhash64(hin: _*).as("_gh1"),
      xxhash64(lit(0x9E3779B97F4A7C15L) +: hin: _*).as("_gh2"),
      xxhash64(lit(0xC2B2AE3D27D4EB4FL) +: hin: _*).as("_gh3"))
  }

  private val GidCollision =
    "graft.dedup.gidByContent: 128-bit content-hash collision — " +
    "distinct contents share (xxhash64, xxhash64-seeded); " +
    "re-key or widen the hash"

  /** Shared tail of the `*NearDupGroups` family (factored r14 when the
    * q110 pattern was extended to the text kernels): components over the
    * REP graph, canonical = component-min member id, every member
    * attached via its exact-dup gid, group sizes by a hash-keyed
    * `groupBy.count` + join-back (r15: was a canon_id-partitioned window
    * count — same degenerate-hot-group shape as the gid stage; the
    * groupBy's map-side combine bounds per-task input for a giant canon
    * group where the window serialized it into one task). Both
    * join-backs here (canon attach, size attach) decide broadcast or
    * shuffle through [[SizeGate.maybeBroadcast]], like the gid stage.
    * `mem` must carry (id, gid) with gid = min member id of the doc's
    * exact-dup group (so the component-min NODE id IS the component-min
    * member id); `repEdges` the verified near-dup edges between reps as
    * (src, dst). Releases `mem`; returns a checkpointed frame. */
  private[graft] def groupsFromReps(mem: DataFrame,
      repEdges: DataFrame): DataFrame = {
    // rep-graph components, behind the collect gate (the q40-q49
    // discipline) — the rep graph is dup-collapsed but still
    // corpus-shaped in the dup-free worst case
    val comp = graft.graph.GraphAlgos.connectedComponents(repEdges)
    // normalize component labels to the component's MIN member id (the
    // union-find root choice is arbitrary; min-id is the canonical form
    // every oracle replays). canon is rep-graph-sized (dup-collapsed,
    // corpus-shaped only in the dup-free worst case): checkpointed
    val canon = comp.join(
        comp.groupBy(col("label")).agg(min(col("node")).as("canon")),
        "label")
      .select(col("node").as("gid"), col("canon"))
      .cp(false) // lazy: the gate's count materializes it
    val out = mem.select(col("id").as("doc_id"), col("gid"))
      .join(SizeGate.maybeBroadcast(canon), Seq("gid"), "left")
      // isolated reps (no near-dup edge) and pair-ineligible groups
      // (zero vectors, empty shingle sets) keep their gid as canonical
      .select(col("doc_id"),
        coalesce(col("canon"), col("gid")).as("canon_id"))
      .cp()
    // group sizes: map-side-combined groupBy + join-back on the long
    // canon key, never a canon-partitioned window (a giant canon group
    // must not serialize one task — the gidByContent argument)
    val sizes = out.groupBy(col("canon_id"))
      .agg(count(lit(1)).as("group_size"))
      .cp(false) // lazy: the gate's count materializes it
    val sized = out.join(SizeGate.maybeBroadcast(sizes), Seq("canon_id"))
      .select(col("doc_id"), col("canon_id"), col("group_size"))
      .cp()
    graft.util.BlockRelease.release(Seq(mem, out, canon, sizes))
    sized
  }

  /** COMPACT GROUP form of [[minhashNearDups]] — the q110 escape hatch
    * ([[cosineNearDupGroups]]) applied to the MinHash-LSH text kernel
    * (r13 verdict item 2: the measured crossover on the embedding family
    * — pair form right through dup multiplicity ~10, group form 10×
    * cheaper by 30 — applies verbatim to the text family, whose crawl
    * corpora carry boilerplate dup groups in the hundreds). Emits
    * (doc_id, canon_id, group_size) where canon_id = min doc id of the
    * doc's connected component under the exact-Jaccard-≥ threshold
    * relation — i.e. the components of [[minhashNearDups]]'s own pair
    * output — with banding + verify on one rep per distinct shingle
    * list ([[collapsedGroups]]; threshold ≤ 1 required, so identical
    * lists are near-dups). Docs whose shingle set is empty or null can
    * never pair (no postings, no signature) and stay singletons: they
    * bypass the gid stage, where the empty array would be a crawl
    * corpus's hottest content key. Ids must be numeric (component node
    * ids). A small corpus runs on the driver ([[collapsedGroups]]),
    * banded on the same band hashes. */
  def minhashNearDupGroups(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 64, bands: Int = 16): DataFrame = {
    require(threshold <= 1.0,
      "group form needs threshold <= 1 (identical docs must be near-dups)")
    def members(spread: Boolean) =
      shingledHashes(docs, idCol, textCol, spread = spread)
        .select(col("doc_id").cast("long").as("id"), col("shingles"))
    // the driver tier spreads its own collect (SpreadScan.spreadInline)
    val tier = LocalTier(members(spread = false), bands, "minhashNearDupGroups",
      lshBands(minhashSignature(col("shingles"), k), bands, k / bands)
        .getField("h"),
      Seq(col("shingles")), size(col("shingles"))) { reps =>
      val sets = reps.map(_.getSeq[Long](0).toArray)
      val sorted = sets.map(_.sorted)
      // jaccardOfPairs' arithmetic: distinct common hashes over
      // na + nb − inter, an int promoted to double
      (a, b) => {
        val inter = distinctCommon(sorted(a), sorted(b))
        inter.toDouble / (sets(a).length + sets(b).length - inter) >= threshold
      }
    }
    val sh = members(spread = true)
      .cache() // cached, so the gid stage needs no keyed checkpoint
    collapsedGroups(sh, Seq("shingles"), noShingles, checkpointKeyed = false,
        Some(tier)) { reps =>
        val cand = minhashCandidates(reps, k, bands, "minhashNearDupGroups")
        val edges = jaccardOfPairs(cand, reps)
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .cp()
        graft.util.BlockRelease.release(cand)
        (edges, Nil, None)
    }
  }

  /** |distinct(a) ∩ distinct(b)| of two sorted arrays, as
    * `size(array_intersect(a, b))` counts it. */
  private def distinctCommon(a: Array[Long], b: Array[Long]): Int = {
    var (i, j, n) = (0, 0, 0)
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else {
        val v = a(i)
        n += 1
        while (i < a.length && a(i) == v) i += 1
        while (j < b.length && b(j) == v) j += 1
      }
    }
    n
  }

  /** An empty or null shingle set: no postings, no signature, never a
    * pair — the Jaccard group forms' singleton bypass. */
  private def noShingles: Column =
    coalesce(size(col("shingles")) === 0, lit(true))

  /** COMPACT GROUP form of [[ngramJaccardNearDups]] (same r14 extension,
    * same output contract and singleton bypass as
    * [[minhashNearDupGroups]] but with the exact inverted-index kernel
    * and per-`scopeCol` pairing): canon groups are the connected
    * components of the scoped exact-Jaccard pair relation; edges never
    * cross scopes, so neither do groups. Representatives = one doc per
    * distinct (scope, shingle list); the inverted-index self-join runs on
    * reps only, so dup-group size k costs k rows, not the pair form's
    * C(k,2) postings blow-up. A null scope never pairs (the pair forms'
    * `a.scope = b.scope`), so its docs are singletons. */
  def jaccardNearDupGroups(docs: DataFrame, idCol: String, textCol: String,
      scopeCol: String, threshold: Double = 0.5, n: Int = 3): DataFrame = {
    require(threshold <= 1.0,
      "group form needs threshold <= 1 (identical docs must be near-dups)")
    val sh = shingledHashes(docs, idCol, textCol, n, keep = Seq(scopeCol),
        spread = false) // cheap FNV shingles; measured −0.7 s off (q113)
      .select(col("doc_id").cast("long").as("id"), col(scopeCol),
        col("shingles"))
      .cache() // cached, so the gid stage needs no keyed checkpoint
    collapsedGroups(sh, Seq(scopeCol, "shingles"),
        noShingles || col(scopeCol).isNull,
        checkpointKeyed = false) { reps =>
      val (ex, pairs) = postingJaccardPairs(reps, scopeCol, threshold,
        "src", "dst", "jaccardNearDupGroups")
      val edges = pairs.select(col("src"), col("dst")).cp()
      graft.util.BlockRelease.release(ex)
      (edges, Nil, None)
    }
  }

  /** Exact all-pairs twin of [[cosineNearDupsExact]] (same rational
    * predicate, O(n²)) — the ground-truth side of the q24 surface. */
  def cosineNearDupsBruteExact(vecs: DataFrame, idCol: String, vCol: String,
      tauNum: Long = 9, tauDen: Long = 10): DataFrame = {
    import graft.functions.VectorFunctions
    require(tauNum > 0 && tauDen > 0, "rational τ must be positive")
    val base = vecs.select(col(idCol).as("id"), col(vCol).as("v"),
        VectorFunctions.dot(col(vCol), col(vCol)).as("n2"))
      .filter(col("n2") > 0)
    base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        VectorFunctions.dot(col("a.v"), col("b.v")).as("dot"),
        col("a.n2").as("na2"), col("b.n2").as("nb2"))
      .filter(col("dot") > 0 &&
        lit(tauDen * tauDen) * col("dot") * col("dot") >=
          lit(tauNum * tauNum) * col("na2") * col("nb2"))
  }

  /** Benchmark DECONTAMINATION (the eval-leak scrub of a training corpus):
    * flag every non-benchmark document sharing at least one `n`-token
    * shingle with any benchmark document. Candidates from an equality
    * join on md5 shingle hashes — the inverted-index shape, shuffle ∝
    * shingles + matches, never corpus × benchmark; md5 keeps the counts
    * cross-engine exact (q66's oracle). Documents shorter than `n` tokens
    * can never be flagged. */
  def flagContaminated(docs: DataFrame, idCol: String, textCol: String,
      isBench: Column, n: Int = 8): DataFrame = {
    // one-pass kernel (r9): the HOF formulation re-split the text per
    // shingle index in interpreted context — the q98 cost class, caught
    // by q100's decade-up cell (q66 dominated the composed manifest at
    // 50k docs). Md5WordShingles emits DISTINCT grams, which the
    // countDistinct downstream makes semantics-neutral here.
    val withSh = docs.select(col(idCol).as("doc_id"), isBench.as("b"),
      explode(md5_word_shingles(col(textCol), n)).as("h"))
    val bench = withSh.filter(col("b")).select(col("h")).distinct()
    val corpus = withSh.filter(!col("b"))
    val hits = corpus.join(bench, "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_bench_shingles"))
    docs.select(col(idCol).as("doc_id"), isBench.as("b"))
      .filter(!col("b")).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bench_shingles"), lit(0L)).as("n_bench_shingles"),
        (coalesce(col("n_bench_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** INCREMENTAL INGEST GATE (the production crawl-increment shape: a
    * NEW batch arrives, the existing corpus is already deduplicated —
    * dedup the batch AGAINST the store without ever re-pairing the store
    * with itself). Two exact tiers, no LSH recall concerns:
    * exact tier = whitespace-normalized md5 signature semi-join
    * (batch ∩ corpus signatures); near tier = distinct 8-gram overlap
    * via the inverted-index equality join (r12: the corpus side is
    * SCANNED map-only against broadcast batch key sets, never shuffled
    * — see [[gateAgainstStore]]; never corpus × corpus, never
    * batch × batch).
    * Verdict: drop when exact-dup OR ≥ half the batch doc's distinct
    * 8-grams already exist in the store (2·shared ≥ total — rational,
    * no float threshold). Docs shorter than `n` tokens can only be
    * dropped by the exact tier. */
  def incrementalIngestGate(docs: DataFrame, idCol: String, textCol: String,
      isNew: Column, n: Int = 8): DataFrame = {
    val base = docSigGrams(docs, idCol, textCol, n, extra = Seq(isNew.as("nw")))
      // four consumers (corpus sigs, corpus grams, batch grams, batch
      // frame): shingle once
      .cp()
    val r = gateAgainstStore(
        base.filter(col("nw")).select(col("doc_id"), col("sig"), col("grams")),
        base.filter(!col("nw")).select(col("sig")),
        base.filter(!col("nw")).select(explode(col("grams")).as("h")))
      .cp()
    graft.util.BlockRelease.release(base)
    r
  }

  /** The (sig, grams) fingerprint both gate tiers run on: sig =
    * md5(whitespace-normalized lowercased text), grams = the doc's
    * DISTINCT md5 `n`-token shingles. Shared by the batch gate above and
    * the streaming store ([[graft.streaming.Streams.ingestGateSink]]) so
    * a store bootstrapped from a batch corpus is bit-compatible with the
    * fingerprints each micro-batch computes. */
  private[graft] def docSigGrams(docs: DataFrame, idCol: String,
      textCol: String, n: Int, extra: Seq[Column] = Nil): DataFrame = {
    // null text normalizes to "" (the q99-oracle convention) — without it
    // concat_ws silently maps the null token array to "" on the Spark side
    // while a SQL oracle keeps sig NULL, breaking engine parity; with it
    // BOTH engines agree that text-less docs share the md5("") signature.
    val txt = coalesce(col(textCol), lit(""))
    val toks = split(lower(trim(txt)), "\\s+")
    // one-pass kernel: the HOF formulation re-split the text per shingle
    // index in interpreted context (70 s at the 50k scale cell → see
    // Md5WordShingles scaladoc); this tokenizes once per row
    docs.select(Seq(col(idCol).as("doc_id")) ++ extra ++ Seq(
      md5(concat_ws(" ", toks)).as("sig"),
      md5_word_shingles(txt, n).as("grams")): _*)
  }

  /** Gate core: verdicts for a fingerprinted batch (doc_id, sig, grams)
    * against a signature/gram STORE.
    *
    * STORE-SCAN-ONLY discipline (r12, caught by the SCALE-INGEST decade-
    * up cell): the store is the corpus — it must never be broadcast,
    * collected, or even SHUFFLED per micro-batch. The r11 shape
    * (`batch LEFT SEMI store`) let Spark pick the physical join, and at
    * an 800k-doc store the planner chose to broadcast the 42M-row gram
    * side — a driver-sized collect of the corpus (maxResultSize abort at
    * 1 GiB; at 100 TB, fatal), while the sort-merge fallback would have
    * shuffled the whole store once per micro-batch. Reversed form: the
    * store side is semi-joined against the BROADCAST batch-derived key
    * set (SizeGate'd — a corpus-sized "batch" degrades to the shuffled
    * join instead of a corpus broadcast), so the store is scanned
    * map-only, and the only exchanges are the match-set dedups, bounded
    * by partitions × |batch keys| through map-side partial aggregation
    * even when one boilerplate shingle occurs millions of times in the
    * store. Matched sets are ≤ the batch set by construction, so their
    * re-broadcast rides the same gate decision with no extra count.
    *
    * Duplicate store rows (the same sig or gram persisted by several
    * increments) still can never overcount — the store remains a semi
    * side — so no store-wide distinct is needed, which is what lets the
    * streaming sink ([[graft.streaming.Streams.ingestGateSink]]) append
    * one store partition per micro-batch.
    *
    * Verdicts: exact dups flag by the matched signatures; per-doc shared
    * grams count against the matched grams. The matched sets are
    * intersections with the batch key sets, so the batch key counts
    * bound them and drive their SizeGate broadcasts. */
  private[graft] def gateAgainstStore(batch: DataFrame, storeSigs: DataFrame,
      storeGrams: DataFrame): DataFrame = {
    val batchSigs = batch.select(col("sig")).distinct()
    val nSigs = batchSigs.count()
    val matchedSigs = storeSigs.select(col("sig"))
      .join(SizeGate.maybeBroadcast(batchSigs, known = Some(nSigs)),
        Seq("sig"), "left_semi")
      .distinct()
    val batchG = batch.select(col("doc_id"), explode(col("grams")).as("h"))
    val batchH = batchG.select(col("h")).distinct()
    val nH = batchH.count()
    val matchedH = storeGrams.select(col("h"))
      .join(SizeGate.maybeBroadcast(batchH, known = Some(nH)),
        Seq("h"), "left_semi")
      .distinct()
    val exact = batch
      .join(SizeGate.maybeBroadcast(matchedSigs, known = Some(nSigs)),
        Seq("sig"), "left_semi")
      .select(col("doc_id"), lit(true).as("xd"))
    val shared = batchG
      .join(SizeGate.maybeBroadcast(matchedH, known = Some(nH)),
        Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("ns")) // grams already distinct per doc
    batch
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
      .join(exact, Seq("doc_id"), "left")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("xd"), lit(false)).as("exact_dup"),
        col("n_grams"),
        coalesce(col("ns"), lit(0L)).as("n_shared"),
        (coalesce(col("xd"), lit(false)) ||
          (col("n_grams") > 0 &&
            coalesce(col("ns"), lit(0L)) * 2 >= col("n_grams"))).as("drop_doc"))
  }

  /** Cross-engine twin of [[simhashNearDups]] (the md5-twin precedent of
    * q37/q38/q55): the 64-bit SimHash is derived from md5 token hashes —
    * bit j is set iff Σ over token occurrences of (±1 by bit j of the
    * first 8 md5 digest bytes) > 0 — so any engine with md5 reproduces
    * the fingerprints, the pigeonhole candidates AND the Hamming
    * distances exactly, which is what puts q35 under the DuckDB hash
    * oracle. The fingerprint lives in two 32-bit words (hex chars 1–8 =
    * high, 9–16 = low): Spark's conv() yields signed longs, and 32-bit
    * words keep every value positive with every bit test an EXACT
    * power-of-two division (there is no variable-shift Column builtin).
    * Same pigeonhole exactness as the native tier — this is candidate
    * generation via equality join, never all-pairs — and the same
    * one-shuffle shape: tokens explode locally, the 64 ±1 bit sums ride
    * ONE partial-aggregated groupBy. */
  def simhashNearDupsMd5(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    require(width <= 32 && 32 % width == 0,
      s"chunk width $width must divide 32 (supported maxDist: 1, 3, 7)")
    val fp = simhashMd5Fp(docs, idCol, textCol)
    pigeonholePairs(fp, Seq("fp_lo", "fp_hi"),
      simhashChunkCols(chunks, width), maxDist, simhashMd5Dist)
  }

  /** The md5-twin 64-bit SimHash fingerprint frame (doc_id, fp_lo,
    * fp_hi) — factored r14 so the pair form and the group form compute
    * it identically (it IS the near-dup semantics: every pair/group
    * decision is a function of these two words). */
  private[graft] def simhashMd5Fp(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // spread the scan (guide §2.5): the explode + two-md5-per-token map
    // stage otherwise runs serially on a single-split corpus
    val tok = graft.util.SpreadScan.spread(docs)
      .select(col(idCol).as("doc_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tk"))
    val th = tok.select(col("doc_id"),
      conv(substring(md5(col("tk")), 1, 8), 16, 10).cast("long").as("hi"),
      conv(substring(md5(col("tk")), 9, 8), 16, 10).cast("long").as("lo"))
    // bit j of a 32-bit word by exact division (word < 2^32 and 2^j are
    // both exact doubles; dividing by a power of two shifts the exponent
    // only, so floor() is the true bit)
    def bit(c: Column, j: Int): Column =
      pmod(floor(c / lit(math.pow(2.0, j))).cast("long"), lit(2L))
    val sums = th.groupBy(col("doc_id")).agg(
      sum(when(bit(col("lo"), 0) === 1, 1).otherwise(-1)).as("s0"),
      (1 until 64).map { j =>
        val b = if (j < 32) bit(col("lo"), j) else bit(col("hi"), j - 32)
        sum(when(b === 1, 1).otherwise(-1)).as(s"s$j")
      }: _*)
    val fpLo = (0 until 32).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    val fpHi = (32 until 64).map(j =>
      when(col(s"s$j") > 0, lit(1L << (j - 32))).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("doc_id"), fpLo.as("fp_lo"), fpHi.as("fp_hi"))
  }

  private def simhashChunkCols(chunks: Int, width: Int): Seq[Column] =
    (0 until chunks).map { c =>
      val word = if (c < 32 / width) col("fp_lo") else col("fp_hi")
      shiftrightunsigned(word, (c * width) % 32)
        .bitwiseAND(lit((1L << width) - 1))
    }

  private val simhashMd5Dist:
      (String => Column, String => Column) => Column =
    (a, b) => (bit_count(a("fp_lo").bitwiseXOR(b("fp_lo"))) +
      bit_count(a("fp_hi").bitwiseXOR(b("fp_hi")))).cast("long")

  /** COMPACT GROUP form of [[simhashNearDupsMd5]] — the q110/q112/q113
    * escape hatch applied to the SimHash kernel, completing the group
    * family across every near-dup relation the engine ships. Emits
    * (doc_id, canon_id, group_size): components of the Hamming ≤ maxDist
    * relation over the md5-twin fingerprints, with pigeonhole banding on
    * one rep per distinct fingerprint ([[collapsedGroups]]; identical
    * fingerprints are at distance 0, so they are near-dups at ANY
    * maxDist ≥ 0 — no threshold caveat, unlike the Jaccard forms). The
    * pigeonhole candidates are EXACT for the distance bound (any pair
    * within Hamming maxDist shares one of maxDist+1 chunks), so unlike
    * the MinHash form there is no banding-recall pin: engine components
    * equal true-pair components unconditionally. The pair form's
    * measured negative result for a SimHash collapse
    * ([[pigeonholePairs]]: the fingerprint groupBy dominates and must
    * run per member) applies here too — but the group form's win is the
    * OUTPUT, not the banding: C(k,2) pair rows never materialize.
    *
    * Null text has no tokens, hence no fingerprint row: it rejoins the
    * member frame with a null fingerprint and bypasses the gid stage as
    * a singleton, as in q114's oracle (a LEFT JOIN from documents). */
  def simhashNearDupGroupsMd5(docs: DataFrame, idCol: String,
      textCol: String, maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    require(width <= 32 && 32 % width == 0,
      s"chunk width $width must divide 32 (supported maxDist: 1, 3, 7)")
    val fp = simhashMd5Fp(docs, idCol, textCol)
      .select(col("doc_id").cast("long").as("id"), col("fp_lo"), col("fp_hi"))
    val noText = docs.filter(col(textCol).isNull)
      .select(col(idCol).cast("long").as("id"),
        lit(null).cast("long").as("fp_lo"), lit(null).cast("long").as("fp_hi"))
    collapsedGroups(fp.unionByName(noText), Seq("fp_lo", "fp_hi"),
        col("fp_lo").isNull, checkpointKeyed = true) { reps =>
      val edges = pigeonholeBandJoin(reps, Seq("fp_lo", "fp_hi"),
          simhashChunkCols(chunks, width), maxDist, simhashMd5Dist,
          "src", "dst", "simhashNearDupGroupsMd5")
        .select(col("src"), col("dst"))
        .cp()
      (edges, Nil, None)
    }
  }

  /** SimHash near-dup pairs with Hamming ≤ maxDist: pigeonhole banding —
    * split the 64-bit fingerprint into maxDist+1 chunks; any pair within
    * distance shares ≥1 exact chunk, so an equality join on
    * (chunk_idx, chunk_value) finds all of them without O(n²). */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val fp = graft.util.SpreadScan.spread(docs) // guide §2.5 (q36/q112 class)
      .select(col(idCol).as("doc_id"), simhash64(col(textCol)).as("sh"))
    val chunkCols = (0 until chunks).map { c =>
      shiftrightunsigned(col("sh"), c * width).bitwiseAND(lit((1L << width) - 1))
    }
    pigeonholePairs(fp, Seq("sh"), chunkCols, maxDist,
      (a, b) => hamming64(a("sh"), b("sh")).cast("long"))
  }

  /** The pigeonhole band self-join (factored r16 so the group form and
    * [[pigeonholePairs]] share one definition): band by `chunkCols`,
    * warn on hot buckets as `caller`, equality self-join on
    * (chunk_idx, chunk), distinct, exact `dist` ≤ maxDist. */
  private def pigeonholeBandJoin(src: DataFrame, fpCols: Seq[String],
      chunkCols: Seq[Column], maxDist: Int,
      dist: (String => Column, String => Column) => Column,
      la: String, lb: String, caller: String): DataFrame = {
    val banded = src.select(col("doc_id") +: fpCols.map(col) :+
      posexplode(array(chunkCols: _*)).as(Seq("c", "chunk")): _*)
    warnBucketDensity(banded, Seq("c", "chunk"), caller)
    banded.as("a").hint("merge").join(banded.as("b").hint("merge"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as(la) +: col("b.doc_id").as(lb) +:
        (fpCols.map(f => col(s"a.$f").as(s"${f}_a")) ++
          fpCols.map(f => col(s"b.$f").as(s"${f}_b"))): _*)
      .distinct()
      .select(col(la), col(lb),
        dist(f => col(s"${f}_a"), f => col(s"${f}_b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Shared pigeonhole pair kernel for the SimHash tiers: band the
    * fingerprint frame (doc_id, fpCols…) by `chunkCols`, self-join on
    * (chunk_idx, chunk_value), distinct, compute `dist` and keep ≤
    * maxDist. No exact-dup collapse: the per-doc fingerprint, which is
    * the dominant cost and the group key, runs per member anyway, and
    * the collapse measured slower (20–21 s vs 16.9 s direct at dup
    * multiplicity 10, BENCH_LOCAL_r12.md §8). */
  private def pigeonholePairs(fp0: DataFrame, fpCols: Seq[String],
      chunkCols: Seq[Column], maxDist: Int,
      dist: (String => Column, String => Column) => Column): DataFrame = {
    val fp = fp0.cp()
    val out = pigeonholeBandJoin(fp, fpCols, chunkCols, maxDist, dist,
      "doc_a", "doc_b", "simhashNearDups").cp()
    graft.util.BlockRelease.release(fp)
    out
  }
}
