package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.dedup.Dedup
import graft.schemas.Tables

class DedupSpec extends SparkSpec with Matchers {

  private val dir = "/root/testdata/sf0.001"

  test("incremental ingest gate: planted exact/near dups dropped, fresh doc kept (q98)") {
    val s = spark
    import s.implicits._
    val storeText = (1 to 20).map(i => s"store token s$i").mkString(" ")
    val docs = Seq(
      (1L, storeText),                                          // store
      (2L, (1 to 20).map(i => s"other token o$i").mkString(" ")), // store
      (13L, storeText.toUpperCase),     // NEW: exact dup modulo normalize
      (23L, storeText + " tail tweak"), // NEW: near dup (most 8-grams shared)
      (33L, (1 to 20).map(i => s"fresh token f$i").mkString(" "))) // NEW: novel
      .toDF("doc_id", "text")
    val r = graft.dedup.Dedup.incrementalIngestGate(
        docs, "doc_id", "text", isNew = col("doc_id") >= 10)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Boolean]("exact_dup"), x.getAs[Boolean]("drop_doc"))).toMap
    r.keySet shouldBe Set(13L, 23L, 33L) // only the new batch is gated
    r(13L) shouldBe ((true, true))
    r(23L)._1 shouldBe false // not byte-identical
    r(23L)._2 shouldBe true  // but >= half its 8-grams exist in the store
    r(33L) shouldBe ((false, false))
  }

  test("incremental ingest gate: null text normalizes to \"\" (r9 ADVICE — engine parity)") {
    val s = spark
    import s.implicits._
    // null-text docs must behave exactly like empty-text docs: sig =
    // md5(""), n_grams = 0 (NOT size(null) = -1), and a new null-text doc
    // is an exact dup of a stored empty/null-text doc — the convention a
    // SQL oracle reproduces with coalesce(text, '')
    val docs = Seq[(Long, String)](
      (1L, null),                // store, null text
      (13L, null),               // NEW: null text — exact dup of 1 under ""
      (23L, ""),                 // NEW: empty text — same signature class
      (33L, (1 to 20).map(i => s"live token l$i").mkString(" "))) // NEW: novel
      .toDF("doc_id", "text")
    val r = graft.dedup.Dedup.incrementalIngestGate(
        docs, "doc_id", "text", isNew = col("doc_id") >= 10)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Boolean]("exact_dup"), x.getAs[Long]("n_grams"),
         x.getAs[Boolean]("drop_doc"))).toMap
    r(13L) shouldBe ((true, 0L, true))  // null ≡ "" ≡ stored null
    r(23L) shouldBe ((true, 0L, true))  // "" shares the md5("") signature
    r(33L) shouldBe ((false, 53L, false)) // novel: 60 tokens → 53 grams, kept
  }

  test("MinHash-LSH finds every true near-dup pair (recall vs brute force)") {
    val docs = Tables.load(spark, dir, "documents")
    val sh = Dedup.shingled(docs, "doc_id", "text").cache()
    // brute-force ground truth (only viable at test scale)
    val truth = Dedup.jaccardOfPairs(
      sh.select(col("doc_id").as("doc_a")).crossJoin(sh.select(col("doc_id").as("doc_b")))
        .filter(col("doc_a") < col("doc_b")), sh)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth should not be empty // the generator plants near-dups
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh shouldBe truth // LSH (16 bands × 4 rows) recalls all ≥0.5 pairs here,
    //                    and the exact-verify stage removes false positives
  }

  test("minhash near-dups: dup-heavy corpus takes the collapse tier and matches brute (r12)") {
    // 3-way replicate under shifted ids: every shingle set has 3 exact
    // copies, tripping the 1.25 collapse gate NATURALLY — the pair set
    // (within-group 1.0-Jaccard pairs included) must equal brute truth
    val base = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val docs = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _).localCheckpoint()
    val sh = Dedup.shingled(docs, "doc_id", "text").cache()
    val truth = Dedup.jaccardOfPairs(
      sh.select(col("doc_id").as("doc_a")).crossJoin(sh.select(col("doc_id").as("doc_b")))
        .filter(col("doc_a") < col("doc_b")), sh)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    sh.unpersist(blocking = false)
    graft.util.BlockRelease.release(docs)
    truth should not be empty
    lsh shouldBe truth
  }

  test("exact dedup groups: one group per normalized text") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exactDuplicateGroups(docs, "doc_id", "text").collect()
    out.length shouldBe 2
    out.find(_.getLong(1) == 2L).get.getLong(2) shouldBe 1L // canonical = min id
  }

  test("SimHash pigeonhole banding finds planted near-identical docs") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("token7", "tokenX")), // one-token change → tiny hamming
      (3L, (100 to 140).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
    pairs should not contain ((2L, 3L))
  }

  test("ngram jaccard: dup-heavy corpus takes the collapse tier and matches the direct tier (r12)") {
    // 3-way replicate under shifted ids: identical (source, shingle set)
    // triples trip the 1.25 gate NATURALLY; (pair, jaccard) rows must
    // equal a same-scope brute twin — the exact Jaccard of every scoped
    // pair, the relation the direct tier computes — within-group
    // 1.0-Jaccard pairs included
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val docs = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text"), col("source")))
      .reduce(_ unionByName _).localCheckpoint()
    val sh = Dedup.shingledHashes(docs, "doc_id", "text", keep = Seq("source"))
      .cache()
    val scoped = sh.select(col("doc_id").as("doc_a"), col("source").as("sa"))
      .crossJoin(sh.select(col("doc_id").as("doc_b"), col("source").as("sb")))
      .filter(col("doc_a") < col("doc_b") && col("sa") === col("sb"))
      .select("doc_a", "doc_b")
    val truth = Dedup.jaccardOfPairs(scoped, sh)
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val collapsed = Dedup.ngramJaccardNearDups(docs, "doc_id", "text",
        scopeCol = "source", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sh.unpersist(blocking = false)
    graft.util.BlockRelease.release(docs)
    truth should not be empty
    truth.exists(_._3 == 1.0) shouldBe true // within-group pairs present
    collapsed shouldBe truth
  }

  test("shingle-cosine verify: dup-heavy corpus takes the doc-level collapse tier and matches (r12)") {
    // 3-way replicate: identical (source, text) docs trip the 1.25 gate
    // NATURALLY; (pair, cos) rows must equal a brute twin — every
    // same-source pair sharing a shingle, verified by the rounded md5Embed
    // cosine — within-group cos-1.0 pairs included
    import graft.functions.TextFunctions.md5Embed
    import graft.functions.VectorFunctions
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val docs = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text"), col("source")))
      .reduce(_ unionByName _).localCheckpoint()
    val emb = Dedup.shingledHashes(docs, "doc_id", "text", keep = Seq("source"))
      .join(docs.select(col("doc_id"), md5Embed(col("text")).as("v")), "doc_id")
      .withColumn("n2", VectorFunctions.normSq(col("v")))
      .localCheckpoint()
    val truth = emb.as("a").join(emb.as("b"),
        col("a.doc_id") < col("b.doc_id") && col("a.source") === col("b.source") &&
          arrays_overlap(col("a.shingles"), col("b.shingles")) &&
          col("a.n2") > 0 && col("b.n2") > 0)
      .select(col("a.doc_id"), col("b.doc_id"),
        round(VectorFunctions.dot(col("a.v"), col("b.v")) /
          sqrt(col("a.n2") * col("b.n2")), 4).as("cos"))
      .filter(col("cos") >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val collapsed = Dedup.shingleCosineVerify(docs, "doc_id", "text",
        scopeCol = "source", tauCos = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.util.BlockRelease.release(Seq(emb, docs))
    truth should not be empty
    truth.exists(_._3 == 1.0) shouldBe true // within-group pairs present
    collapsed shouldBe truth
  }

  test("decontamination: planted 8-gram overlap flagged, 7-gram overlap is not") {
    val s = spark
    import s.implicits._
    val run8 = (1 to 8).map(i => s"leak$i").mkString(" ")
    val run7 = (1 to 7).map(i => s"part$i").mkString(" ")
    val docs = Seq(
      (0L, s"benchmark question alpha $run8 beta gamma delta epsilon"),
      (1L, s"training doc containing $run8 verbatim and more words here"),
      (2L, s"training doc containing only $run7 so it stays clean words"),
      (3L, "completely unrelated training document with its own tokens kept"),
      (4L, "short doc")).toDF("doc_id", "text")
    val out = Dedup.flagContaminated(docs, "doc_id", "text",
        isBench = $"doc_id" === 0L, n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    out.keySet shouldBe Set(1L, 2L, 3L, 4L) // benchmark doc excluded
    out(1L)._2 shouldBe true
    out(1L)._1 shouldBe 1L // exactly the one shared 8-gram
    out(2L) shouldBe ((0L, false)) // 7-token run is below the shingle width
    out(3L) shouldBe ((0L, false))
    out(4L) shouldBe ((0L, false)) // < 8 tokens: no shingles at all
  }

  test("PII redaction: planted email/IP/phone replaced, counts exact, clean text untouched") {
    val s = spark
    import s.implicits._
    import graft.functions.TextFunctions._
    val docs = Seq(
      (1L, "reach me at jane.doe+x@sub.example.org or 192.168.001.1 now"),
      (2L, "call +123 456-7890 no wait 555-042-1234 that dash style"),
      (3L, "nothing sensitive here at all")).toDF("id", "t")
    val out = docs.select($"id", redactPii($"t").as("r"),
        piiCount($"t", EmailRe).as("e"), piiCount($"t", Ipv4Re).as("ip"),
        piiCount($"t", PhoneRe).as("p"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    out(1L)._1 shouldBe "reach me at <EMAIL> or <IP> now"
    out(1L)._2 shouldBe 1
    out(1L)._3 shouldBe 1
    // the pattern allows mixed separators, so "+123 456-7890" is
    // phone-shaped too (digits split 3/3/4 by [- ])
    out(2L)._1 shouldBe "call <PHONE> no wait <PHONE> that dash style"
    out(2L)._4 shouldBe 2
    out(3L)._1 shouldBe "nothing sensitive here at all"
    out(3L) shouldBe (("nothing sensitive here at all", 0, 0, 0))
  }

  test("md5-SimHash tier: planted pair found, pigeonhole candidates complete vs brute Hamming") {
    // unit-level redundancy for the q35 oracle: the md5 tier must (a)
    // find the planted near-identical pair, and (b) return EXACTLY the
    // (pair, distance) rows a brute all-pairs Hamming over its own
    // fingerprints would — pigeonhole banding is complete for the
    // distance bound, so any difference is a banding bug. Second input:
    // a 3-way replicated corpus, whose exact copies sit at distance 0.
    val s = spark
    import s.implicits._
    def banded(docs: org.apache.spark.sql.DataFrame, maxDist: Int) =
      Dedup.simhashNearDupsMd5(docs, "doc_id", "text", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def brute(docs: org.apache.spark.sql.DataFrame, maxDist: Int) = {
      val fp = Dedup.simhashMd5Fp(docs, "doc_id", "text").localCheckpoint()
      val out = fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          (bit_count(col("a.fp_lo").bitwiseXOR(col("b.fp_lo"))) +
            bit_count(col("a.fp_hi").bitwiseXOR(col("b.fp_hi")))).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(_._3 <= maxDist).toSet
      graft.util.BlockRelease.release(fp)
      out
    }
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val planted = Seq(
      (1L, base),
      (2L, base.replace("token7", "tokenX")),
      (3L, (100 to 140).map(i => s"zz$i").mkString(" ")),
      (4L, (200 to 230).map(i => s"qq$i").mkString(" "))).toDF("doc_id", "text")
    val p = banded(planted, 7)
    p.map(x => (x._1, x._2)) should contain((1L, 2L))
    p shouldBe brute(planted, 7)
    val corpus = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val replicated = (0 until 3).map(i => corpus.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _).localCheckpoint()
    val r = banded(replicated, 3)
    r.exists(_._3 == 0L) shouldBe true
    r shouldBe brute(replicated, 3)
    graft.util.BlockRelease.release(replicated)
  }

  test("rational-threshold exact tier: cos = 0.9 boundary decided exactly, LSH == brute at both SFs") {
    val s = spark
    import s.implicits._
    // hand-built integer vectors around the τ = 9/10 boundary:
    //   (1,1,1,1)·(4,2,2,1) = 9, |a|² = 4, |b|² = 25 → cos = 9/√100 = 0.9
    //   EXACTLY — must be INCLUDED (≥); a float verify can land either
    //   side of this after normalize+dot rounding, the integer predicate
    //   cannot. (1,2,3,4) (cos ≈ 0.9129) in, (1,2,3,5) (≈ 0.8812) out.
    val fixture = Seq(
      (1L, Seq(1.0, 1.0, 1.0, 1.0)),
      (2L, Seq(4.0, 2.0, 2.0, 1.0)), // boundary-exact with 1
      (3L, Seq(1.0, 2.0, 3.0, 4.0)), // just above τ with 1
      (4L, Seq(1.0, 2.0, 3.0, 5.0)), // just below τ with 1
      (5L, Seq(0.0, 0.0, 0.0, 0.0))  // zero vector: no cosine, excluded
    ).toDF("doc_id", "v")
    val pairs = Dedup.cosineNearDupsBruteExact(fixture, "doc_id", "v", 9, 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L)) // the boundary-exact pair
    pairs should contain((1L, 3L))
    pairs should not contain ((1L, 4L))
    pairs.flatMap(p => Seq(p._1, p._2)) should not contain 5L
    // and the q24 contract itself: the 96-table banded tier reproduces the
    // brute pair set EXACTLY (not ≈) on the real testdata at both spec SFs
    import graft.functions.TextFunctions.md5Embed
    for (d <- Seq(dir, "/root/testdata/sf0.01")) {
      val docs = Tables.load(spark, d, "documents")
        .select(col("doc_id"), md5Embed(col("text")).as("v")).localCheckpoint()
      val truth = Dedup.cosineNearDupsBruteExact(docs, "doc_id", "v", 9, 10)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      truth should not be empty
      val lsh = Dedup.cosineNearDupsExact(docs, "doc_id", "v", 9, 10, tables = 96, dim = 16)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.util.BlockRelease.release(docs)
      lsh shouldBe truth
    }
  }

  test("exact tier: dup-heavy corpus takes the collapse tier and matches brute (r12)") {
    import graft.functions.TextFunctions.md5Embed
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5Embed(col("text")).as("v"))
    // 3-way replicate under shifted ids: every vector has 3 exact copies,
    // so the probe's members/distinct ≈ 3 trips the 1.25 collapse gate
    // NATURALLY (no override) — and the pair set, within-group pairs
    // included, must equal the all-pairs brute twin's
    val docs = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("v")))
      .reduce(_ unionByName _).localCheckpoint()
    val truth = Dedup.cosineNearDupsBruteExact(docs, "doc_id", "v", 9, 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.cosineNearDupsExact(docs, "doc_id", "v", 9, 10, tables = 96, dim = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.util.BlockRelease.release(docs)
    truth should not be empty
    lsh shouldBe truth
  }

  test("cosineNearDupGroups == components of the pair tier; zero vectors group by exact equality only") {
    import graft.functions.TextFunctions.md5Embed
    val s2 = spark
    import s2.implicits._
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5Embed(col("text")).as("v"))
      .limit(80)
    // multiplicity 4 (trips the collapse regime the operator exists
    // for) + two identical zero-vector docs and one lone zero
    val zeros = Seq(
      (900001L, Seq.fill(16)(0.0)), (900002L, Seq.fill(16)(0.0)))
      .toDF("doc_id", "v")
    val docs = (0 until 4).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("v")))
      .reduce(_ unionByName _)
      .unionByName(zeros)
      .localCheckpoint()
    val groups = Dedup
      .cosineNearDupGroups(docs, "doc_id", "v", 9, 10, tables = 96, dim = 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    // expected: union-find over the PAIR tier's output plus the
    // exact-dup relation (identical vectors), canon = component min
    val pairs = Dedup
      .cosineNearDupsExact(docs, "doc_id", "v", 9, 10, tables = 96, dim = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val sameVec = docs.select(col("doc_id"),
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("v"))).as("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val uf = new graft.util.UnionFind.Longs
    pairs.foreach { case (a, b) => uf.union(a, b) }
    sameVec.foreach { case (a, g) => uf.union(a, g) }
    val byRoot = ids.groupBy(uf.find)
    val expected = byRoot.values.flatMap { members =>
      val canon = members.min
      members.map(m => m -> (canon, members.length.toLong))
    }.toMap
    groups shouldBe expected
    cosineTiersAgree(docs) shouldBe groups
    // the zero twins share a group; no zero ever links to a nonzero doc
    groups(900001L)._1 shouldBe groups(900002L)._1
    groups(900001L)._2 shouldBe 2L
    // dup-heavy corpus: groups are real (multiplicity >= 4 somewhere)
    groups.values.map(_._2).max should be >= 4L
    graft.util.BlockRelease.release(docs)
  }

  /** Pin a `*NearDupGroups` output against a driver union-find over the
    * PAIR form's own output (the q110 discipline applied to the text
    * kernels): the group form must equal components-of-pairs exactly —
    * canon = component min, singletons self-canonical, sizes total. */
  private def expectGroupsEqualPairs(
      groups: Map[Long, (Long, Long)],
      pairs: Array[(Long, Long)], ids: Array[Long]): Unit = {
    val uf = new graft.util.UnionFind.Longs
    pairs.foreach { case (a, b) => uf.union(a, b) }
    val expected = ids.groupBy(uf.find).values.flatMap { members =>
      val canon = members.min
      members.map(m => m -> (canon, members.length.toLong))
    }.toMap
    groups shouldBe expected
  }

  private def groupMap(df: DataFrame): Map[Long, (Long, Long)] =
    df.select("doc_id", "canon_id", "group_size").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  private val DriverBound = 2000000L

  /** `form` under the collect gate `bound` (0 forces the distributed tier). */
  private def at[T](bound: Long)(form: => T): T =
    graft.util.SizeGate.withCollectThreshold(bound)(form)

  private def minhashForm(docs: DataFrame, threshold: Double = 0.5) =
    Dedup.minhashNearDupGroups(docs, "doc_id", "text", threshold, 64, 16)

  /** q110's configuration: 9/10, 96 tables, 16 dims. */
  private def cosineForm(vecs: DataFrame, tables: Int = 96) =
    Dedup.cosineNearDupGroups(vecs, "doc_id", "v", 9, 10, 12, tables, 16)

  /** The MinHash group form's two tiers on `docs` (threshold 0.5): the
    * default bound takes the driver tier, bound 0 the distributed one,
    * and both give the same groups, which are returned. */
  private def minhashTiersAgree(docs: DataFrame): Map[Long, (Long, Long)] = {
    val local = at(DriverBound)(minhashForm(docs))
    val dist = at(0L)(minhashForm(docs))
    isLocal(local) shouldBe true
    isLocal(dist) shouldBe false
    val g = groupMap(local)
    groupMap(dist) shouldBe g
    graft.util.BlockRelease.release(dist)
    g
  }

  /** [[minhashTiersAgree]] for the cosine group form. */
  private def cosineTiersAgree(vecs: DataFrame): Map[Long, (Long, Long)] = {
    val local = at(DriverBound)(cosineForm(vecs))
    val dist = at(0L)(cosineForm(vecs))
    isLocal(local) shouldBe true
    isLocal(dist) shouldBe false
    val g = groupMap(local)
    groupMap(dist) shouldBe g
    graft.util.BlockRelease.release(dist)
    g
  }

  test("pair-amplification guard: multiplicity 30 crosses the measured ceiling, 2 does not") {
    // amplification = sum C(k,2) / members = (k-1)/2 for uniform groups;
    // the r13 k-cells place the pair form's ceiling between multiplicity
    // 10 and 30 (BENCH_LOCAL_r13.md §7), so the guard threshold (10) must
    // separate those decades: k=30 -> 14.5 warns, k=2 -> 0.5 stays quiet
    val m30 = spark.range(300).select((col("id") % 10).as("gid"))
    Dedup.pairAmplification(m30, "gid") shouldBe 14.5 +- 1e-9
    (Dedup.pairAmplification(m30, "gid") >
      Dedup.PairAmplificationWarnAt) shouldBe true
    val m2 = spark.range(100).select((col("id") % 50).as("gid"))
    Dedup.pairAmplification(m2, "gid") shouldBe 0.5 +- 1e-9
    (Dedup.pairAmplification(m2, "gid") >
      Dedup.PairAmplificationWarnAt) shouldBe false
    // degenerate: empty corpus probes 0 without dividing by zero
    Dedup.pairAmplification(m30.limit(0), "gid") shouldBe 0.0
  }

  test("minhashNearDupGroups == components of the pair form on a dup-heavy corpus") {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(80)
    // multiplicity 3: identical texts share a shingle list, tripping the
    // gid collapse the group form is built around
    val docs = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _).localCheckpoint()
    val groups = Dedup.minhashNearDupGroups(docs, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    expectGroupsEqualPairs(groups, pairs, ids)
    groups.values.map(_._2).max should be >= 3L
    minhashTiersAgree(docs) shouldBe groups
    graft.util.BlockRelease.release(docs)
  }

  test("simhashNearDupGroupsMd5 == components of the pair form (exact pigeonhole, no recall pin)") {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(80)
    val docs = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _).localCheckpoint()
    val groups = Dedup.simhashNearDupGroupsMd5(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pairs = Dedup.simhashNearDupsMd5(docs, "doc_id", "text", 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    expectGroupsEqualPairs(groups, pairs, ids)
    groups.values.map(_._2).max should be >= 3L
    graft.util.BlockRelease.release(docs)
  }

  test("shingleCosineGroups == components of the pair form (per-text eligibility inherited)") {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).limit(80)
    val docs = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        col("text"), col("source")))
      .reduce(_ unionByName _).localCheckpoint()
    val groups = Dedup
      .shingleCosineGroups(docs, "doc_id", "text", "source", 0.6, 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pairs = Dedup
      .shingleCosineVerify(docs, "doc_id", "text", "source", 0.6, 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    expectGroupsEqualPairs(groups, pairs, ids)
    groups.values.map(_._2).max should be >= 3L
    graft.util.BlockRelease.release(docs)
  }

  test("jaccardNearDupGroups == components of the scoped pair form; groups never cross scopes") {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).limit(80)
    val docs = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        col("text"), col("source")))
      .reduce(_ unionByName _).localCheckpoint()
    val groups = Dedup
      .jaccardNearDupGroups(docs, "doc_id", "text", "source", 0.5, 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pairs = Dedup
      .ngramJaccardNearDups(docs, "doc_id", "text", "source", 0.5, 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    expectGroupsEqualPairs(groups, pairs, ids)
    groups.values.map(_._2).max should be >= 3L
    // scope isolation: every member of a group shares the canon's source
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    groups.foreach { case (id, (canon, _)) =>
      srcOf(id) shouldBe srcOf(canon)
    }
    graft.util.BlockRelease.release(docs)
  }

  test("gidByContent == content-window min-id, incl. null-content grouping (r15)") {
    val s2 = spark
    import s2.implicits._
    // a hot key ("" x 40), a medium key, singletons, and nulls — the
    // hash-keyed groupBy+min must reproduce the window's grouping
    // exactly (nulls group together, like a window partition key)
    val rows = (1L to 40L).map(i => (i, "")) ++
      (41L to 50L).map(i => (i, "dup dup dup")) ++
      Seq((51L, "alone"), (52L, "solo")) ++
      (53L to 55L).map(i => (i, null.asInstanceOf[String]))
    val frame = rows.toDF("id", "text").repartition(8).localCheckpoint()
    val (withGid, gidScratch) = Dedup.gidByContent(frame, Seq("text"))
    val got = withGid.select("id", "gid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = frame.select(col("id"),
        min(col("id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("text"))).as("gid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe expected
    got(1L) shouldBe 1L; got(40L) shouldBe 1L // hot key collapsed
    got(53L) shouldBe 53L; got(55L) shouldBe 53L // nulls group together
    withGid.columns should not contain ("_gh1")
    graft.util.BlockRelease.release(frame +: gidScratch)
  }

  test("gidByContent: null LAYOUT is part of the key for same-typed columns (r15)") {
    val s2 = spark
    import s2.implicits._
    // xxhash64 SKIPS null inputs, so without the null-pattern signature
    // (scope="x", text=null) and (scope=null, text="x") would feed the
    // hash chain identical bytes in ALL three seeded hashes — a
    // structural silent merge a content-partitioned window never had.
    val rows = Seq(
      (1L, "x", null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String], "x"),
      (3L, "x", null.asInstanceOf[String]),
      (4L, "x", "x"))
    val frame = rows.toDF("id", "scope", "text").repartition(4)
      .localCheckpoint()
    val (withGid, gidScratch) =
      Dedup.gidByContent(frame, Seq("scope", "text"))
    val got = withGid.select("id", "gid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got(1L) shouldBe 1L
    got(3L) shouldBe 1L // exact twins (incl. null layout) share a gid
    got(2L) shouldBe 2L // swapped null layout must NOT merge with 1
    got(4L) shouldBe 4L
    graft.util.BlockRelease.release(frame +: gidScratch)
  }

  test("group forms: degenerate hot content — contracts hold at multiplicity (r15)") {
    import graft.functions.TextFunctions.md5Embed
    val s2 = spark
    import s2.implicits._
    // degenerate hot content a crawl corpus carries by the million:
    // whitespace-only and empty texts, < n-token boilerplate, null texts
    // and zero vectors. WordShingleHashes (all three shingle kernels)
    // and the md5 tokenizers (md5Embed, the md5 SimHash) see whitespace-
    // only and empty text as ONE empty token, so those twins
    // legitimately pair (jaccard / cos == 1, Hamming 0) and must come
    // back as ONE group — collapsed map-side by the hash-keyed gid
    // stage, never a single hot window task; null text has no shingles,
    // no fingerprint and a null embedding, and the text forms must keep
    // it as a singleton (the pair forms emit nothing for it).
    // Components-of-pairs is the master pin; every form must also be
    // TOTAL: each input id exactly once, group_size = its canon's count.
    val realBase = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).limit(30)
    val degenerate = ((1000001L to 1000020L).map(i => (i, "   ", "web")) ++
      (1000021L to 1000040L).map(i => (i, "404 error", "web")) ++
      (1000041L to 1000045L).map(i => (i, null.asInstanceOf[String], "web")) ++
      (1000046L to 1000050L).map(i => (i, "", "web")))
      .toDF("doc_id", "text", "source")
    val docs = realBase.unionByName(degenerate).localCheckpoint()
    val ids = docs.select("doc_id").collect().map(_.getLong(0))

    def total(out: org.apache.spark.sql.DataFrame,
        expectedIds: Array[Long]): Map[Long, (Long, Long)] = {
      val rows = out.select("doc_id", "canon_id", "group_size").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      rows.map(_._1).sorted shouldBe expectedIds.sorted
      val canonCount = rows.groupBy(_._2).map { case (c, m) => c -> m.length.toLong }
      rows.foreach { case (_, canon, size) => size shouldBe canonCount(canon) }
      rows.map(r => r._1 -> (r._2, r._3)).toMap
    }
    def pairsOf(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1)))
    def check(groups: Map[Long, (Long, Long)],
        pairs: Array[(Long, Long)]): Unit =
      expectGroupsEqualPairs(groups, pairs, ids)
    val nulls = 1000041L to 1000045L

    val mh = total(Dedup.minhashNearDupGroups(docs, "doc_id", "text", 0.5), ids)
    check(mh, pairsOf(Dedup.minhashNearDups(docs, "doc_id", "text", 0.5),
      "doc_a", "doc_b"))
    mh(1000001L) shouldBe ((1000001L, 25L)) // whitespace + empty twins: one group
    mh(1000021L) shouldBe ((1000021L, 20L)) // boilerplate twins: one group
    nulls.foreach(i => mh(i) shouldBe ((i, 1L)))
    minhashTiersAgree(docs) shouldBe mh

    val jc = total(Dedup
      .jaccardNearDupGroups(docs, "doc_id", "text", "source", 0.5, 3), ids)
    check(jc, pairsOf(
      Dedup.ngramJaccardNearDups(docs, "doc_id", "text", "source", 0.5, 3),
      "doc_a", "doc_b"))
    jc(1000001L) shouldBe ((1000001L, 25L))
    nulls.foreach(i => jc(i) shouldBe ((i, 1L)))

    val sc = total(Dedup
      .shingleCosineGroups(docs, "doc_id", "text", "source", 0.6, 3), ids)
    check(sc, pairsOf(
      Dedup.shingleCosineVerify(docs, "doc_id", "text", "source", 0.6, 3),
      "doc_a", "doc_b"))
    sc(1000001L) shouldBe ((1000001L, 25L)) // whitespace + empty twins: one group
    sc(1000021L) shouldBe ((1000021L, 20L)) // boilerplate twins: one group
    nulls.foreach(i => sc(i) shouldBe ((i, 1L)))

    val sh = total(Dedup.simhashNearDupGroupsMd5(docs, "doc_id", "text", 3), ids)
    check(sh, pairsOf(Dedup.simhashNearDupsMd5(docs, "doc_id", "text", 3),
      "doc_a", "doc_b"))
    nulls.foreach(i => sh(i) shouldBe ((i, 1L))) // no tokens, no fingerprint

    // the embedding form: null text embeds to a null vector, plus three
    // zero vectors; both group by exact equality only and never pair
    val zeros = (1000051L to 1000053L).map(i => (i, Seq.fill(16)(0.0)))
      .toDF("doc_id", "v")
    val vecs = docs.select(col("doc_id"), md5Embed(col("text")).as("v"))
      .unionByName(zeros).localCheckpoint()
    val vecIds = ids ++ zeros.select("doc_id").collect().map(_.getLong(0))
    val cg = total(Dedup
      .cosineNearDupGroups(vecs, "doc_id", "v", 9, 10, tables = 96, dim = 16),
      vecIds)
    val sameVec = vecs.select(col("doc_id"),
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("v"))).as("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    expectGroupsEqualPairs(cg, pairsOf(Dedup
        .cosineNearDupsExact(vecs, "doc_id", "v", 9, 10, tables = 96, dim = 16),
        "id_a", "id_b") ++ sameVec, vecIds)
    nulls.foreach(i => cg(i) shouldBe ((1000041L, 5L)))
    (1000051L to 1000053L).foreach(i => cg(i) shouldBe ((1000051L, 3L)))
    cosineTiersAgree(vecs) shouldBe cg
    graft.util.BlockRelease.release(Seq(docs, vecs))
  }

  test("pair-amplification guard projects over ELIGIBLE members only (r15 ADVICE)") {
    // 290 pair-ineligible docs share the empty-content gid (the shape
    // that inflated the r14 projection) + 10 eligible docs in
    // multiplicity-2 groups: the guard's filtered projection must stay
    // below the threshold where the unfiltered one fired spuriously
    val m = spark.range(300).select(
      when(col("id") < 290, lit(0L)).otherwise(lit(290L) + (col("id") % 5))
        .as("gid"),
      (col("id") >= 290).as("eligible"))
    (Dedup.pairAmplification(m, "gid") >
      Dedup.PairAmplificationWarnAt) shouldBe true // the r14 overcount
    val filtered = Dedup.pairAmplification(m.filter(col("eligible")), "gid")
    filtered shouldBe 0.5 +- 1e-9
    (filtered > Dedup.PairAmplificationWarnAt) shouldBe false
  }

  test("all five group forms equal their pair forms: noised, hot-bucket, templated") {
    import graft.functions.TextFunctions.md5Embed
    val s2 = spark
    import s2.implicits._
    // suffix-NOISED replicas: texts DISTINCT (the exact-dup gid stage
    // cannot collapse them) but near-identical — near-dup-DENSE rep
    // buckets; outputs must equal components over the pair forms' own
    // output, which is pinned against brute truth elsewhere in this suite.
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("source")).limit(40)
    val noised = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" nearvar$i")).as("text"),
        col("source")))
      .reduce(_ unionByName _).localCheckpoint()
    // Mixed hot-bucket corpus with SPREAD sizes (r17): every doc shares
    // the word "x" (ONE hot posting bucket), and docs (2j, 2j+1) are
    // private near-pairs of growing size L = 2+j — word-set Jaccard
    // L/(L+2) ≥ 0.5, cross-pairs share only "x" (J ≈ 1/sizes < 0.5):
    // the hot bucket's min-id member fails against almost everyone.
    val spread = (0 until 20).flatMap { j =>
      val L = 2 + j
      val a = (1 to L).map(i => s"a${j}_$i")
      Seq((2L * j, ("x" +: a).mkString(" "), "s"),
        (2L * j + 1,
          ("x" +: (a.dropRight(1) :+ s"b$j")).mkString(" "), "s"))
    }.toDF("doc_id", "text", "source").localCheckpoint()
    // Templated text + a variant token (the simband cell's shape, mini):
    // 64 template tokens leave ~6 of the 64 SimHash bit-sums at ±1
    // (flippable by one variant token), so distinct fingerprints share
    // template-dominated chunks — dense buckets, MIXED pass/fail at
    // maxDist 3
    val tpl = (1 to 64).map(i => s"boiler token t$i").mkString(" ")
    val templated = (0 until 80).map(i => (i.toLong, s"$tpl u${i % 16}", "s"))
      .toDF("doc_id", "text", "source").localCheckpoint()
    def groupsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def pairsOf(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1)))
    def allFive(docs: org.apache.spark.sql.DataFrame, shingleN: Int): Unit = {
      val ids = docs.select("doc_id").collect().map(_.getLong(0))
      expectGroupsEqualPairs(
        groupsOf(Dedup.minhashNearDupGroups(docs, "doc_id", "text", 0.5)),
        pairsOf(Dedup.minhashNearDups(docs, "doc_id", "text", 0.5),
          "doc_a", "doc_b"), ids)
      expectGroupsEqualPairs(
        groupsOf(Dedup.jaccardNearDupGroups(
          docs, "doc_id", "text", "source", 0.5, shingleN)),
        pairsOf(Dedup.ngramJaccardNearDups(
          docs, "doc_id", "text", "source", 0.5, shingleN),
          "doc_a", "doc_b"), ids)
      expectGroupsEqualPairs(
        groupsOf(Dedup.shingleCosineGroups(
          docs, "doc_id", "text", "source", 0.6, 3)),
        pairsOf(Dedup.shingleCosineVerify(
          docs, "doc_id", "text", "source", 0.6, 3), "doc_a", "doc_b"), ids)
      expectGroupsEqualPairs(
        groupsOf(Dedup.simhashNearDupGroupsMd5(docs, "doc_id", "text", 3)),
        pairsOf(Dedup.simhashNearDupsMd5(docs, "doc_id", "text", 3),
          "doc_a", "doc_b"), ids)
      val vecs = docs.select(col("doc_id"), md5Embed(col("text")).as("v"))
        .localCheckpoint()
      expectGroupsEqualPairs(
        groupsOf(Dedup.cosineNearDupGroups(
          vecs, "doc_id", "v", 9, 10, tables = 96, dim = 16)),
        pairsOf(Dedup.cosineNearDupsExact(
          vecs, "doc_id", "v", 9, 10, tables = 96, dim = 16),
          "id_a", "id_b"), ids)
      minhashTiersAgree(docs)
      cosineTiersAgree(vecs)
      graft.util.BlockRelease.release(vecs)
    }
    allFive(noised, 3)
    allFive(spread, 1)
    allFive(templated, 3)
    graft.util.BlockRelease.release(Seq(noised, spread, templated))
  }

  test("group form: a chain linked only by a non-min-id pair stays one component") {
    val s2 = spark
    import s2.implicits._
    // n = 1 shingles = the words themselves, so Jaccard is word-set
    // Jaccard. A = {w1..w4, x}, C = {w5..w8, x}, B = {w1..w8, x},
    // D = {w5..w8, y1..y12}:
    //   J(A,B) = J(B,C) = 5/9 ≥ 0.5;  J(A,C) = 1/9 < 0.5;
    //   J(D,C) = 4/17 < 0.5;  J(D,B) = 4/21 < 0.5.
    // Bucket "x" = {A,C,B} with min id A: (A,C) fails, (A,B) passes.
    // Buckets w5..w8 = {D,C,B} with min id D: both (D,C) and (D,B)
    // fail. The edge (C,B) never involves a bucket's min-id member, yet
    // the true components are {A,B,C} + {D}: a formulation that verified
    // only min-id pairs would leave C a singleton.
    val a = (1 to 4).map(i => s"w$i").mkString(" ") + " x"
    val c = (5 to 8).map(i => s"w$i").mkString(" ") + " x"
    val b = (1 to 8).map(i => s"w$i").mkString(" ") + " x"
    val d = (5 to 8).map(i => s"w$i").mkString(" ") + " " +
      (1 to 12).map(i => s"y$i").mkString(" ")
    val docs = Seq((0L, d, "s"), (1L, a, "s"), (2L, c, "s"), (3L, b, "s"))
      .toDF("doc_id", "text", "source").localCheckpoint()
    val groups = Dedup
      .jaccardNearDupGroups(docs, "doc_id", "text", "source", 0.5, 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    groups shouldBe Map(
      0L -> (0L, 1L), 1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L))
    // and the pair form agrees (components-of-pairs)
    val pairs = Dedup
      .ngramJaccardNearDups(docs, "doc_id", "text", "source", 0.5, 1)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    expectGroupsEqualPairs(groups, pairs, Array(0L, 1L, 2L, 3L))
    graft.util.BlockRelease.release(docs)
  }

  test("group forms warn on a hot posting bucket before the join, not when dup-light") {
    val s2 = spark
    import s2.implicits._
    // 100 docs of two private words each; in the hot corpus every doc
    // also carries "x" — one posting bucket of 100 members projects
    // C(100,2) = 4,950 candidates over 300 banded rows (factor 16.5 >
    // BucketDensityWarnAt); without "x" every bucket is a singleton
    def corpus(shared: String) = (0 until 100)
      .map(i => (i.toLong, s"$shared p$i q$i".trim, "s"))
      .toDF("doc_id", "text", "source").localCheckpoint()
    def stderrOf(run: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val oldErr = System.err
      try {
        System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
        run
      } finally System.setErr(oldErr)
      buf.toString("UTF-8")
    }
    def groups(docs: org.apache.spark.sql.DataFrame): Unit = {
      val out = Dedup.jaccardNearDupGroups(
        docs, "doc_id", "text", "source", 0.5, 1)
      out.count() shouldBe 100L
      graft.util.BlockRelease.release(out)
    }
    val (hot, light) = (corpus("x"), corpus(""))
    val warned = stderrOf(groups(hot))
    warned should include (
      "WARN graft.dedup.jaccardNearDupGroups: banding buckets project")
    // ASCII only: a non-UTF-8 platform charset prints '?' for anything else
    warned.filter(_ >= 128) shouldBe empty
    (stderrOf(groups(light)) should not).include("WARN graft.dedup")
    // the pair form's collapse says so when exact-dup multiplicity 30
    // projects (30 - 1) / 2 = 14.5 member pairs per doc, past
    // PairAmplificationWarnAt: 100 groups of C(30,2) within pairs
    val replicated = (0 until 30).map(i => light.select(
        (col("doc_id") + lit(i * 1000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _).localCheckpoint()
    val amplified = stderrOf {
      val out = Dedup.minhashNearDups(replicated, "doc_id", "text")
      out.count() shouldBe 100L * 435L
      graft.util.BlockRelease.release(out)
    }
    amplified should include (
      "WARN graft.dedup.minhashNearDups: exact-dup multiplicity")
    amplified.filter(_ >= 128) shouldBe empty
    graft.util.BlockRelease.release(Seq(hot, light, replicated))
  }

  test("group forms' tiers agree at cos = 9/10, at Jaccard = 1/2 and on signed zeros") {
    val s2 = spark
    import s2.implicits._
    def vec(xs: (Int, Double)*) = (0 until 16).map(xs.toMap.getOrElse(_, 0.0))
    // (0,1,3)·(1,0,3) = 9 over |a|² = |b|² = 10: cos is exactly 9/10, so
    // the integer predicate holds with equality; (0,3,1)·(1,3,0) likewise.
    // 6 and 7 differ only in the sign of one zero and are orthogonal to
    // 1–4; 8 and 9 are the two zero vectors, which have no cosine and
    // group by content only.
    val vecs = Seq(
        1L -> vec(1 -> 1.0, 2 -> 3.0), 2L -> vec(0 -> 1.0, 2 -> 3.0),
        3L -> vec(1 -> 3.0, 2 -> 1.0), 4L -> vec(0 -> 1.0, 1 -> 3.0),
        6L -> vec(0 -> -0.0, 8 -> 5.0, 9 -> 7.0), 7L -> vec(8 -> 5.0, 9 -> 7.0),
        8L -> Seq.fill(16)(-0.0), 9L -> Seq.fill(16)(0.0))
      .toDF("doc_id", "v").localCheckpoint()
    val cg = cosineTiersAgree(vecs)
    cg(1L) shouldBe ((1L, 2L)); cg(2L) shouldBe ((1L, 2L))
    cg(3L) shouldBe ((3L, 2L)); cg(4L) shouldBe ((3L, 2L))
    cg(6L) shouldBe ((6L, 2L)); cg(7L) shouldBe ((6L, 2L))
    cg(8L)._1 shouldBe 8L
    cg(9L)._1 should (be (8L) or be (9L))
    // five "a b c d e" (3 shingles) / "a b c d e f g h" (6 shingles)
    // pairs on private vocabularies: Jaccard exactly 3/6 each
    val docs = (0 until 5).flatMap { i =>
      val w = (0 until 8).map(j => s"v${i}w$j")
      Seq((2L * i, w.take(5).mkString(" ")), (2L * i + 1, w.mkString(" ")))
    }.toDF("doc_id", "text").localCheckpoint()
    val mh = minhashTiersAgree(docs)
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b", "jaccard").collect()
    pairs should not be empty // banding caught some of the five
    pairs.foreach(_.getDouble(2) shouldBe 0.5)
    expectGroupsEqualPairs(mh, pairs.map(r => (r.getLong(0), r.getLong(1))),
      docs.select("doc_id").collect().map(_.getLong(0)))
    graft.util.BlockRelease.release(Seq(vecs, docs))
  }

  test("driver tier: a small corpus's MinHash and cosine groups run at most 3 jobs, output included") {
    import graft.functions.TextFunctions.md5Embed
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(80)
    val docs = (0 until 3).map(i => base.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _).localCheckpoint()
    val vecs = docs.select(col("doc_id"), md5Embed(col("text")).as("v"))
      .localCheckpoint()
    val sc = spark.sparkContext
    // GraphAlgoSpec's pattern: count the jobs of one job group, and wait
    // for a marker job so that every earlier job start has arrived
    def jobsOf(group: String)(run: => Unit): Int = {
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
    def materialize(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    jobsOf("minhash-groups")(materialize(
      at(DriverBound)(minhashForm(docs)))) should be <= 3
    jobsOf("cosine-groups")(materialize(
      at(DriverBound)(cosineForm(vecs)))) should be <= 3
    graft.util.BlockRelease.release(Seq(docs, vecs))
  }

  test("driver tier guards: 2^53 exactness, threshold, gid collision and density warning") {
    val s2 = spark
    import s2.implicits._
    // |v|² = 1.6e7: τ²·|v|⁴ = 100 · 2.56e14 is past 2^53 in both tiers
    val big = Seq(1L -> Seq.fill(16)(1000.0), 2L -> Seq.fill(16)(999.0))
      .toDF("doc_id", "v").localCheckpoint()
    val text = Seq(1L -> "a b c d", 2L -> "a b c e").toDF("doc_id", "text")
    for (bound <- Seq(DriverBound, 0L)) {
      val e = intercept[IllegalArgumentException](
        at(bound)(cosineForm(big, tables = 48)))
      e.getMessage should include ("exceed 2^53")
      intercept[IllegalArgumentException](
        at(bound)(minhashForm(text, threshold = 1.5)))
    }
    // the driver gid step: min id per hash pair; a third hash that
    // differs inside a pair is gidByContent's collision error
    Dedup.localGids(Array(5L, 3L, 9L, 4L),
      Array((1L, 2L, 7L), (1L, 2L, 7L), null, (1L, 3L, 7L))) shouldBe
      Array(3L, 3L, 9L, 4L)
    val collision = intercept[IllegalStateException](Dedup.localGids(
      Array(5L, 3L), Array((1L, 2L, 7L), (1L, 2L, 8L))))
    collision.getMessage should include ("128-bit content-hash collision")
    // a templated corpus packs the band buckets: both tiers print the
    // same density line for each form
    def warnings(run: => Unit): Seq[String] = {
      val buf = new java.io.ByteArrayOutputStream()
      val oldErr = System.err
      try {
        System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
        run
      } finally System.setErr(oldErr)
      buf.toString("UTF-8").linesIterator
        .filter(_.startsWith("WARN graft.dedup.")).toSeq
    }
    val tpl = (1 to 64).map(i => s"boiler token t$i").mkString(" ")
    val docs = (0 until 80).map(i => (i.toLong, s"$tpl u$i"))
      .toDF("doc_id", "text").localCheckpoint()
    val vecs = docs.select(col("doc_id"),
      graft.functions.TextFunctions.md5Embed(col("text")).as("v")).localCheckpoint()
    def both(form: Long => DataFrame, caller: String): Unit = {
      val lines = Seq(DriverBound, 0L).map(b => warnings(form(b).count()))
      lines.head should have size 1
      lines.head.head should startWith (s"WARN graft.dedup.$caller: banding buckets project")
      lines(1) shouldBe lines.head
    }
    both(b => at(b)(minhashForm(docs)), "minhashNearDupGroups")
    both(b => at(b)(cosineForm(vecs)), "cosineNearDupGroups")
    graft.util.BlockRelease.release(Seq(big, docs, vecs))
  }

  test("driver tier gate: members × bands and the reps' payload elements stay within the bound") {
    val s2 = spark
    import s2.implicits._
    // four long docs on private vocabularies: 29,998 word 3-shingles
    // each, so ~120k payload elements against 64 banded rows and at most
    // 16 · C(4,2) = 96 candidates
    val long = (0 until 4).map(i => (i.toLong,
        (0 until 30000).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text").localCheckpoint()
    def groups(bound: Long) = at(bound)(minhashForm(long))
    val fits = groups(200000L)
    isLocal(fits) shouldBe true
    val g = groupMap(fits)
    g.values.toSet shouldBe (0L until 4L).map(i => (i, 1L)).toSet
    // the payload alone is past 100k; 48 is past members × bands
    for (bound <- Seq(100000L, 48L)) {
      val over = groups(bound)
      isLocal(over) shouldBe false
      groupMap(over) shouldBe g
      graft.util.BlockRelease.release(over)
    }
    graft.util.BlockRelease.release(long)
  }

  test("null scope never pairs: scoped pair and group forms agree in the direct and collapse tiers") {
    val s2 = spark
    import s2.implicits._
    // docs 1, 2: identical text, null source; docs 3, 4: identical text,
    // source "s". With 20 distinct docs the pair forms take their direct
    // tier (24 members over 22 keys); alone, the four take the collapse
    // tier. Null never equals null in the oracles' `a.source = b.source`.
    val twin = "the quick brown fox jumps over the lazy dog"
    val other = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val probe = Seq((1L, twin, null.asInstanceOf[String]),
      (2L, twin, null.asInstanceOf[String]), (3L, other, "s"), (4L, other, "s"))
    val distinct = (5L to 24L).map(i =>
      (i, (0 until 9).map(j => s"d${i}w$j").mkString(" "), "s"))
    for (rows <- Seq(probe ++ distinct, probe)) {
      val docs = rows.toDF("doc_id", "text", "source").localCheckpoint()
      val ids = rows.map(_._1).toArray
      def pairsOf(df: DataFrame) =
        df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val jp = pairsOf(Dedup.ngramJaccardNearDups(docs, "doc_id", "text", "source", 0.5, 3))
      val cp = pairsOf(Dedup.shingleCosineVerify(docs, "doc_id", "text", "source", 0.6, 3))
      jp.toSet shouldBe Set((3L, 4L))
      cp.toSet shouldBe Set((3L, 4L))
      expectGroupsEqualPairs(groupMap(Dedup.jaccardNearDupGroups(
        docs, "doc_id", "text", "source", 0.5, 3)), jp, ids)
      expectGroupsEqualPairs(groupMap(Dedup.shingleCosineGroups(
        docs, "doc_id", "text", "source", 0.6, 3)), cp, ids)
      graft.util.BlockRelease.release(docs)
    }
  }
}
