package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.functions.{VectorFunctions => V, VectorMean}

class VectorFunctionsSpec extends SparkSpec with Matchers {

  private def df1(v: Seq[(Seq[Double], Seq[Double])]) = {
    val s = spark
    import s.implicits._
    v.toDF("a", "b")
  }

  test("cosine: orthogonal axes → 0, identical → 1, opposite → −1") {
    val rows = df1(Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0))))
      .select(V.cosine(col("a"), col("b")).as("c")).collect().map(_.getDouble(0))
    rows(0) shouldBe 0.0 +- 1e-12
    rows(1) shouldBe 1.0 +- 1e-12
    rows(2) shouldBe -1.0 +- 1e-12
  }

  test("cosine zero-norm guard → 0.0 (reference metrics_interface.py:53-55)") {
    val r = df1(Seq((Seq(0.0, 0.0), Seq(1.0, 1.0))))
      .select(V.cosine(col("a"), col("b"))).collect()(0).getDouble(0)
    r shouldBe 0.0
  }

  test("l2normalize: unit norm, idempotent, zero-vector passthrough") {
    val s = spark
    import s.implicits._
    val d = Seq(Seq(3.0, 4.0), Seq(0.0, 0.0)).toDF("v")
    val once = d.select(V.l2normalize(col("v")).as("n"))
    val norms = once.select(V.l2norm(col("n"))).collect().map(_.getDouble(0))
    norms(0) shouldBe 1.0 +- 1e-12
    norms(1) shouldBe 0.0
    val twice = once.select(V.l2normalize(col("n")).as("n2"))
      .collect()(0).getSeq[Double](0)
    twice(0) shouldBe 0.6 +- 1e-12
    twice(1) shouldBe 0.8 +- 1e-12
  }

  test("VectorMean: element-wise mean with exact expected values") {
    val s = spark
    import s.implicits._
    val d = Seq((1, Seq(1.0, 2.0)), (1, Seq(3.0, 4.0)), (2, Seq(5.0, 6.0)))
      .toDF("g", "v")
    val out = d.groupBy("g").agg(VectorMean(col("v")).as("m"))
      .orderBy("g").collect()
    out(0).getSeq[Double](1) shouldBe Seq(2.0, 3.0)
    out(1).getSeq[Double](1) shouldBe Seq(5.0, 6.0)

    // one group in row order, at 1 and at 4 partitions (parallelize keeps
    // the order and slices it contiguously)
    def meanAt(vs: Seq[Seq[Double]], parts: Int): Seq[Double] =
      spark.sparkContext.parallelize(vs, parts).toDF("v")
        .agg(VectorMean(col("v"))).head().getSeq[Double](0)
    def lengthError(vs: Seq[Seq[Double]], parts: Int): String = {
      val e = intercept[Exception](meanAt(vs, parts))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case x: IllegalArgumentException => x.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in $e"))
    }
    val layouts = Seq(1, 4)
    // mixed lengths fail alike in every layout and row order; [] counts
    // as length 0
    layouts.map(lengthError(Seq(Nil, Nil, Seq(1.0, 3.0), Seq(3.0, 5.0)), _))
      .distinct shouldBe Seq("graft: VectorMean over vectors of lengths 0 and 2 in one group")
    layouts.flatMap(p => Seq(
      lengthError(Seq(Seq(1.0, 1.0, 1.0), Seq(2.0, 2.0)), p),
      lengthError(Seq(Seq(2.0, 2.0), Seq(1.0, 1.0, 1.0)), p)))
      .distinct shouldBe Seq("graft: VectorMean over vectors of lengths 2 and 3 in one group")
    // a group of only [] averages to []
    layouts.foreach(meanAt(Seq(Nil, Nil, Nil), _) shouldBe Nil)
    // one fixed length: in one partition the sum is the row-order fold
    val rng = new scala.util.Random(7)
    val fixed = Seq.fill(9)(Seq.fill(5)(rng.nextGaussian()))
    val fold = fixed.foldLeft(Seq.fill(5)(0.0))((a, v) =>
      a.zip(v).map { case (x, y) => x + y }).map(_ / fixed.size)
    meanAt(fixed, 1).map(java.lang.Double.doubleToRawLongBits) shouldBe
      fold.map(java.lang.Double.doubleToRawLongBits)
  }

  test("CosineRationalGate ≡ composed vec_dot predicate (codegen + interpreted, boundary/negative/null/float)") {
    import graft.functions.VectorExpressions
    val s = spark
    import s.implicits._
    // the composed form the join conditions used before the fusion —
    // bit-for-bit the reference (lit(long) * double casts, left-to-right)
    def composed(tauNum: Long, tauDen: Long): org.apache.spark.sql.Column = {
      val dot = VectorExpressions.vec_dot(col("va"), col("vb"))
      dot > 0 &&
        lit(tauDen * tauDen) * dot * dot >= lit(tauNum * tauNum) * col("na2") * col("nb2")
    }
    // deterministic integer-valued fuzz (the exact tier's domain) plus
    // crafted rows: exact boundary equality (dot=4, n2=5·5, τ=4/5),
    // one-ulp-ish below the boundary, negative dot, zero dot,
    // truncation to the shorter operand
    val rng = new scala.util.Random(17)
    val fuzz = Seq.fill(1000) {
      val d = 1 + rng.nextInt(16)
      val a = Seq.fill(d)((rng.nextInt(21) - 10).toDouble)
      val b = Seq.fill(d)((rng.nextInt(21) - 10).toDouble)
      (a, b)
    }
    val crafted = Seq(
      (Seq(1.0, 2.0), Seq(2.0, 1.0)),   // boundary: cos = 4/5 exactly
      (Seq(1.0, 2.0), Seq(2.0, 0.0)),   // below: dot=2
      (Seq(-1.0, -2.0), Seq(2.0, 1.0)), // negative dot
      (Seq(1.0, -1.0), Seq(1.0, 1.0)),  // zero dot
      (Seq(1.0, 2.0, 3.0), Seq(2.0, 1.0))) // length mismatch → truncate
    val base = (fuzz ++ crafted).toDF("va", "vb")
      .select(col("va"), col("vb"),
        V.normSq(col("va")).as("na2"), V.normSq(col("vb")).as("nb2"))
    val prevCodegen = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      for (codegen <- Seq("true", "false");
           (tn, td) <- Seq((4L, 5L), (9L, 10L), (1L, 1L), (11L, 10L))) {
        spark.conf.set("spark.sql.codegen.wholeStage", codegen)
        val mismatches = base.select(
            VectorExpressions.cosine_rational_gate(col("va"), col("vb"),
              col("na2"), col("nb2"), tn, td).as("fused"),
            composed(tn, td).as("ref"))
          .filter(!(col("fused") <=> col("ref"))).count()
        withClue(s"codegen=$codegen tau=$tn/$td: ") { mismatches shouldBe 0L }
      }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prevCodegen)
    // null propagation: any null child → null (join condition = false)
    val nulls = Seq(
      (null.asInstanceOf[Seq[Double]], Seq(1.0), 0.0, 1.0),
      (Seq(1.0), null.asInstanceOf[Seq[Double]], 1.0, 1.0))
      .toDF("va", "vb", "na2", "nb2")
      .select(VectorExpressions.cosine_rational_gate(col("va"), col("vb"),
        col("na2"), col("nb2"), 9, 10).as("g")).collect()
    nulls.foreach(r => r.isNullAt(0) shouldBe true)
    // float arrays take the (double) getter path
    val fl = Seq((Seq(1.0f, 2.0f), Seq(2.0f, 1.0f)))
      .toDF("va", "vb")
      .select(VectorExpressions.cosine_rational_gate(col("va"), col("vb"),
        lit(5.0), lit(5.0), 4, 5).as("g")).collect()(0).getBoolean(0)
    fl shouldBe true
  }

  test("l2distSq exact") {
    val r = df1(Seq((Seq(1.0, 2.0), Seq(4.0, 6.0))))
      .select(V.l2distSq(col("a"), col("b"))).collect()(0).getDouble(0)
    r shouldBe 25.0
  }

  test("q74 int8 quantization: scale = max|x|, mse within the half-step bound, zero-vector safe") {
    val rows = graft.queries.VectorQueries.defs("q74_quantize")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    rows should not be empty
    rows.foreach { case (_, dim, scale, md5hex, sumSqCodes, nClipped) =>
      dim should be > 0L
      scale should be >= 0.0
      md5hex should fullyMatch regex "[0-9a-f]{32}"
      // code-space moments: Σc² ≤ dim·127², clip count ≤ dim, and a
      // nonzero scale implies at least one saturated code (the max|x|
      // element quantizes to exactly ±127)
      sumSqCodes should be <= dim * 127L * 127L
      nClipped should be <= dim
      if (scale > 0.0) nClipped should be >= 1L
    }
    // the float reconstruction-MSE left the oracled surface (rounded
    // engine-computed double — the q77 decimal-boundary class; r8) but
    // the half-step bound still holds and is asserted HERE, where it is
    // bound-checked, not hash-compared
    locally {
      val s2 = spark
      import s2.implicits._
      val vd = transform(col("embedding"), x => x.cast("double"))
      val sc = array_max(transform(vd, x => abs(x)))
      val codes = when(sc === 0.0, transform(vd, _ => lit(0L)))
        .otherwise(transform(vd, x => round(x * lit(127.0) / sc, 0).cast("long")))
      val mseRows = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(sc.as("scale"), vd.as("v"), codes.as("codes"))
        .select($"scale",
          (aggregate(
            zip_with($"v", $"codes", (x, c) => {
              val err = x - c * $"scale" / lit(127.0)
              err * err
            }), lit(0.0), (acc, t) => acc + t) /
            org.apache.spark.sql.functions.size($"v")).as("mse"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1)))
      mseRows should not be empty
      mseRows.foreach { case (scale, mse) =>
        mse should be >= 0.0
        // per-dim |err| ≤ ½·scale/127 (round-to-nearest code), so
        // mse ≤ (scale/254)²
        val bound = (scale / 254.0) * (scale / 254.0)
        mse should be <= bound + 1e-9
      }
    }
    // zero vector quantizes to scale 0, all-zero codes, zero error
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val z = Seq((0L, Seq.fill(4)(0.0f)), (1L, Seq(1.0f, -2.0f, 0.5f, 2.0f)))
      .toDF("vec_id", "embedding")
    // route the planted frame through the same expressions via a temp view
    // + the registered query's shape: recompute inline for the invariant
    val vd = org.apache.spark.sql.functions.transform(col("embedding"),
      x => x.cast("double"))
    val sc = org.apache.spark.sql.functions.array_max(
      org.apache.spark.sql.functions.transform(vd,
        x => org.apache.spark.sql.functions.abs(x)))
    val out = z.select(col("vec_id"), sc.as("scale")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out(0L) shouldBe 0.0
    out(1L) shouldBe 2.0
  }
}
