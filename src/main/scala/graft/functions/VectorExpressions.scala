package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Whole-stage-codegen vector kernels (SURVEY.md §2.11: "custom Catalyst
  * `Expression` beats a Scala UDF"): tight primitive loops over ArrayData
  * with `doGenCode`, no per-element lambda dispatch — ~10× over the
  * interpreted zip_with/aggregate composition on the all-pairs similarity
  * hot path, and they keep the surrounding operators inside one codegen
  * stage.
  *
  * Accumulation is sequential left-to-right in double precision — bit-for-bit
  * the same result the higher-order-function formulation produces, so the
  * DuckDB oracle parity is unchanged.
  */
abstract class VectorBinaryKernel extends BinaryExpression {
  override def dataType: DataType = DoubleType

  protected def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"expected float/double array, got $t")
  }

  protected def getter(isFloat: Boolean, arr: String, i: String): String =
    if (isFloat) s"(double)$arr.getFloat($i)" else s"$arr.getDouble($i)"

  protected def get(isFloat: Boolean, arr: ArrayData, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
}

/** Σ aᵢ·bᵢ (lengths truncated to the shorter operand). */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryKernel {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += get(lf, x, i) * get(rf, y, i); i += 1 }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lf = elemIsFloat(left); val rf = elemIsFloat(right)
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${getter(lf, a, i)} * ${getter(rf, b, i)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** Σ (aᵢ−bᵢ)² */
case class SqDist(left: Expression, right: Expression) extends VectorBinaryKernel {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { val d = get(lf, x, i) - get(rf, y, i); s += d * d; i += 1 }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lf = elemIsFloat(left); val rf = elemIsFloat(right)
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${getter(lf, a, i)} - ${getter(rf, b, i)};
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDist =
    copy(left = l, right = r)
  override def prettyName: String = "vec_sqdist"
}

/** All `tables` signed-random-projection signatures of a vector in ONE
  * primitive pass: sig[t] = Σ_b (v·plane(t,b) ≥ 0) << b, planes seeded
  * deterministically from (prefix, t, b, d) and precomputed once per
  * executor. Replaces the literal-array composition (tables × bits
  * separate `dot(v, array(lit…))` expressions — 12k+ Catalyst nodes at
  * 24 tables × 8 bits × 64 dims, which fell out of codegen and dominated
  * the LSH queries' wall time). */
case class HyperplaneSigs(child: Expression, dim: Int, prefix: String,
    bits: Int, tables: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"expected float/double array, got $t")
  }

  @transient lazy val planes: Array[Array[Double]] =
    Array.tabulate(tables * bits) { tb =>
      val t = tb / bits; val b = tb % bits
      Array.tabulate(dim) { d =>
        Hashing.mixed(s"$prefix-$t-$b-$d").toDouble / Long.MaxValue.toDouble
      }
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val isF = elemIsFloat
    val n = math.min(v.numElements(), dim)
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        val pl = planes(t * bits + b)
        var s = 0.0
        var d = 0
        while (d < n) {
          s += (if (isF) v.getFloat(d).toDouble else v.getDouble(d)) * pl(d)
          d += 1
        }
        if (s >= 0.0) sig |= (1L << b)
        b += 1
      }
      sigs(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    val isF = elemIsFloat
    nullSafeCodeGen(ctx, ev, v => {
      val sigs = ctx.freshName("sigs"); val n = ctx.freshName("n")
      val t = ctx.freshName("t"); val b = ctx.freshName("b")
      val pl = ctx.freshName("pl"); val s = ctx.freshName("s")
      val d = ctx.freshName("d"); val sig = ctx.freshName("sig")
      val get = if (isF) s"(double)$v.getFloat($d)" else s"$v.getDouble($d)"
      s"""
         |long[] $sigs = new long[$tables];
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $sig = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    double[] $pl = $planesRef[$t * $bits + $b];
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $n; $d++) $s += $get * $pl[$d];
         |    if ($s >= 0.0) $sig |= (1L << $b);
         |  }
         |  $sigs[$t] = $sig;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigs =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_sigs"
}

/** Multi-probe SRP signatures (Lv et al., VLDB 2007, adapted from L2-LSH
  * to hyperplane signs): for each table, the exact b-bit signature PLUS the
  * `probes` single-bit flips of the LOWEST-|projection| bits, flattened to
  * one array<long> of length tables·(1+probes), laid out
  * [t0: exact, flip1..flipm, t1: …]. Rationale: for a correlated pair that
  * disagrees in exactly one hyperplane, that hyperplane nearly bisects the
  * pair — both projections sit close to zero — so flipping each side's
  * few smallest-margin bits recovers most hamming-1 misses, and a table
  * catches a pair when either side's EXACT signature equals any of the
  * other side's probe signatures (the asymmetric index×probe join in
  * [[graft.similarity.Ann.lshTopK]]). Same plane family and seeding as
  * [[HyperplaneSigs]] (probes = 0 degenerates to it exactly), so existing
  * signatures/goldens are unchanged wherever the flips are unused. */
case class HyperplaneProbes(child: Expression, dim: Int, prefix: String,
    bits: Int, tables: Int, probes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(probes >= 0 && probes <= bits, s"probes must be in [0, bits], got $probes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"expected float/double array, got $t")
  }

  @transient lazy val planes: Array[Array[Double]] =
    Array.tabulate(tables * bits) { tb =>
      val t = tb / bits; val b = tb % bits
      Array.tabulate(dim) { d =>
        Hashing.mixed(s"$prefix-$t-$b-$d").toDouble / Long.MaxValue.toDouble
      }
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val isF = elemIsFloat
    val n = math.min(v.numElements(), dim)
    val stride = 1 + probes
    val out = new Array[Long](tables * stride)
    val proj = new Array[Double](bits)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        val pl = planes(t * bits + b)
        var s = 0.0
        var d = 0
        while (d < n) {
          s += (if (isF) v.getFloat(d).toDouble else v.getDouble(d)) * pl(d)
          d += 1
        }
        proj(b) = math.abs(s)
        if (s >= 0.0) sig |= (1L << b)
        b += 1
      }
      out(t * stride) = sig
      // selection of the `probes` smallest |projection| bits by repeated
      // min-scan (probes ≤ 4 in practice — cheaper than sorting `bits`)
      var j = 0
      while (j < probes) {
        var best = -1; var bestV = Double.MaxValue
        var k = 0
        while (k < bits) {
          if (proj(k) < bestV) { bestV = proj(k); best = k }
          k += 1
        }
        proj(best) = Double.MaxValue
        out(t * stride + 1 + j) = sig ^ (1L << best)
        j += 1
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    val isF = elemIsFloat
    val stride = 1 + probes
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out"); val n = ctx.freshName("n")
      val t = ctx.freshName("t"); val b = ctx.freshName("b")
      val pl = ctx.freshName("pl"); val s = ctx.freshName("s")
      val d = ctx.freshName("d"); val sig = ctx.freshName("sig")
      val proj = ctx.freshName("proj"); val j = ctx.freshName("j")
      val k = ctx.freshName("k"); val best = ctx.freshName("best")
      val bestV = ctx.freshName("bestV")
      val get = if (isF) s"(double)$v.getFloat($d)" else s"$v.getDouble($d)"
      s"""
         |long[] $out = new long[${tables * stride}];
         |double[] $proj = new double[$bits];
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $sig = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    double[] $pl = $planesRef[$t * $bits + $b];
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $n; $d++) $s += $get * $pl[$d];
         |    $proj[$b] = java.lang.Math.abs($s);
         |    if ($s >= 0.0) $sig |= (1L << $b);
         |  }
         |  $out[$t * $stride] = $sig;
         |  for (int $j = 0; $j < $probes; $j++) {
         |    int $best = -1; double $bestV = Double.MAX_VALUE;
         |    for (int $k = 0; $k < $bits; $k++) {
         |      if ($proj[$k] < $bestV) { $bestV = $proj[$k]; $best = $k; }
         |    }
         |    $proj[$best] = Double.MAX_VALUE;
         |    $out[$t * $stride + 1 + $j] = $sig ^ (1L << $best);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneProbes =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_probes"
}

/** Fused integer-rational cosine pass gate (r17, guide §4):
  *
  *   dot = Σ vaᵢ·vbᵢ   (ONE primitive pass)
  *   result = dot > 0  &&  tauDen²·dot·dot ≥ tauNum²·na2·nb2
  *
  * Replaces the composed `vec_dot(a,b) > 0 && lit(τd²)·vec_dot·vec_dot ≥
  * lit(τn²)·na2·nb2` JOIN CONDITION of the exact cosine tiers: sort-merge
  * join conditions get no common-subexpression elimination, so the
  * composed form re-ran the d-double dot up to three times per ordered
  * bucket pair (once for the sign guard, twice for the squared compare).
  * Semantics are bit-identical to the composed form: the callers' 2^53
  * guard makes every operand an exact integer-valued double, `lit(long) *
  * double` in the composed form is a cast-to-double followed by the same
  * left-to-right association used here, and null propagation matches
  * (any null child → null, which a join condition treats as false).
  */
case class CosineRationalGate(va: Expression, vb: Expression,
    na2: Expression, nb2: Expression, tauNum: Long, tauDen: Long)
    extends QuaternaryExpression {
  require(tauNum > 0 && tauDen > 0, "rational τ must be positive")

  override def dataType: DataType = BooleanType
  override def first: Expression = va
  override def second: Expression = vb
  override def third: Expression = na2
  override def fourth: Expression = nb2

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"expected float/double array, got $t")
  }
  private val tn2: Double = (tauNum * tauNum).toDouble
  private val td2: Double = (tauDen * tauDen).toDouble

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val lf = elemIsFloat(va); val rf = elemIsFloat(vb)
    java.lang.Boolean.valueOf(CosineRationalGate.passes(
      math.min(x.numElements(), y.numElements()),
      i => if (lf) x.getFloat(i).toDouble else x.getDouble(i),
      i => if (rf) y.getFloat(i).toDouble else y.getDouble(i),
      c.asInstanceOf[Double], d.asInstanceOf[Double], tn2, td2))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) => {
      val lf = elemIsFloat(va); val rf = elemIsFloat(vb)
      val getA = if (lf) s"(double)$a.getFloat" else s"$a.getDouble"
      val getB = if (rf) s"(double)$b.getFloat" else s"$b.getDouble"
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $getA($i) * $getB($i);
         |}
         |${ev.value} = $s > 0.0 && ${td2}D * $s * $s >= ${tn2}D * $c * $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): CosineRationalGate =
    copy(va = newFirst, vb = newSecond, na2 = newThird, nb2 = newFourth)
  override def prettyName: String = "cosine_rational_gate"
}

object CosineRationalGate {

  /** The gate as a pure function over `n` coordinates read through `a`
    * and `b`, with tn2 = tauNum² and td2 = tauDen² as doubles: the
    * interpreted path and the dedup driver tier both call it, and the
    * generated code spells out the same loop and comparison. */
  def passes(n: Int, a: Int => Double, b: Int => Double, na2: Double,
      nb2: Double, tn2: Double, td2: Double): Boolean = {
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s > 0.0 && td2 * s * s >= tn2 * na2 * nb2
  }
}

object VectorExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def vec_dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def vec_sqdist(a: Column, b: Column): Column = column(SqDist(expression(a), expression(b)))
  def cosine_rational_gate(va: Column, vb: Column, na2: Column, nb2: Column,
      tauNum: Long, tauDen: Long): Column =
    column(CosineRationalGate(expression(va), expression(vb),
      expression(na2), expression(nb2), tauNum, tauDen))
  def hyperplane_sigs(v: Column, dim: Int, prefix: String, bits: Int, tables: Int): Column =
    column(HyperplaneSigs(expression(v), dim, prefix, bits, tables))
  def hyperplane_probes(v: Column, dim: Int, prefix: String, bits: Int, tables: Int,
      probes: Int): Column =
    column(HyperplaneProbes(expression(v), dim, prefix, bits, tables, probes))
}
