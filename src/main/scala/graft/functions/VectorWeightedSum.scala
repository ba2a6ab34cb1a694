package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Fused weighted vector sum: Σ wᵢ·vᵢ in ONE aggregation — the FastRP
  * message combine (SURVEY.md G1) without materializing a scaled copy of
  * every edge's vector first, with the same map-side partial-aggregation
  * property as [[VectorMean]]. Input is a PRIMITIVE double array
  * (+ weight), so the per-row deserialization never boxes elements — at
  * edge-count × dim scale the boxed-Seq path was a measured GC storm
  * (128-dim sf0.1: 64 s → the fused primitive path is the fix). */
object VectorWeightedSum
    extends Aggregator[(Array[Double], Double), Array[Double], Seq[Double]] {

  override def zero: Array[Double] = Array.emptyDoubleArray

  override def reduce(b: Array[Double], in: (Array[Double], Double)): Array[Double] = {
    val (v, w) = in
    if (v == null) b
    else {
      val s = if (b.length == 0) new Array[Double](v.length) else b
      var i = 0
      while (i < v.length && i < s.length) { s(i) += v(i) * w; i += 1 }
      s
    }
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (a.length == 0) b
    else if (b.length == 0) a
    else {
      var i = 0
      while (i < a.length && i < b.length) { a(i) += b(i); i += 1 }
      a
    }
  }

  override def finish(b: Array[Double]): Seq[Double] =
    if (b.length == 0) null else b.toSeq

  override def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()

  lazy val asUdaf = udaf(VectorWeightedSum,
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Double)]())
  def apply(v: Column, w: Column): Column = asUdaf(v, w)
}
