package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Element-wise vector mean — the reference's per-user / per-community
  * centroid aggregation (SURVEY.md A4; project/metrics/metrics_interface.py:70-77,
  * project/metrics/metrics.py:46-49,176-181).
  *
  * Typed `Aggregator` with a mutable (sum-vector, count) buffer: partial
  * aggregation (map-side combine) comes free from Spark's agg machinery, so
  * the shuffle carries one (dim-length array, long) per group per partition
  * rather than every row — the property that makes a 100 TB centroid job a
  * single cheap shuffle.
  *
  * Null vectors are skipped. Every other vector of a group must have the
  * group's length (`[]` has length 0); a mismatch throws an
  * `IllegalArgumentException` naming both lengths, whatever the
  * partitioning or row order. The buffer is empty while its count is 0,
  * so a group of only `[]` averages to `[]` and a group of only nulls to
  * null.
  */
object VectorMean extends Aggregator[Seq[Double], (Array[Double], Long), Seq[Double]] {

  override def zero: (Array[Double], Long) = (Array.emptyDoubleArray, 0L)

  private def requireLength(a: Int, b: Int): Unit =
    if (a != b) throw new IllegalArgumentException(
      s"graft: VectorMean over vectors of lengths ${math.min(a, b)} and " +
        s"${math.max(a, b)} in one group")

  override def reduce(b: (Array[Double], Long), v: Seq[Double]): (Array[Double], Long) = {
    if (v == null) b
    else {
      val (sum, n) = b
      val s = if (n == 0L) new Array[Double](v.length) else sum
      requireLength(s.length, v.length)
      var i = 0
      while (i < s.length) { s(i) += v(i); i += 1 }
      (s, n + 1)
    }
  }

  override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
    if (a._2 == 0L) b
    else if (b._2 == 0L) a
    else {
      val s = a._1
      requireLength(s.length, b._1.length)
      var i = 0
      while (i < s.length) { s(i) += b._1(i); i += 1 }
      (s, a._2 + b._2)
    }
  }

  override def finish(b: (Array[Double], Long)): Seq[Double] = {
    val (sum, n) = b
    if (n == 0L) null else sum.map(_ / n).toSeq
  }

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()

  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()

  /** Column form: `vector_mean(v)` where `v` is `array<double>`. */
  lazy val asUdaf = udaf(VectorMean)
  def apply(c: Column): Column = asUdaf(c)
}
