package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` columns, built from Spark's
  * higher-order array functions so everything stays inside whole-stage
  * codegen — no UDF serialization, no Python boundary.
  *
  * Mirrors the reference's vector ops (SURVEY.md §2.7):
  *  - cosine similarity: project/metrics/metrics.py:24,104,146
  *  - L2 normalize (zero-norm guarded): project/metrics/metrics_interface.py:53-55
  *  - L2 distance² to centroid: project/metrics/metrics.py:49,179
  *
  * All arithmetic is widened to double before accumulation so results are
  * engine-portable (the DuckDB oracle computes in double as well).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision (sequential left fold — deterministic).
    * Backed by the codegen'd [[DotProduct]] kernel; numerically identical to
    * the zip_with/aggregate composition it replaced. */
  def dot(a: Column, b: Column): Column = VectorExpressions.vec_dot(a, b)

  /** Σ aᵢ² */
  def normSq(a: Column): Column = dot(a, a)

  /** ‖a‖₂ */
  def l2norm(a: Column): Column = sqrt(normSq(a))

  /** cos(a,b) with zero-norm guard → 0.0 (reference guards the same case by
    * returning the unnormalized vector, metrics_interface.py:53-55). */
  def cosine(a: Column, b: Column): Column = {
    val na = l2norm(a)
    val nb = l2norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))
  }

  /** cos(a,b) without the guard — bit-compatible with the oracle formula
    * `list_inner_product(a,b)/(sqrt(..)*sqrt(..))`; use on known non-zero data. */
  def cosineUnguarded(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Σ (aᵢ−bᵢ)² — codegen'd [[SqDist]] kernel. */
  def l2distSq(a: Column, b: Column): Column = VectorExpressions.vec_sqdist(a, b)

  /** v/‖v‖ as array<double>; zero vector passes through unscaled
    * (metrics_interface.py:53-55 guard). */
  def l2normalize(a: Column): Column = {
    val n = l2norm(a)
    when(n === 0.0, transform(a, x => x.cast("double")))
      .otherwise(transform(a, x => x.cast("double") / n))
  }
}
