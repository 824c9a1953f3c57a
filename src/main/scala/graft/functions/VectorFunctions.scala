package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` / `array<double>` embedding
  * columns, built from native codegen'd Catalyst expressions
  * ([[VectorExpressions]]) and built-in functions — no UDFs, stays
  * inside whole-stage codegen, and every fold is sequential in index
  * order so results are bit-reproducible across engines.
  */
object VectorFunctions {

  /** Cast to array<double> so accumulation is double-precision. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Dot product — native codegen'd loop ([[VectorExpressions]]);
    * same ascending-index sum order as the HOF formulation it
    * replaced, so engine-vs-oracle comparisons are unchanged.
    */
  def dot(a: Column, b: Column): Column = VectorExpressions.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-norm guard: a degenerate (all-zero/padded) vector must
    * score 0 against everything, not NaN — Spark sorts NaN ABOVE
    * every double, so an unguarded 0/0 would rank the broken vector
    * as the #1 neighbor of every query it joins with.
    */
  def cosine(a: Column, b: Column): Column =
    cosineWithNorms(dot(a, b), norm(a), norm(b))

  /** [[cosine]] with the two side norms precomputed — for PAIRWISE
    * joins, where inlining `cosine(a.v, b.v)` recomputes
    * `sqrt(dot(v,v))` once per PAIR instead of once per ROW (two
    * thirds of the join's flops at any candidate count). Same IEEE
    * ops in the same order (`na * nb`, the zero-denominator guard,
    * one division), so scores are bit-identical to the inline form.
    */
  def cosineWithNorms(dotAB: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom === 0.0, 0.0).otherwise(dotAB / denom)
  }

  /** LSH bucket id from `nPlanes` signed random-hyperplane bits
    * packed into a long: plane p sets bit p when
    * sum_i v_i * r_{p,i} >= 0, with pseudo-random ±1 weights derived
    * from xxhash64(dim, plane) — no stored plane matrix, reproducible
    * on any cluster. One native pass per row
    * ([[VectorExpressions.lshBucketNative]]); VectorFunctionsSpec pins
    * it bit-identical to the `zip_with`/`aggregate` formulation it
    * replaced, which lives there as the reference.
    */
  def lshBucket(v: Column, nPlanes: Int): Column =
    VectorExpressions.lshBucketNative(v, nPlanes)
}
