package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over dense embedding columns: ArrayType(FloatType)
  * (stored vectors) or ArrayType(DoubleType) (derived means and
  * subvectors) — float·float, float·double, and for [[sqDist]] also
  * double·double.
  *
  * Products and sums are computed in DOUBLE, folding left in index
  * order with a 0.0 seed — which both matches DuckDB's `list_reduce`
  * fold (0.0 + p1 ≡ p1) and keeps results reproducible regardless of
  * partitioning (no tree-reduction reordering). float×float→double is
  * exact, so the only rounding is the unavoidable sequential-sum
  * rounding, identical everywhere.
  *
  * [[dot]] and [[sqDist]] are the one native codegen'd Catalyst
  * expression graft.plans.DenseFold (fused loop, no per-element
  * boxing); plans name it by type pair and term (`float_dot`, `fd_dot`,
  * `float_sqdist`, `double_sqdist`, `fd_sqdist`). VectorExprSpec checks
  * it bit-for-bit against the portable `aggregate(zip_with(…))`
  * higher-order forms.
  */
object Vectors {

  /** Σ aᵢ·bᵢ — native codegen'd Catalyst expression (hot path). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftSql.denseDot(a, b)

  /** Σ (aᵢ−bᵢ)² — native codegen'd Catalyst expression (hot path). */
  def sqDist(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftSql.denseSqDist(a, b)

  /** ‖a‖₂ (sequential double sum of squares, codegen'd). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with precomputed norms (callers precompute norms
    * once per vector instead of per pair).
    */
  def cosineWithNorms(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)
}
