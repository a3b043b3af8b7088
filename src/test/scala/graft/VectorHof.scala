package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable higher-order-function forms of `Vectors.dot` and
  * `Vectors.sqDist`: the reference implementations VectorExprSpec
  * compares the natives against. Same per-term arithmetic and the same
  * left fold in double with a 0.0 seed, so the results are
  * bit-identical.
  */
object VectorHof {
  private def dbl(c: Column): Column = c.cast("double")

  /** Σ aᵢ·bᵢ as `aggregate(zip_with(…))`. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => dbl(x) * dbl(y)), lit(0.0), (acc, x) => acc + x)

  /** Σ (aᵢ−bᵢ)² as `aggregate(zip_with(…))`. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (dbl(x) - dbl(y)) * (dbl(x) - dbl(y))),
      lit(0.0), (acc, x) => acc + x)
}
