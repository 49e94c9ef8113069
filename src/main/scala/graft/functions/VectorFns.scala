package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over Array[Float] columns, as Column
  * arithmetic (zip_with/aggregate are codegen'd higher-order
  * functions; no UDF, no driver collect).
  *
  * All math is done in DOUBLE with a sequential left fold, which is
  * exactly what DuckDB's list_sum over a list does — so cosine values
  * agree across engines to the last ulp and threshold/top-k outputs
  * are deterministic.
  */
object VectorFns {

  /** Σ aᵢ·bᵢ in double — native codegen'd expression (sequential
    * left-to-right accumulation, same order as a SQL list_sum fold,
    * so oracle comparisons agree bit-for-bit).
    */
  def dot(a: Column, b: Column): Column = graft.plans.native.floatDot(a, b)

  /** ‖a‖₂ in double. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Random-hyperplane LSH signature: `bits` sign bits packed into a
    * long. Hyperplane h_j is derived per (j, dimension i) from
    * xxhash64 — deterministic, no stored model, identical on every
    * executor. Used to bucket candidates so near-dup / ANN never go
    * O(n²) at scale.
    */
  def hyperplaneSignature(a: Column, bits: Int, planeOffset: Int = 0): Column = {
    require(bits <= 63)
    graft.plans.native.hyperplaneSig(a, bits, planeOffset)
  }
}
