package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector scalar functions over `ArrayType(FloatType)` columns.
  *
  * Built from Spark's higher-order functions (`zip_with`/`aggregate`),
  * which evaluate inside whole-stage codegen — no UDF serialization in
  * the k-NN hot path. All math is done in double precision regardless of
  * the storage type (embeddings are float32 on disk).
  *
  * Ref semantics: cosine distance scoring in
  * packages/vecpipe/search/dense_search.py:75-137 (Qdrant COSINE) with
  * vectors L2-normalized at embed time
  * (packages/shared/embedding/dense.py:420-426).
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision — custom codegen Expression (the
    * higher-order-function form is CodegenFallback and ~10× slower in
    * the scoring loop; kept below as dotHof for reference/tests). */
  def dot(a: Column, b: Column): Column = VectorExpressions.dotExpr(a, b)

  /** L2 norm ‖a‖₂. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Single-pass cosine similarity; 0.0 when either norm is zero. */
  def cosine(a: Column, b: Column): Column =
    VectorExpressions.cosineExpr(a, b)

  /** Interpreted higher-order-function twin of [[dot]] (reference
    * implementation for parity tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  // ---- pure-Scala twins for unit tests / driver-side constants ----

  def dotS(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
