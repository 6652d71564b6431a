package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over ArrayType embedding columns.
  *
  * `dot`, `l2Norm` and `cosine` are the engine's only definitions of
  * those three functions: each builds the native [[DotProduct]]
  * expression, so they share its contract (null array → null; null
  * element or length mismatch → a named error) and its left-to-right
  * IEEE fold. `sqDist` builds [[SqDistance]], which shares that loop and
  * contract. The SQL names `vec_dot`/`vec_cosine`/`vec_sqdist` are these
  * same expressions ([[graft.plans.GraftExtensions]]). Inputs are cast to
  * array<double>, so float32 embeddings are computed in double (stable
  * across engines).
  */
object VectorFunctions {
  /** Dot product of two equal-length numeric arrays. */
  def dot(a: Column, b: Column): Column = DotProduct(a, b)

  /** Squared L2 distance: the native [[SqDistance]], under `dot`'s contract. */
  def sqDist(a: Column, b: Column): Column = SqDistance(a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm (decided
    * before the pair's lengths are compared, so a zero-norm ragged pair
    * scores 0.0 rather than failing).
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }
}
