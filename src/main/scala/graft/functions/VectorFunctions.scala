package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over ArrayType embedding columns.
  *
  * Built from `zip_with`/`aggregate` (higher-order functions) so the whole
  * computation stays inside Catalyst/whole-stage-codegen — no UDF
  * serialization boundary, which matters when this runs over billions of
  * rows. Inputs are cast to array<double> so float32 embeddings are
  * computed in double (stable across engines).
  *
  * `aggregate` folds left-to-right, so summation order is deterministic
  * and independent of partitioning (it is per-row).
  */
object VectorFunctions {
  private def asD(c: Column): Column = c.cast("array<double>")

  /** Dot product of two equal-length numeric arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asD(a), asD(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 distance. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(asD(a), asD(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }
}
