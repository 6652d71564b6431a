package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`); custom
  * native expressions still need them to surface as `Column`s, so this
  * one-file subpackage of org.apache.spark.sql re-exports the two calls.
  * No Spark internals are modified or copied.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** [[expression]] converted NOW: `ExpressionUtils.expression` wraps the
    * column in a placeholder that only a consuming Dataset expands, so an
    * expression handed straight to the analyzer (a SQL function builder
    * registered through `SparkSessionExtensions.injectFunction`) must be
    * converted eagerly.
    */
  def resolvable(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a (resolved) LogicalPlan — `Dataset.ofRows` went
    * `private[sql]` with the Spark 4 classic split; custom logical
    * operators (e.g. graft.plans.TopKPerKeyNode) still need a public
    * door back into the Dataset API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The materialized RDD behind a checkpointed Dataset, if any.
    * `Dataset.checkpoint`/`localCheckpoint` persist an internal RDD
    * directly (never through the CacheManager) and wrap it in a
    * `LogicalRDD`; `Dataset.unpersist` on the result is therefore a
    * no-op (the CacheManager has no entry to drop), and freeing a
    * superseded round's blocks DETERMINISTICALLY — instead of waiting
    * for the ContextCleaner to GC the RDD — requires unpersisting that
    * underlying RDD itself. `LogicalRDD` is `private[sql]` in Spark 4,
    * hence this door.
    */
  def materializedRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Spark's own NaN/-0.0 canonicalization (a no-op for expressions that
    * need none). The optimizer applies it to Aggregate/Window/Join keys
    * only — a CUSTOM grouping operator (graft.plans.TopKPerKeyNode) must
    * apply it itself, or byte-equality on its projected keys splits
    * 0.0 / -0.0 (and distinct NaN bit patterns) into separate groups
    * that SQL ordering then interleaves.
    */
  def normalizeFloat(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
