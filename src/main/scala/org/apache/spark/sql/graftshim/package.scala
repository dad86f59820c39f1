package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's `private[sql]` Column ↔ Expression
  * converters and DataFrame constructor (the classic, non-Connect path).
  * Lives in the `org.apache.spark.sql` namespace for access — the
  * standard technique for Spark extension libraries that define native
  * Catalyst expressions / logical plans with a typed Column API.
  * Nothing else from the internals is used. */
package object graftshim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a (custom) logical plan as a DataFrame on a classic session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** True when the session's SQL cache holds no entries — the
    * cache-hygiene gate (`CacheHygieneSpec`): library operators must
    * not leave `persist()`ed frames behind for callers that never
    * `clearCache()`. */
  def sqlCacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** One frame of `spark` over the union of `localCheckpoint()`ed frames,
    * which may belong to other sessions of the same context (the
    * micro-batches of a streaming query's cloned session): a single
    * `LogicalRDD` leaf over their checkpointed RDDs, with the first
    * frame's schema. Runs no job and copies no row. */
  def unionLocalCheckpoints(spark: SparkSession, parts: Seq[DataFrame]): DataFrame = {
    val rdds = parts.map(_.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd
      case p => throw new IllegalArgumentException(
        s"not a localCheckpoint()ed frame: ${p.nodeName}")
    })
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(spark.sparkContext.union(rdds), parts.head.schema)
  }
}
