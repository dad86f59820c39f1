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

  /** Unpersist the block-manager blocks behind a `localCheckpoint()`ed
    * frame (its analyzed plan is a `LogicalRDD` over the checkpointed
    * RDD). Returns false — a no-op — for any other plan shape (e.g. a
    * parquet-reader frame), so callers can pass whatever a memo held.
    * Needed by `Dedup.invalidateSharedEdges`: dropping the memo
    * reference alone leaves the checkpoint blocks resident until the
    * ContextCleaner's next GC-driven sweep, which during a
    * deliberately-timed full rebuild at the biggest factors is
    * avoidable block-manager pressure. */
  def unpersistLocalCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false); true
      case _ => false
    }

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

  /** The id of the persisted RDD behind a `localCheckpoint()`ed frame
    * (None for any other plan shape). For specs that assert the memo's
    * SPECIFIC blocks were freed: comparing absolute
    * `getPersistentRDDs.size` deltas on a suite-shared context is
    * flaky — the ContextCleaner asynchronously unpersists GC'd RDDs
    * from earlier tests between the two reads (ADVICE r12). */
  def localCheckpointRddId(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => Some(lr.rdd.id)
      case _ => None
    }
}
