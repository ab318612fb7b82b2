package org.apache.spark.sql

/** Spec-only reads of `private[sql]` session state: the cache manager
  * and a streaming query's last micro-batch plan. No main code calls
  * these, so they live beside the specs instead of in `GraftSqlBridge`.
  */
object GraftTestBridge {

  /** True when the session's CacheManager holds no cached plans — lets
    * the specs assert the clearCache-between-queries contract
    * (`cacheManager` itself is private[sql]).
    */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** The OPTIMIZED logical plan of a streaming query's last micro-batch
    * (`StreamingQueryWrapper`/`IncrementalExecution` are private[sql]) —
    * lets plan-shape specs assert on what the stream actually ran,
    * since calling `queryExecution.optimizedPlan` on an unstarted
    * streaming Dataset trips the batch-execution checker.
    */
  def lastStreamOptimizedPlan(q: streaming.StreamingQuery)
      : catalyst.plans.logical.LogicalPlan =
    q.asInstanceOf[execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.optimizedPlan
}
