package org.apache.spark.sql

/** The Spark internals the benchmark reads, behind one object. */
object PerfbenchAccess {
  /** Waits until every listener has seen every event, so the traced
    * pass's job and task records are complete before they are read.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Cached frames still registered with the session. */
  def cachedFrames(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** Whole-stage and expression classes compiled so far (code-gen
    * cache misses), process-wide.
    */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
