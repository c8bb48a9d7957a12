package org.apache.spark.sql

/** The one CacheManager figure the specs read, which Spark keeps
  * package-private.
  */
object CacheAccess {
  /** Cached frames registered with the session. */
  def cachedFrames(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
