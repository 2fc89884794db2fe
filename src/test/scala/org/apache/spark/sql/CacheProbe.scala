package org.apache.spark.sql

/** Test access to the session's CacheManager entry count (Spark keeps the
  * count package-private). */
object CacheProbe {
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
