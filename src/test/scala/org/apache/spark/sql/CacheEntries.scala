package org.apache.spark.sql

/** Test-side view of the session's CacheManager entry count (the
  * accessor is package-private to Spark SQL). */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
