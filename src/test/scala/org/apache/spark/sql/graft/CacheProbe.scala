package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the `private[sql]` CacheManager entry count. */
object CacheProbe {
  def entries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
