package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, classic}

/** Test access to the session's cache manager, which is private[sql]. */
object CacheProbe {
  /** Entries the cache manager holds: one per persisted plan. */
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
