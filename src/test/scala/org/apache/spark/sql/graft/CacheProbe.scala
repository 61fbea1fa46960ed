package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-side view of the session's cache manager, whose entry count is
  * package-private to `org.apache.spark.sql`. */
object CacheProbe {
  private def manager(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** Number of cached relations registered with the session. */
  def entries(spark: SparkSession): Int = manager(spark).numCachedEntries

  /** Whether `ds` itself is one of them. */
  def isCached(spark: SparkSession, ds: org.apache.spark.sql.Dataset[_]): Boolean =
    manager(spark).lookupCachedData(
      ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
}
