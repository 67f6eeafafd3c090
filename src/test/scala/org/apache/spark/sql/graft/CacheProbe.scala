package org.apache.spark.sql.graft

/** Test-side view of the session's `private[sql]` CacheManager. */
object CacheProbe {
  /** How many entries the session's CacheManager holds. */
  def entryCount(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
