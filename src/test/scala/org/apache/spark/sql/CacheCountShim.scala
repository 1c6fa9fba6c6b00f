package org.apache.spark.sql

/** The session's cached Dataset entries, a count Spark keeps private[sql]. */
object CacheCountShim {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
