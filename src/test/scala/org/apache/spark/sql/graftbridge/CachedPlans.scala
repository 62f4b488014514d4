package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, classic}

/** The number of plans in the session's CacheManager, which Spark
  * keeps private[sql]. */
object CachedPlans {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
