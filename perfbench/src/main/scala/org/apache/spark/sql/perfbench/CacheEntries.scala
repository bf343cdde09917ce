package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession

/** The number of plans in the session's CacheManager. The count is
  * package-private to Spark SQL, hence this package. */
object CacheEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
