package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The number of entries in the session's cache manager, for the leak
  * specs: a frame persisted but never materialized holds an entry there
  * and no persisted RDD. `numCachedEntries` is `private[sql]`, hence this
  * test shim inside the sql package.
  */
object CacheEntries {
  def apply(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
