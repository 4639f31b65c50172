package org.apache.spark.sql.rorbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** Two read-only probes into `private[spark]` / `private[sql]` state, hence
  * their place in a Spark subpackage. */
object SessionProbe {

  /** Relations the session's cache manager still holds. */
  def cachedRelations(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries

  /** Waits until every event posted so far has reached the listeners. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
