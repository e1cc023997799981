package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test-only access to two members Spark keeps package-private. */
object TestShim {
  /** `SparkContext` can set a checkpoint dir but not unset it: a suite
    * that sets one on the shared test context restores the unset state
    * through this. */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  /** The number of relations the session's cache manager holds. */
  def cachedRelations(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
