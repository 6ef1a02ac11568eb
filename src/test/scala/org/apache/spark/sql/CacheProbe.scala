package org.apache.spark.sql

/** Test-only bridge into the session's CacheManager (private[sql]):
  * lets the graft suites assert that queries leave no cached plan
  * behind after their action (r5 verdict #3).
  */
object CacheProbe {
  def isEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
