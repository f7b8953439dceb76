package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The engine internals the benchmark reads that Spark keeps
  * package-private: draining the listener bus, the job-tag property key,
  * and the number of entries in the SQL cache manager.
  */
object Internals {
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
