package org.apache.spark.sql

import scala.reflect.ClassTag

/** Test-side reads of Spark's listener registries (both are private to
  * Spark): what a run left registered after it ended. */
object GraftTestBridge {
  /** SparkListeners of class `T` on the context's listener bus. */
  def sparkListeners[T <: org.apache.spark.scheduler.SparkListenerInterface: ClassTag](spark: SparkSession): Seq[T] =
    spark.sparkContext.listenerBus.findListenersByClass[T]().toSeq

  /** QueryExecutionListeners registered on the session. */
  def queryListeners(spark: SparkSession): Seq[util.QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq
}
