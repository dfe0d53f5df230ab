package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the sql-private Column↔Expression converters (Spark 4 wraps
  * Column around ColumnNode; `classic.ExpressionUtils` is private[sql]).
  * Lives in the org.apache.spark.sql package purely for access; graft code
  * calls it via graft.expr wrappers.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Apply a SparkSessionExtensions' injected functions to a live session's
    * registry (registerFunctions is private[sql]) — lets tests exercise the
    * real `spark.sql.extensions` injection path on an already-built session.
    */
  def applyFunctionInjections(ext: SparkSessionExtensions, spark: SparkSession): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** Wait until every event posted so far reached its listeners
    * (QueryExecutionListeners run on the listener bus, after the action
    * returned; the bus is private[spark]). */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A DataFrame over an RDD of CATALYST rows (internalCreateDataFrame is
    * private[sql]). Its one caller is `graft.core.SegmentedScan.run`,
    * whose pass 2 emits InternalRows with no external-Row round trip. Rows
    * may follow the standard SparkPlan contract (valid until the
    * iterator's next()): downstream operators copy when they buffer. */
  def internalCreateDataFrame(spark: SparkSession,
                              rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
