package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the classic Column↔Expression converters, which are
  * `private[sql]` in Spark 4. Custom Catalyst expressions (graft.functions)
  * need both directions to expose a Column-level API.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL-callable temp function on a session (the
    * FunctionRegistry is `private[sql]` like the Column converters). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Wait until every listener event posted so far has been delivered
    * (the bus is asynchronous and `private[spark]`), so a listener reads
    * complete job records. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A clone of `spark` — same SparkContext, conf, temp views and
    * functions — with `overrides` set on the clone only, so a query can
    * run under its own conf without changing the caller's session
    * (`cloneSession` is `private[sql]`). */
  def cloneSession(spark: SparkSession,
      overrides: (String, String)*): SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    overrides.foreach { case (k, v) =>
      clone.sessionState.conf.setConfString(k, v) }
    clone
  }

  /** Takes the streaming listener bus of `spark`'s query manager (a
    * private field) off the SparkContext's bus, where Spark leaves it for
    * the life of the JVM. Only for a session that starts no more streams,
    * such as a [[cloneSession]] clone whose query stopped. */
  def detachStreamingBus(spark: SparkSession): Unit = {
    val manager = spark.asInstanceOf[classic.SparkSession].streams
    val field = manager.getClass.getDeclaredField("listenerBus")
    field.setAccessible(true)
    spark.sparkContext.listenerBus.removeListener(
      field.get(manager).asInstanceOf[
        org.apache.spark.scheduler.SparkListenerInterface])
  }

  /** `df`'s analyzed plan as a frame of `spark`: hands a result settled
    * in another session (e.g. a [[cloneSession]] clone) back to the
    * caller's session without registering anything in its catalog. */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
