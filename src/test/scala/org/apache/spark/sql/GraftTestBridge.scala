package org.apache.spark.sql

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Spec-side reads of `private[spark]` state. */
object GraftTestBridge {

  /** Streaming listener buses registered on `spark`'s SparkContext bus. */
  def streamingBuses(spark: SparkSession): Int =
    spark.sparkContext.listenerBus
      .findListenersByClass[StreamingQueryListenerBus]().size
}
