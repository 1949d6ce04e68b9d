package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Test-only view of the context's listener bus (`private[spark]`). */
object ListenerBuses {
  /** Streaming listener buses registered on the context's listener bus,
    * one per session that has started a stream or listed its listeners. */
  def streamingBuses(s: SparkSession): Int =
    s.sparkContext.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
