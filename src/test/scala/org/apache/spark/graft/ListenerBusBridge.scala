package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which Spark keeps
  * `private[spark]`. */
object ListenerBusBridge {
  /** Blocks until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
