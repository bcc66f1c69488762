package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * test counts every job an action launched. The bus is `private[spark]`,
  * hence this bridge in Spark's package namespace.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
