package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so a
  * recorder reads complete job/stage/task totals after an action returns.
  * The bus is `private[spark]`, hence this one-line bridge in Spark's
  * package namespace.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
