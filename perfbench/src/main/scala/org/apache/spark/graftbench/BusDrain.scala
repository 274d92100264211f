package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event posted to the listener bus so far has been
  * delivered to every listener. `waitUntilEmpty` is `private[spark]`,
  * hence this accessor's package. Without it a listener read right after
  * an action can miss that action's last job/task events, and the
  * per-phase counts would be silently short.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
