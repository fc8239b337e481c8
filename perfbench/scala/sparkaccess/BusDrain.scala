package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. A traced group is
  * summarised only after every event of its jobs has reached the
  * benchmark's listener, so the group waits for the bus to drain. The
  * drain call is `private[spark]`, hence this object's package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
