package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Access to the one `private[spark]` call the job-counting test helper
  * needs. */
object Bus {
  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
