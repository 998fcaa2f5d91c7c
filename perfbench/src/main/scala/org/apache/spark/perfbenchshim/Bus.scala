package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the one `private[spark]` call the traced run needs. */
object Bus {
  /** Blocks until the listener bus has delivered every posted event, so
    * the traced run's job and stage records are complete. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
