package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Access to the `private[spark]` calls the test helpers need. */
object Bus {
  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether Spark's shutdown hook will delete `dir` when the JVM exits. */
  def deletedOnExit(dir: java.io.File): Boolean =
    org.apache.spark.util.ShutdownHookManager.hasShutdownDeleteDir(dir)
}
