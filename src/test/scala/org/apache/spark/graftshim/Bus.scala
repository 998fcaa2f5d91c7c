package org.apache.spark.graftshim

/** Access to the `private[spark]` call the test helpers need. */
object Bus {
  /** Whether Spark's shutdown hook will delete `dir` when the JVM exits. */
  def deletedOnExit(dir: java.io.File): Boolean =
    org.apache.spark.util.ShutdownHookManager.hasShutdownDeleteDir(dir)
}
