package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` surface, required to wrap
  * a custom Expression (the pipeline's load-date parameter) in a public
  * Column, and to two `private[spark]` calls: the shutdown-delete hook
  * for the engine's temp dirs and the listener-bus drain. Placing one
  * shim object inside the org.apache.spark.sql namespace is the
  * standard technique external connectors/extensions use (the
  * alternative — reflection — is slower and more brittle). Everything else in this repo lives in the graft.*
  * namespace. */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Registers `dir` with Spark's shutdown hook, which deletes it
    * recursively when the JVM exits; returns it as a string path. */
  def deleteOnExit(dir: java.nio.file.Path): String = {
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir.toFile)
    dir.toString
  }

  /** Blocks until the listener bus has delivered every event posted so
    * far (`util.Metrics` reads its records after this). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
