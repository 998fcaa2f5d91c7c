package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` surface, required to wrap
  * a custom Expression (the pipeline's load-date parameter) in a public
  * Column, and to four `private[spark]` calls: the shutdown-delete hook
  * for the engine's temp dirs, the listener-bus drain, a stage's RDD
  * operation scopes and its shuffle dependency. Placing one
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

  /** The distinct RDD operation-scope names of a stage's RDDs, the
    * topmost RDD first: the physical operators (`Exchange`,
    * `WholeStageCodegen (2)`, `Scan parquet`) or RDD API calls that
    * built them. `RDDOperationScope` is `private[spark]`. */
  def scopeNames(stage: org.apache.spark.scheduler.StageInfo): Seq[String] =
    stage.rddInfos.sortBy(-_.id).flatMap(_.scope.map(_.name)).distinct

  /** Whether a stage writes shuffle output rather than returning results;
    * `StageInfo.shuffleDepId` is `private[spark]`. */
  def isShuffleMap(stage: org.apache.spark.scheduler.StageInfo): Boolean =
    stage.shuffleDepId.isDefined
}
