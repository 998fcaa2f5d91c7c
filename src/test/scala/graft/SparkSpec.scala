package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one forked test JVM —
  * build.sbt `Test / fork := true`). It is the [[graft.util.Session]]
  * Bench and Verify run under, at 4 cores, so plan pins pin the plans
  * the bench times (SessionSpec guards this). */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Session(4, "ERROR")
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** `f`'s result and the number of Spark jobs it started. A job counts
    * when it carries this call's tag, a thread-local property that the
    * jobs `f` submits inherit, including those of broadcasts and
    * adaptive query stages run from other threads. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = f
      org.apache.spark.graftshim.Bus.drain(sc)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
