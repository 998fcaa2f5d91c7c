package graft

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
}
