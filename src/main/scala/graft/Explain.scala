package graft

/** Dev tool: print the formatted physical plan for the named queries
  * (all queries when none named) — the SURVEY.md §4 audit loop:
  * "after each operator works, explain the plan and iterate until it's
  * the plan you'd want".
  *
  * Usage: sbt "runMain graft.Explain <sfDir> [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.all.keys.toSeq.sorted
    val spark = graft.util.Session(logLevel = "ERROR")
    names.foreach { name =>
      println(s"\n━━━━━━━━━━ $name ━━━━━━━━━━")
      try {
        val df = SparkEntry.all(name).fn(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
