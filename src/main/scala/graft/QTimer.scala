package graft

/** Generic interleaved-rep query timer (dev tool, not a driver
  * artifact): `runMain graft.QTimer <reps> <query...>` runs the named
  * declared queries round-robin in ONE JVM under the Bench session
  * config and prints per-query medians. Interleaving is the
  * BASELINE.md triage protocol: cross-run totals on this box swing
  * ±20-27% with contention, so only same-JVM alternating reps support
  * a per-query claim. */
object QTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.util.Config.sfDir
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: QTimer <reps> <query...>")
    val spark = graft.util.Session()
    // warm pass: JIT/codegen + the persisted family lineages, so rep 1
    // measures the query, not the pipeline rebuild (Bench protocol)
    names.foreach { n =>
      SparkEntry.all(n).fn(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to reps; n <- names) {
      val t0 = System.nanoTime()
      SparkEntry.all(n).fn(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      times(n) :+= (System.nanoTime() - t0) / 1e9
    }
    names.foreach { n =>
      val s = times(n).sorted
      println(f"[qtimer] $n%-24s median ${s(s.size / 2)}%.3f s  " +
        s.map(t => f"$t%.2f").mkString("[", " ", "]"))
    }
    spark.stop()
  }
}
