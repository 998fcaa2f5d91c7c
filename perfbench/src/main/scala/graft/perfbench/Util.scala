package graft.perfbench

/** File-system helpers for the benchmark's work directories and sinks. */
object Fs {
  def rm(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rm)
    f.delete(): Unit
  }

  /** Data files under `dir` (recursively; hidden, `_`-prefixed and
    * `.crc` files excluded) as (relative path, bytes). */
  def dataFiles(dir: java.io.File): Seq[(String, Long)] = {
    def walk(f: java.io.File, rel: String): Seq[(String, Long)] = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      kids.toSeq.filterNot(k => k.getName.startsWith(".") || k.getName.startsWith("_"))
        .flatMap { k =>
          val r = if (rel.isEmpty) k.getName else s"$rel/${k.getName}"
          if (k.isDirectory) walk(k, r) else Seq(r -> k.length())
        }
    }
    walk(dir, "")
  }
}

/** Readings from /proc, for the per-run environment record. */
object Proc {
  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => None }

  /** (steal, total) jiffies over the first eight cpu fields of /proc/stat. */
  def cpuJiffies(): Option[(Long, Long)] = read("/proc/stat").map { s =>
    val f = s.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }

  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        100.0 * (s1 - s0) / (t1 - t0)
      case _ => -1.0
    }

  def loadAvg1(): Double =
    read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator
      .find(_.startsWith("VmHWM:"))
      .map(l => l.split("\\s+")(1).toDouble / 1024.0)).getOrElse(-1.0)
}

/** Minimal JSON rendering for the result lines (no dependency). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Seq[Double]): String = vs.map(num).mkString("[", ",", "]")
}
