package graft.perfbench

import scala.collection.mutable

/** One traced interval. Times are epoch nanoseconds, so benchmark spans
  * and Spark listener events (epoch milliseconds) share one clock. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover (children may overlap each other). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(cs, s.start, s.end))
    }.toMap
  }
}

/** Records spans around the benchmark's calls into each layer. Off (the
  * untraced run), `span` only runs its body, so the end-to-end figures
  * are measured without any recording in the way. On, the current span
  * id is set as a Spark local property before each call, so the
  * listeners in [[SparkTrace]] can parent each job under the call that
  * caused it. Spans are kept in memory and written out when the run
  * ends. */
final class Tracer(val on: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var nextId = 1L
  private var current = 0L
  private var sc: Option[org.apache.spark.SparkContext] = None

  /** Epoch nanoseconds from the monotonic clock. */
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset

  def attach(ctx: org.apache.spark.SparkContext): Unit = if (on) {
    sc = Some(ctx)
    ctx.setLocalProperty(Tracer.Property, current.toString)
  }

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def add(s: Span): Unit = if (on) synchronized { spans += s }

  def span[T](kind: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = current
      val t0 = now()
      current = id
      sc.foreach(_.setLocalProperty(Tracer.Property, id.toString))
      try body
      finally {
        add(Span(id, parent, kind, name, t0, now()))
        current = parent
        sc.foreach(_.setLocalProperty(Tracer.Property, parent.toString))
      }
    }

  def write(path: java.nio.file.Path): Unit = if (on) {
    val lines = synchronized(spans.toVector).sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  val Property = "perfbench.span"
}
