package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions.{avg, count, lit, sum, to_date, window}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Event, Streams}

/** Structured Streaming runtime semantics (no oracle — SURVEY.md §5.2.4):
  * `Streams.dailyAvg`'s window emission, watermark late-drop and parity
  * with the batch daily mean; `Streams.upsertSink`'s convergence and
  * replay idempotence; and Spark's own sink modes, checkpoint resume,
  * file-source ingest and windowed join, all driven through MemoryStream
  * micro-batches. */
class StreamingSpec extends SparkSpec {

  // parse as UTC WALL TIME, not Timestamp.valueOf (which reads the JVM
  // default TZ): the engine windows in session TZ UTC, so under a
  // non-UTC JVM default (the r11 TZ sweep) valueOf-built fixtures land
  // off the UTC day boundaries the assertions compare against
  private def ts(s: String) = Timestamp.from(
    java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC))

  private def runBatches[T](
      stream: MemoryStream[T],
      out: org.apache.spark.sql.DataFrame,
      mode: OutputMode,
      batches: Seq[Seq[T]]): Array[org.apache.spark.sql.Row] = {
    val name = s"mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      spark.table(name).collect()
    } finally q.stop()
  }

  test("tumbling daily aggregation emits finalized windows after watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val rows = runBatches(in, Streams.dailyAvg(in.toDF(), "1 hour"), OutputMode.Append, Seq(
      Seq(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 10.0),
          Event(2, ts("2024-01-01 12:00:00"), 1, "click", 30.0)),
      // advance event time past day1 + watermark → day1 window finalizes
      Seq(Event(3, ts("2024-01-02 02:00:00"), 1, "click", 7.0))))
    val day1 = rows.find(_.getAs[Timestamp]("day_start") == ts("2024-01-01 00:00:00"))
    assert(day1.isDefined, s"day-1 window not emitted: ${rows.mkString(";")}")
    assert(day1.get.getAs[Double]("avg_value") === 20.0)
    assert(day1.get.getAs[Long]("n") === 2L)
  }

  test("late rows beyond the watermark are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val rows = runBatches(in, Streams.dailyAvg(in.toDF(), "1 hour"), OutputMode.Append, Seq(
      Seq(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 10.0)),
      Seq(Event(2, ts("2024-01-03 00:00:00"), 1, "click", 1.0)), // watermark → 01-02 23:00
      Seq(Event(3, ts("2024-01-01 11:00:00"), 1, "click", 99.0)), // LATE — dropped
      Seq(Event(4, ts("2024-01-05 00:00:00"), 1, "click", 2.0))))
    val day1 = rows.find(_.getAs[Timestamp]("day_start") == ts("2024-01-01 00:00:00"))
    assert(day1.isDefined)
    // the late 99.0 must NOT be in the day-1 aggregate
    assert(day1.get.getAs[Double]("avg_value") === 10.0)
    assert(day1.get.getAs[Long]("n") === 1L)
  }

  test("complete vs update output modes (the §2.10 sink-mode row)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // complete mode: every trigger re-emits the full aggregate state
    val in = MemoryStream[Event]
    val counts = in.toDF().groupBy($"event_type").count()
    val name = s"mem_${System.nanoTime()}"
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap === Map("click" -> 1L))
      in.addData(Event(2, ts("2024-01-01 11:00:00"), 1, "click", 1.0),
        Event(3, ts("2024-01-01 12:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // full state again — click count REPLACED with 2, not appended
      assert(spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1))
        .toMap === Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("checkpointed file sink resumes exactly-once across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val (out, ckpt) = (s"$dir/out", s"$dir/ckpt")
    // the streaming upgrade of the reference's watermark+append pattern:
    // the checkpoint replaces the MAX(date) sink read as the resume point
    def start(in: MemoryStream[Event]) =
      in.toDF().select($"event_id", $"event_type", $"value")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode(OutputMode.Append).start()

    val in1 = MemoryStream[Event]
    val q1 = start(in1)
    in1.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 11:00:00"), 1, "view", 2.0))
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() === 2)

    // "restart": a new query over a replayed source, same checkpoint +
    // sink. The replayed history batch (offset 0) is already recorded in
    // the checkpoint, so it must NOT be written again — only the new
    // batch lands. This is the exactly-once upgrade over the reference's
    // at-least-once WRITE_APPEND (energy_etl.py:105).
    val in2 = MemoryStream[Event]
    in2.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(2, ts("2024-01-01 11:00:00"), 1, "view", 2.0)) // replayed history
    in2.addData(Event(3, ts("2024-01-01 12:00:00"), 2, "click", 3.0)) // new
    val q2 = start(in2)
    q2.processAllAvailable(); q2.stop()
    val ids = spark.read.parquet(out).select($"event_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L), s"got ${ids.toSeq}") // no dups, no loss
  }

  test("file-source incremental ingest: new files picked up, old ones not reprocessed") {
    import spark.implicits._
    // the actual 100 TB pattern: a landing directory of parquet files,
    // readStream + checkpoint = the watermark (energy_etl.py:41-48
    // upgraded); each trigger processes only unseen files
    val dir = java.nio.file.Files.createTempDirectory("graft_files").toString
    val (src, out, ckpt) = (s"$dir/src", s"$dir/out", s"$dir/ckpt")
    new java.io.File(src).mkdirs()

    def writeBatch(tag: Long, n: Int): Unit =
      (1 to n).map(i => (tag * 100 + i, s"e$tag", i.toDouble))
        .toDF("event_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)

    writeBatch(1, 3)
    val schema = spark.read.parquet(src).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .groupBy($"event_type").agg(count(lit(1)).as("n"), sum($"value").as("s"))
        .writeStream.format("memory").queryName("file_agg")
        .outputMode(OutputMode.Complete)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(spark.table("file_agg").collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap === Map("e1" -> 3L))

    writeBatch(2, 2)
    runOnce()
    // restart from the checkpoint: batch 1 files not reprocessed, new
    // files aggregated into the complete-state output
    assert(spark.table("file_agg").collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap === Map("e1" -> 3L, "e2" -> 2L))
  }

  test("streaming daily aggregate == batch daily aggregate on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // consistency across the two execution modes: the reference's daily
    // mean computed by the batch path and the streaming path must agree
    val rows = graft.util.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq.sortBy(_.event_id).take(300)
    val in = MemoryStream[Event]
    in.addData(rows)
    val name = s"mem_${System.nanoTime()}"
    val q = in.toDF()
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("s"))
      .select($"window.start".cast("date").as("day"), $"event_type", $"n", $"s")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(name).collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) ->
          (r.getLong(2), math.round(r.getDouble(3) * 1e6))).toMap
      val batch = rows.toDS()
        .groupBy(to_date($"ts").as("day"), $"event_type")
        .agg(count(lit(1)).as("n"), sum($"value").as("s"))
        .collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) ->
          (r.getLong(2), math.round(r.getDouble(3) * 1e6))).toMap
      assert(streamed === batch)
    } finally q.stop()
    // Streams.dailyAvg over the same rows: one later flush event moves
    // the watermark past every day window, so Append mode emits them all
    val flush = Event(rows.map(_.event_id).max + 1,
      new Timestamp(rows.map(_.ts.getTime).max + 2L * 86400000L), 0L, "flush", 0.0)
    val in2 = MemoryStream[Event]
    val daily = runBatches(in2, Streams.dailyAvg(in2.toDF(), "1 hour")
        .select($"day_start".cast("date").as("day"), $"event_type", $"n", $"avg_value"),
      OutputMode.Append, Seq(rows, Seq(flush)))
      .map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getLong(2), math.round(r.getDouble(3) * 1e6))).toMap
    val batchMean = rows.toDS()
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"), avg($"value").as("avg_value"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getLong(2), math.round(r.getDouble(3) * 1e6))).toMap
    assert(daily === batchMean)
  }

  test("stream-stream windowed join matches the batch join on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two event streams joined on user within a ±1h event-time band —
    // the streaming form of the as-of/interval join family
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val l = clicks.toDF().filter($"event_type" === "click")
      .select($"user_id".as("u"), $"ts".as("cts"), $"event_id".as("cid"))
      .withWatermark("cts", "1 hour")
    val r = views.toDF().filter($"event_type" === "view")
      .select($"user_id".as("u2"), $"ts".as("vts"), $"event_id".as("vid"))
      .withWatermark("vts", "1 hour")
    val joined = l.join(r, $"u" === $"u2" &&
      $"vts" >= $"cts" - org.apache.spark.sql.functions.expr("interval 1 hour") &&
      $"vts" <= $"cts" + org.apache.spark.sql.functions.expr("interval 1 hour"))
    val name = s"mem_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        Event(1, ts("2024-01-01 10:00:00"), 7, "click", 1.0),
        Event(2, ts("2024-01-01 15:00:00"), 7, "click", 1.0))
      views.addData(
        Event(10, ts("2024-01-01 10:30:00"), 7, "view", 1.0), // joins cid=1
        Event(11, ts("2024-01-01 12:00:00"), 7, "view", 1.0), // joins nothing
        Event(12, ts("2024-01-01 15:30:00"), 8, "view", 1.0)) // wrong user
      q.processAllAvailable()
      val pairs = spark.table(name).collect()
        .map(row => (row.getAs[Long]("cid"), row.getAs[Long]("vid"))).toSet
      assert(pairs === Set((1L, 10L)))
    } finally q.stop()
  }

  test("foreachBatch upsert sink: duplicate micro-batch keys resolved on read") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_feb").toString
    val sink = s"$dir/sink"
    val in = MemoryStream[Event]
    // production idempotent-append pattern: foreachBatch stamps each
    // micro-batch's rows with the batch id (the load_date analog), and
    // readers resolve duplicates with Pipeline.readDeduped
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.groupBy(to_date($"ts").as("date"), $"event_type".as("group_key"))
          .agg(sum($"value").as("avg_value"), count(lit(1)).as("n"))
          .withColumn("load_date", org.apache.spark.sql.functions
            .date_add(org.apache.spark.sql.functions.lit("2024-01-01").cast("date"), id.toInt))
          .write.mode("append").parquet(sink)
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      in.addData(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 10.0))
      q.processAllAvailable()
      in.addData(Event(2, ts("2024-01-01 11:00:00"), 1, "click", 30.0)) // same key, new batch
      q.processAllAvailable()
      assert(spark.read.parquet(sink).count() === 2) // both appends present
      val latest = graft.etl.Pipeline.readDeduped(spark, sink)
      assert(latest.count() === 1)
      assert(latest.select($"avg_value").as[Double].head() === 30.0) // latest batch wins
    } finally q.stop()
  }

  test("upsertSink: micro-batched stream converges to the batch state, " +
    "and a replayed batch is a no-op (idempotent exactly-once)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sink = java.nio.file.Files.createTempDirectory("graft_us").toString + "/sink"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_us_ck").toString
    val events = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 10.0),
      Event(2, ts("2024-01-01 12:00:00"), 1, "click", 20.0), // later click same day
      Event(3, ts("2024-01-01 13:00:00"), 2, "view", 5.0),
      Event(4, ts("2024-01-02 09:00:00"), 1, "click", 7.0),
      Event(5, ts("2024-01-02 11:00:00"), 2, "click", 9.0)) // replaces day-2 click
    val in = MemoryStream[Event]
    val q = Streams.upsertSink(in.toDF(), sink, ckpt)
    try {
      Seq(events.take(2), events.slice(2, 4), events.drop(4))
        .foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def state() = spark.read.parquet(sink)
      .select($"date".cast("string"), $"group_key", $"latest_event_id", $"value")
      .as[(String, String, Long, Double)].collect().toSet
    val expected = Streams.latestPerKey(events.toDF())
      .select($"date".cast("string"), $"group_key", $"latest_event_id", $"value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(state() === expected)
    assert(expected.contains(("2024-01-01", "click", 2L, 20.0))) // later won
    assert(expected.contains(("2024-01-02", "click", 5L, 9.0)))  // cross-batch replace
    // crash-replay: re-apply the LAST micro-batch's write verbatim —
    // the sink state must not change (this is the exactly-once claim)
    graft.etl.Pipeline.upsert(spark,
      Streams.latestPerKey(events.drop(4).toDF()), sink)
    assert(state() === expected)
  }
}
