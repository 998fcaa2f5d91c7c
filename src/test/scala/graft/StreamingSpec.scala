package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions.{count, lit, round, sum, to_date, window}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Event, Streams}

/** Structured Streaming runtime semantics (no oracle — SURVEY.md §5.2.4):
  * watermark late-drop, windowed aggregation, stateful dedup, and the
  * flatMapGroupsWithState custom-state surface, all driven through
  * MemoryStream micro-batches. */
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

  test("dropDuplicatesWithinWatermark deduplicates repeated event_ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val rows = runBatches(in, Streams.dedupWithinWatermark(in.toDF(), "1 hour"),
      OutputMode.Append, Seq(
        Seq(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
            Event(1, ts("2024-01-01 10:00:01"), 1, "click", 1.0)), // dup in-batch
        Seq(Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0), // dup cross-batch
            Event(2, ts("2024-01-01 10:10:00"), 1, "view", 2.0))))
    assert(rows.map(_.getAs[Long]("event_id")).sorted.toSeq === Seq(1L, 2L))
  }

  test("flatMapGroupsWithState carries running per-user state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val out = Streams.runningUserStats(in.toDS()).toDF()
    val rows = runBatches(in, out, OutputMode.Append, Seq(
      Seq(Event(1, ts("2024-01-01 10:00:00"), 7, "click", 10.0)),
      Seq(Event(2, ts("2024-01-01 11:00:00"), 7, "click", 30.0),
          Event(3, ts("2024-01-01 12:00:00"), 8, "view", 5.0))))
    val byEvent = rows.map(r =>
      r.getAs[Long]("event_id") -> (r.getAs[Long]("running_n"), r.getAs[Double]("running_avg"))).toMap
    assert(byEvent(1L) === ((1L, 10.0)))
    assert(byEvent(2L) === ((2L, 20.0))) // state survived the batch boundary
    assert(byEvent(3L) === ((1L, 5.0)))  // independent per-key state
  }

  test("streaming CDC compaction == batch q_cdc_merge over the same " +
    "rows, regardless of micro-batch slicing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the real fixture changelog, sliced into 3 micro-batches
    val events = graft.util.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[graft.streaming.Event].collect().toSeq
    val batches = Seq(
      events.filter(_.event_id % 3 == 0),
      events.filter(_.event_id % 3 == 1),
      events.filter(_.event_id % 3 == 2))
    val in = MemoryStream[graft.streaming.Event]
    val out = Streams.cdcSnapshot(in.toDS()).toDF()
    val rows = runBatches(in, out, OutputMode.Update, batches)
    // final snapshot = each user's emit with the max (monotonic) n_ops
    val fin = rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).getTime / 1000, r.getLong(4)))
      .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._5) }
      .filter(_._2 != "error") // tombstoned keys deleted downstream
      .map(t => t._1 -> (t._2, t._3, t._4, t._5)).toMap
    val batch = SparkEntry.all("q_cdc_merge").fn(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(fin === batch)
  }

  test("streaming attribution == batch q_attribution under event-time-" +
    "ordered micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.util.Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[graft.streaming.Event].collect().toSeq
      .sortBy(e => (e.ts.getTime / 1000, e.event_id))
    // day-sliced batches: event-time order holds ACROSS batches (the
    // operator's documented order contract — attribution is not
    // commutative, unlike cdcSnapshot's latest-wins)
    val d10 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00").getTime
    val d20 = java.sql.Timestamp.valueOf("2024-01-20 00:00:00").getTime
    val batches = Seq(
      events.filter(_.ts.getTime < d10),
      events.filter(e => e.ts.getTime >= d10 && e.ts.getTime < d20),
      events.filter(_.ts.getTime >= d20))
    val in = MemoryStream[graft.streaming.Event]
    val out = Streams.attribution(in.toDS()).toDF()
    val rows = runBatches(in, out, OutputMode.Append, batches)
    // re-aggregate the streamed purchases with the batch operator's
    // exact decimal discipline, then compare collected row sets
    val streamed = rows.map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
      .toSeq.toDF("event_id", "channel", "value")
    val agg = streamed.groupBy($"channel")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum($"value".cast("decimal(28,10)")), 4).cast("double")
          .as("revenue"))
      .orderBy($"channel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val batch = SparkEntry.all("q_attribution").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(agg.toSeq === batch.toSeq)
    // every purchase emitted exactly once
    assert(rows.map(_.getLong(0)).distinct.size === rows.size)
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
    // readers use latest-wins dedup (Pipeline.readDeduped's rule)
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
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"date", $"group_key").orderBy($"load_date".desc)
      val latest = spark.read.parquet(sink)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter($"rn" === 1)
      assert(latest.count() === 1)
      assert(latest.select($"avg_value").as[Double].head() === 30.0) // latest batch wins
    } finally q.stop()
  }

  test("incremental top-k state equals the batch top-k over all arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{CandidatePair, IncrementalTopK}
    val in = MemoryStream[CandidatePair]
    val out = IncrementalTopK.run(in.toDS(), k = 3).toDF()
    val name = s"mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(CandidatePair(1, 10, 0.9), CandidatePair(1, 11, 0.5),
        CandidatePair(1, 12, 0.7))
      q.processAllAvailable()
      in.addData(CandidatePair(1, 13, 0.8), CandidatePair(1, 14, 0.1),
        CandidatePair(2, 20, 0.6))
      q.processAllAvailable()
      // last snapshot per query = incremental result
      val snaps = spark.table(name).collect()
      val q1 = snaps.filter(_.getAs[Long]("qid") == 1L).last
      assert(q1.getAs[Seq[Long]]("neighbor_ids") === Seq(10L, 13L, 12L))
      val q2 = snaps.filter(_.getAs[Long]("qid") == 2L).last
      assert(q2.getAs[Seq[Long]]("neighbor_ids") === Seq(20L))
      // equals the batch top-3 over ALL pairs
      val all = Seq((1L, 10L, 0.9), (1L, 11L, 0.5), (1L, 12L, 0.7),
        (1L, 13L, 0.8), (1L, 14L, 0.1))
      val batchTop = all.sortBy { case (_, n, s) => (-s, n) }.take(3).map(_._2)
      assert(q1.getAs[Seq[Long]]("neighbor_ids") === batchTop)
    } finally q.stop()
  }

  test("stream-stream join matches purchases within the horizon, half-open boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val rows = runBatches(in, Streams.clickPurchaseJoin(in.toDF(), "1 hour"),
      OutputMode.Append, Seq(
        Seq(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
            Event(2, ts("2024-01-01 10:30:00"), 1, "purchase", 50.0), // in horizon
            Event(3, ts("2024-01-01 11:00:00"), 1, "purchase", 70.0), // exactly +1h → excluded
            Event(4, ts("2024-01-01 10:30:00"), 2, "purchase", 9.0)), // other user
        Seq(Event(5, ts("2024-01-01 09:59:00"), 1, "purchase", 1.0),  // before the click
            Event(6, ts("2024-01-02 00:00:00"), 3, "click", 0.0))))   // advance watermark
    val pairs = rows.map(r =>
      (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
    assert(pairs === Set((1L, 2L)),
      s"expected only (click 1, purchase 2): ${rows.mkString(";")}")
  }

  test("stream-stream join result equals the equivalent batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      Event(2, ts("2024-01-01 10:10:00"), 1, "purchase", 5.0),
      Event(3, ts("2024-01-01 10:20:00"), 1, "click", 0.0),
      Event(4, ts("2024-01-01 10:50:00"), 1, "purchase", 6.0),
      Event(5, ts("2024-01-01 13:00:00"), 2, "click", 0.0),
      Event(6, ts("2024-01-01 13:30:00"), 2, "purchase", 7.0),
      Event(7, ts("2024-01-02 12:00:00"), 9, "click", 0.0)) // watermark flush
    val in = MemoryStream[Event]
    val streamed = runBatches(in, Streams.clickPurchaseJoin(in.toDF(), "1 hour"),
      OutputMode.Append, Seq(events.take(4), events.drop(4)))
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
    val batch = Streams.clickPurchaseJoin(events.toDF(), "1 hour")
      .collect().map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"))).toSet
    assert(streamed === batch)
    assert(streamed === Set((1L, 2L), (1L, 4L), (3L, 4L), (5L, 6L)))
  }

  test("stream-stream LEFT OUTER join: unmatched clicks emit null-padded " +
    "exactly once at watermark expiry; matches equal the inner join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val rows = runBatches(in, Streams.clickPurchaseJoinOuter(in.toDF(), "1 hour"),
      OutputMode.Append, Seq(
        Seq(Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
            Event(2, ts("2024-01-01 10:30:00"), 1, "purchase", 50.0), // in horizon
            Event(3, ts("2024-01-01 10:05:00"), 2, "click", 0.0)),    // never buys
        Seq(Event(4, ts("2024-01-01 11:05:00"), 3, "click", 0.0),     // never buys
            Event(5, ts("2024-01-01 11:04:00"), 4, "purchase", 1.0)),
        // flush: BOTH sides far future so the global watermark passes
        // every open horizon above
        Seq(Event(6, ts("2024-01-03 00:00:00"), 9, "click", 0.0),
            Event(7, ts("2024-01-03 00:00:00"), 9, "purchase", 2.0))))
    val got = rows.map(r => (r.getAs[Long]("click_id"),
      Option(r.getAs[java.lang.Long]("purchase_id")).map(_.toLong))).toSet
    // click 1 matched; clicks 3 and 4 emitted once, null-padded; the
    // flush click (user 9) matched its own purchase; nothing duplicated
    assert(got === Set((1L, Some(2L)), (3L, None), (4L, None), (6L, Some(7L))),
      rows.mkString(";"))
    assert(rows.length === got.size, "a null-padded row emitted more than once")
  }

  test("stream-stream LEFT OUTER join equals the batch left join under " +
    "arbitrary slicing, modulo still-open clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      Event(2, ts("2024-01-01 10:10:00"), 1, "purchase", 5.0),
      Event(3, ts("2024-01-01 10:20:00"), 1, "click", 0.0),
      Event(4, ts("2024-01-01 11:00:00"), 1, "purchase", 6.0), // +1h from click1: excluded for it
      Event(5, ts("2024-01-01 13:00:00"), 2, "click", 0.0),    // never buys
      Event(6, ts("2024-01-01 13:30:00"), 3, "purchase", 7.0)) // never clicked
    val flush = Seq(
      Event(8, ts("2024-01-03 00:00:00"), 9, "click", 0.0),
      Event(9, ts("2024-01-03 00:05:00"), 9, "purchase", 2.0))
    def pairs(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getAs[Long]("click_id"),
        Option(r.getAs[java.lang.Long]("purchase_id")).map(_.toLong))).toSet
    // the flush click's own horizon never expires → it appears in the
    // batch twin but not in the stream; compare on the real users
    val batch = pairs(Streams.clickPurchaseJoinOuter((events ++ flush).toDF(), "1 hour")
      .collect().toIndexedSeq).filterNot(_._1 == 8L)
    for (slicing <- Seq(
      Seq(events.take(3), events.drop(3), flush),
      Seq(events.take(1), events.slice(1, 5), events.drop(5) ++ flush),
      Seq(events, flush))) {
      val in = MemoryStream[Event]
      val streamed = pairs(runBatches(in,
        Streams.clickPurchaseJoinOuter(in.toDF(), "1 hour"),
        OutputMode.Append, slicing).toIndexedSeq).filterNot(_._1 == 8L)
      assert(streamed === batch, s"slicing $slicing")
    }
    // click 1 matches purchase 2 only (purchase 4 is exactly +1h, excluded
    // by the half-open bound); click 3 matches purchase 4; click 5 never
    // buys; purchase 6's user never clicked → absent from a LEFT join
    assert(batch === Set((1L, Some(2L)), (3L, Some(4L)), (5L, None)))
  }

  test("stream-stream FULL OUTER join: both sides' unmatched rows emit " +
    "null-padded exactly once; equals the batch full join under slicing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0.0),
      Event(2, ts("2024-01-01 10:10:00"), 1, "purchase", 5.0),  // matched
      Event(3, ts("2024-01-01 11:00:00"), 2, "click", 0.0),     // never buys
      Event(4, ts("2024-01-01 11:30:00"), 3, "purchase", 7.0))  // organic: no click
    val flush = Seq(
      Event(8, ts("2024-01-03 00:00:00"), 9, "click", 0.0),
      Event(9, ts("2024-01-03 00:05:00"), 9, "purchase", 2.0))
    def pairs(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r =>
      (Option(r.getAs[java.lang.Long]("click_id")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("purchase_id")).map(_.toLong))).toSet
    // the flush pair matches itself and appears in both twins; strip it
    def real(s: Set[(Option[Long], Option[Long])]) =
      s.filterNot { case (c, p) => c.contains(8L) || p.contains(9L) }
    val batch = real(pairs(Streams.clickPurchaseJoinFull(
      (events ++ flush).toDF(), "1 hour").collect().toIndexedSeq))
    for (slicing <- Seq(
      Seq(events, flush),
      Seq(events.take(2), events.drop(2) ++ flush),
      Seq(events.take(3), events.drop(3), flush))) {
      val in = MemoryStream[Event]
      val streamed = real(pairs(runBatches(in,
        Streams.clickPurchaseJoinFull(in.toDF(), "1 hour"),
        OutputMode.Append, slicing).toIndexedSeq))
      assert(streamed === batch, s"slicing $slicing")
    }
    assert(batch === Set(
      (Some(1L), Some(2L)),   // matched within the horizon
      (Some(3L), None),       // click that never converted
      (None, Some(4L))))      // organic purchase, no prior click
  }

  test("session windows merge events within the gap and split across it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val rows = runBatches(in, Streams.sessions(in.toDF(), "30 minutes"),
      OutputMode.Append, Seq(
        Seq(Event(1, ts("2024-01-01 10:00:00"), 1, "c", 1.0),
            Event(2, ts("2024-01-01 10:20:00"), 1, "c", 2.0),  // same session
            Event(3, ts("2024-01-01 12:00:00"), 1, "c", 4.0)), // new session
        Seq(Event(4, ts("2024-01-02 00:00:00"), 2, "c", 0.0)))) // flush watermark
    val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
      .map(r => (r.getAs[Timestamp]("session_start"), r.getAs[Long]("n"))).toSet
    assert(u1 === Set((ts("2024-01-01 10:00:00"), 2L), (ts("2024-01-01 12:00:00"), 1L)))
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

  test("stream-static enrichment join == the batch join, with unmatched " +
    "stream rows kept (left outer)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    val events = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "click", 10.0),
      Event(2, ts("2024-01-01 12:00:00"), 2, "click", 5.0),
      Event(3, ts("2024-01-01 13:00:00"), 1, "click", 2.0),
      Event(4, ts("2024-01-01 14:00:00"), 9, "click", 1.0), // no dim row
      Event(5, ts("2024-01-02 09:00:00"), 2, "click", 4.0))
    val in = MemoryStream[Event]
    // arbitrary micro-batch slicing must not change the result
    val rows = runBatches(in, Streams.enrichWithDim(in.toDF(), dim),
      OutputMode.Complete,
      Seq(events.take(2), events.slice(2, 4), events.drop(4)))
    val got = rows.map(r => (r.getAs[Timestamp]("day_start"),
      r.getAs[String]("segment"), r.getAs[Long]("n"),
      r.getAs[Double]("sum_value"))).toSet
    val expected = Set(
      (ts("2024-01-01 00:00:00"), "gold", 2L, 12.0),
      (ts("2024-01-01 00:00:00"), "basic", 1L, 5.0),
      (ts("2024-01-01 00:00:00"), "unknown", 1L, 1.0),
      (ts("2024-01-02 00:00:00"), "basic", 1L, 4.0))
    assert(got === expected)
  }
}
