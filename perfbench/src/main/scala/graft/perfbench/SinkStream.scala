package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import graft.streaming.{Event, Streams}

/** The streaming tier and the sink's maintenance verbs: the sf0.1
  * `events` table replayed in event-time order as seed-cut micro-batches
  * through `Streams.upsertSink`, then one maintenance cycle on that sink
  * — an upsert of seed-chosen corrections, a keyed delete, a small-file
  * scatter plus `compact`, and two versioned snapshots plus a
  * time-travel read. Staging and every check are untimed. */
object SinkStream {
  /** Timed micro-batches for a run of `seconds` (a batch takes about one
    * second on four cores; the maintenance cycle takes five). */
  def batches(seconds: Int): Int = math.max(1, seconds / 5)

  /** Untimed first batches: the first starts the query, the second
    * still reads about twice the steady time. */
  val warmBatches = 2

  val upsertKeys = 12
  val deleteKeys = 6

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = new java.io.File(r.work, "stream_sink").getPath

    // staging: the events table, read through the engine's own loader,
    // in driver memory in event-time order
    val events = r.call("stage.events") {
      graft.util.Tables.events(spark, FixtureGen.cached(spark, r.work.getParentFile))
    }
    val rows = events.select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val cuts = Gen.batchCuts(r.seed, rows.length, warmBatches + batches(r.seconds))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val q = r.call("streaming.upsertSink") {
      Streams.upsertSink(in.toDF(), sink, new java.io.File(r.work, "ckpt").getPath)
    }
    try cuts.indices.init.foreach { i =>
      r.op("batch", i.toString, timed = i >= warmBatches) {
        r.call("streaming.batch") {
          in.addData(rows.slice(cuts(i), cuts(i + 1)).toSeq)
          q.processAllAvailable()
        }
        true
      }
    } finally q.stop()
    val latest = Streams.latestPerKey(events)
    r.check("stream-sink")(same(spark.read.parquet(sink), latest))

    // maintenance targets: seed-chosen (date, group_key) keys of the sink
    val keys = spark.read.parquet(sink).select("date", "group_key")
      .orderBy("date", "group_key").collect().map(k => (k.getDate(0), k.getString(1)))
    val picked = Gen.sample(r.seed, "maintenance", keys.length, upsertKeys + deleteKeys)
    val shuffled = Gen.shuffle(picked, Gen.rng(r.seed, "maintenance-split"))
    val corrected = shuffled.take(upsertKeys).map(keys)
    val deleted = shuffled.drop(upsertKeys).map(keys)
    val deltas = corrected.map { case (d, g) => (d, g, Gen.correction(r.seed, s"$d/$g")) }
      .toDF("date", "group_key", "delta")
    val filesBefore = Fs.dataFiles(new java.io.File(sink)).map(_._1).toSet

    val updates = spark.read.parquet(sink).join(deltas, Seq("date", "group_key"))
      .withColumn("value", col("value") + col("delta")).drop("delta")
      .localCheckpoint(eager = true)
    r.op("maint", "upsert")(r.call("etl.upsert")(Pipeline.upsert(spark, updates, sink)) > 0)
    val afterUpsert = latest.join(deltas, Seq("date", "group_key"), "left")
      .withColumn("value", col("value") + coalesce(col("delta"), lit(0.0))).drop("delta")
    r.check("upsert")(same(spark.read.parquet(sink), afterUpsert))

    val doomed = deleted.toSeq.toDF("date", "group_key")
    r.op("maint", "deleteKeys") {
      r.call("etl.deleteKeys")(Pipeline.deleteKeys(spark, doomed, sink,
        keyCols = Seq("date", "group_key"))) == deleteKeys
    }
    val afterDelete = afterUpsert.join(doomed, Seq("date", "group_key"), "left_anti")
    r.check("delete") {
      spark.read.parquet(sink).join(doomed, Seq("date", "group_key")).isEmpty &&
        same(spark.read.parquet(sink), afterDelete)
    }
    val filesAfter = Fs.dataFiles(new java.io.File(sink)).map(_._1).toSet
    r.layer("etl.files_rewritten") = (filesAfter -- filesBefore).size.toDouble

    val scattered = new java.io.File(r.work, "scattered").getPath
    spark.read.parquet(sink).repartition(32).write.parquet(scattered)
    val beforeCompact = Analytics.digest(spark.read.parquet(scattered))
    r.op("maint", "compact")(r.call("etl.compact")(Pipeline.compact(spark, scattered, 50L)) > 0)
    r.check("compact")(Analytics.digest(spark.read.parquet(scattered)) == beforeCompact)

    val vdir = new java.io.File(r.work, "versioned").getPath
    val v1 = spark.read.parquet(sink)
    val v2 = v1.withColumn("value", col("value") + lit(1.0))
    r.op("maint", "versioned") {
      r.call("etl.versioned") {
        Pipeline.writeVersioned(spark, v1, vdir)
        Pipeline.writeVersioned(spark, v2, vdir)
        Pipeline.readVersion(spark, vdir).write.format("noop").mode("overwrite").save()
      }
      true
    }
    r.check("time-travel") {
      same(Pipeline.readVersion(spark, vdir, Some(1)), afterDelete) &&
        same(Pipeline.readVersion(spark, vdir), v2)
    }

    val bs = r.timedSecs("batch")
    r.detail("stream_rows_per_s") =
      (cuts.last - cuts(warmBatches)) / bs.sum
    r.detail("stream_batch_p50_s") = Stats.median(bs)
    r.detail("stream_batch_p90_s") = Stats.tail(bs, 90)._2
    r.detail("maint_total_s") = r.timedSecs("maint").sum
  }

  /** Same rows, as multisets, whatever the column order. */
  def same(a: DataFrame, b: DataFrame): Boolean =
    a.columns.sorted.sameElements(b.columns.sorted) &&
      Analytics.digest(a) == Analytics.digest(b)
}
