package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming forms of the reference's daily job (SURVEY.md
  * §2.10). The reference is a repeated-batch incremental pipeline
  * (energy_etl.py:41-48 watermark, :105 append); here an event-time
  * window + watermark replaces the MAX(date) resume point, and the
  * checkpoint plus an idempotent upsert replaces the reference's
  * at-least-once append.
  *
  * [[dailyAvg]] and [[upsertSink]] take an unbounded DataFrame (from
  * readStream or MemoryStream) — tested with MemoryStream in StreamingSpec
  * (no oracle: runtime semantics, SURVEY.md §5.2.4). The watermark bounds
  * [[dailyAvg]]'s window state; [[upsertSink]] keeps no state beyond
  * its checkpoint.
  */
object Streams {

  /** Tumbling daily mean per group — the streaming form of the
    * reference's core computation (energy_etl.py:69-70). Late rows
    * beyond the watermark are dropped, bounding state. */
  def dailyAvg(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(avg(col("value")).as("avg_value"), count(lit(1)).as("n"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("avg_value"), col("n"))

  /** Streaming → lakehouse upsert sink: foreachBatch +
    * [[graft.etl.Pipeline.upsert]]. foreachBatch is AT-LEAST-ONCE (a
    * crashed micro-batch replays under the same batchId), so the
    * end-to-end exactly-once guarantee comes from the WRITE being
    * idempotent: each batch compacts to the LATEST reading per
    * (date, group_key) — last (ts, event_id) wins, the CDC
    * current-state shape — and the upsert REPLACES those keys, so a
    * replayed batch converges to the identical sink state instead of
    * duplicating (the reference's append-duplication hole, closed at
    * the streaming tier; same mechanism as Pipeline.runIncremental's
    * dynamic partition overwrite).
    *
    * Order contract: the caller feeds event-time-ordered batches — a
    * later batch for a key carries later-or-equal event time (the
    * normal log-replay / watermarked-source situation). Within a batch
    * the latest (ts, event_id) wins; across batches the later batch
    * replaces the key outright, so a batch that carried an older
    * reading would overwrite a newer one.
    * The sink write is |touched keys|-scale per batch, never
    * |rows|-scale; state is the checkpoint only (the join-free
    * aggregate runs inside each batch). */
  def upsertSink(
      events: DataFrame,
      sinkDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // no isEmpty pre-probe (r14): that was one extra Spark job per
        // micro-batch. Pipeline.upsert handles the empty delta itself:
        // its checkpoint observes no affected partitions and it returns
        // 0 before touching the sink, so a no-data batch never creates
        // the sink dir.
        graft.etl.Pipeline.upsert(batch.sparkSession,
          latestPerKey(batch), sinkDir): Unit
      }
      .start()

  /** The per-batch compaction [[upsertSink]] writes: latest value per
    * (date, group_key=event_type), ties broken by event_id — exposed so
    * Bench, perfbench and tests can apply the identical transform to a
    * static frame and compare the sink against it.
    *
    * r14: expressed as max(struct(ts, event_id, value)) instead of a
    * row_number window (guide §2.3 "aggregate before you shuffle"): the
    * struct compares lexicographically on (ts, event_id) — exactly the
    * window's (ts DESC, event_id DESC) rank-1 pick, and (ts, event_id)
    * is unique per batch so the carried `value` is deterministic — but
    * the hash aggregate partial-aggregates map-side, shuffling ≤|keys|
    * partial states per batch instead of every row into a sort, and
    * drops the per-batch WindowExec + Sort from each micro-batch plan. */
  def latestPerKey(batch: DataFrame): DataFrame =
    batch
      .groupBy(to_date(col("ts")).as("date"),
        col("event_type").as("group_key"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("_m"))
      .select(col("date"), col("group_key"),
        col("_m.event_id").as("latest_event_id"), col("_m.value").as("value"))
}

/** Typed event row that Bench and perfbench stream through
  * [[Streams.upsertSink]] via MemoryStream. */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)
