package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the incremental inventory
  * (SURVEY.md §2.10). The reference is a repeated-batch incremental
  * pipeline (energy_etl.py:41-48 watermark, :105 append); these are the
  * always-on equivalents: event-time windows + watermarks replace the
  * MAX(date) resume point, and the checkpoint replaces the sink-derived
  * watermark — upgrading the reference's at-least-once append to
  * exactly-once sink semantics.
  *
  * All transforms take an un-bounded DataFrame (from readStream or
  * MemoryStream) and return a streaming DataFrame — tested with
  * MemoryStream in StreamingSpec (no oracle: runtime semantics,
  * SURVEY.md §5.2.4).
  *
  * Scale notes: every stateful op below keys its state by a
  * high-cardinality column (event_type/user_id), so state shards across
  * executors; watermarks bound state size — without them a 100 TB/day
  * stream accretes unbounded window state.
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

  /** Session windows per user with a 30-minute gap. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sval"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n"), col("sval"))

  /** Stateful exact dedup on event_id, state bounded by the watermark
    * (SURVEY.md §2.10 "stateful dedup"). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join with event-time range + watermarks on
    * BOTH sides (SURVEY.md §2.10): each click joins the purchases the
    * same user makes within the next hour. The watermark pair plus the
    * two-sided time bound is what lets Spark expire join state — without
    * either, a 100 TB/day stream buffers forever. Self-join of one
    * input stream (clicks vs purchases are filters of the same source),
    * the standard enrichment shape.
    * Condition uses half-open [c_ts, c_ts + 1h) so an event never
    * matches purchases exactly one hour later (boundary pinned in
    * StreamingSpec). */
  def clickPurchaseJoin(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    clickPurchaseJoinImpl(events, horizon, "inner")

  /** Stream-stream LEFT OUTER time-bounded join (SURVEY.md §2.10) —
    * [[clickPurchaseJoin]]'s outer form, the remaining streaming join
    * mode real funnels need: every click emits; purchases inside
    * [c_ts, c_ts + horizon) attach; a click with NO purchase in its
    * horizon emits EXACTLY ONCE with null purchase columns — and only
    * when the global watermark (min of both sides) passes the end of
    * its horizon, because until then a matching purchase could still
    * arrive. That late, single null-emission is the semantic difference
    * from batch: a still-open click (horizon not yet expired at
    * end-of-stream) sits in state and has emitted nothing — pinned in
    * StreamingSpec against the batch twin under arbitrary slicing.
    * Scale: identical bounded state to the inner form (both sides
    * expired by watermark); the null path adds no state, only the scan
    * of expiring left rows Spark already performs at eviction. */
  def clickPurchaseJoinOuter(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    clickPurchaseJoinImpl(events, horizon, "left_outer")

  /** FULL OUTER form — completes the stream-stream join mode matrix
    * (inner / left / full; right is left with sides swapped): unmatched
    * CLICKS null-pad like the left join, and unmatched PURCHASES
    * (bought with no qualifying prior click — organic conversions) also
    * emit exactly once, when the watermark passes the latest click time
    * that could still claim them (their p_ts, since c_ts ≤ p_ts).
    * Same bounded state as the inner form. */
  def clickPurchaseJoinFull(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    clickPurchaseJoinImpl(events, horizon, "full_outer")

  private def clickPurchaseJoinImpl(
      events: DataFrame, horizon: String, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value").as("amount"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      expr(s"c_user = p_user AND p_ts >= c_ts AND p_ts < c_ts + interval $horizon"),
      joinType)
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("c_ts"), col("p_ts"), col("amount"))
  }

  /** Stream-static enrichment join (SURVEY.md §2.10) — the streaming
    * twin of every fact⋈dim broadcast in ops/Joins: each micro-batch of
    * the stream joins the STATIC dim frame. The static side carries no
    * watermark and no join state — Spark re-plans the join per batch
    * (broadcasting a small dim), and because the dim is re-read from its
    * source each micro-batch, a dim REFRESH (new parquet files in the
    * dim dir) is picked up without restarting the query — the
    * slowly-changing-dim pattern at streaming speed. LEFT OUTER keeps
    * stream rows with no dim match ('unknown' segment), which is the
    * only outer direction stream-static supports. Output: per
    * (day, segment) counts and sums under the usual watermark bound.
    * Scale: state is the windowed aggregate only (keyed by
    * day×|segments|); the join itself is stateless. */
  def enrichWithDim(
      events: DataFrame,
      dim: DataFrame, // static (user_id, segment)
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim), Seq("user_id"), "left_outer")
      .select(col("ts"),
        coalesce(col("segment"), lit("unknown")).as("segment"),
        col("value"))
      .groupBy(window(col("ts"), "1 day"), col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("day_start"), col("segment"),
        col("n"), col("sum_value"))

  /** Always-on polling ingest — the reference's SCHEDULED fetch loop
    * (cron → energy_etl.py run) as a live streaming query: a rate
    * source fires ticks, and foreachBatch runs the caller's
    * fetch-and-transform closure (typically HttpSource.fetch over
    * watermark-derived URLs → parse → daily mean, i.e.
    * Pipeline.runIncremental's body) once per MICRO-BATCH — a batch can
    * absorb several rate ticks if fetching outlasts the trigger
    * interval. The append is AT-LEAST-ONCE: after a crash the
    * checkpoint replays the unacknowledged batch and the closure runs
    * again for the same batchId, so exactly-once is the CALLER's
    * contract — key the fetch off a re-read watermark (a replayed run
    * becomes a no-op, the reference's own recipe) or write via
    * Pipeline.runIncremental's partition-overwrite mode keyed by date.
    * `fetchBatch` receives the batch id; returning an empty frame skips
    * the write.
    * Returns the started query — caller owns awaitTermination/stop. */
  def pollingIngest(
      ticks: DataFrame, // a rate source (or MemoryStream in tests)
      sinkDir: String,
      checkpointDir: String)(
      fetchBatch: Long => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    ticks
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val fetched = fetchBatch(batchId)
          if (!fetched.isEmpty)
            fetched.write.mode("append").parquet(sinkDir)
        }
      }
      .start()

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
    * dynamic partition overwrite). Replacement semantics require the
    * event-time-ordered batch contract [[attribution]] documents — a
    * later batch for a key carries later-or-equal event time.
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
    * tests (and replay audits) can apply the identical transform to a
    * static frame.
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

  /** Per-user running state via typed flatMapGroupsWithState: emits one
    * row per input event carrying the user's running count and mean —
    * the custom-state surface (KeyValueGroupedDataset, SURVEY.md §2.10).
    * State is a 2-tuple per user; timeout NoTimeout keeps it simple for
    * the MemoryStream tests (production: event-time timeout). */
  def runningUserStats(events: Dataset[Event]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserStat](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[UserState]) =>
          var st = state.getOption.getOrElse(UserState(0L, 0.0))
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            st = UserState(st.n + 1, st.sum + e.value)
            UserStat(uid, e.event_id, st.n, st.sum / st.n)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming CDC compaction — the continuous twin of the batch
    * q_cdc_merge operator: per-key latest-wins state ((ts, event_id)
    * max) with per-key op count, emitting the CURRENT snapshot row for
    * each key touched in a micro-batch (Update semantics; a tombstoned
    * key still emits so the sink can delete it — `last_op == 'error'`
    * marks deletion). StreamingSpec pins the final state equal to the
    * batch operator over the same rows regardless of batch slicing. */
  def cdcSnapshot(events: Dataset[Event]): Dataset[CdcRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcState, CdcRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[CdcState]) =>
          var st = state.getOption.orNull
          rows.foreach { e =>
            val newer = st == null ||
              e.ts.getTime > st.ts.getTime ||
              (e.ts.getTime == st.ts.getTime && e.event_id > st.eventId)
            val n = (if (st == null) 0L else st.nOps) + 1
            st = if (newer) CdcState(e.ts, e.event_id, e.event_type, e.value, n)
                 else st.copy(nOps = n)
          }
          state.update(st)
          Iterator(CdcRow(uid, st.op, st.value, st.ts, st.nOps))
      }
  }

  /** Streaming last-touch attribution — the continuous twin of the
    * batch q_attribution operator: per-user state holds the most
    * recent non-purchase touch; each purchase emits immediately with
    * the credited channel ('direct' when no prior touch). State is one
    * tiny record per user (bounded by |users|, shardable on the key).
    *
    * ORDER CONTRACT (stronger than cdcSnapshot's): attribution is NOT
    * commutative — a purchase must not be credited to a touch that
    * arrives in a LATER micro-batch even if its event time is earlier.
    * Within a batch rows replay in (epoch-second, event_id) order (the
    * batch operator's exact tie rule); across batches the caller must
    * feed event-time-ordered batches (the normal log-replay /
    * watermarked-source situation). StreamingSpec pins equality with
    * the batch operator under day-sliced batching. */
  def attribution(events: Dataset[Event]): Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttributedPurchase](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[TouchState]) =>
          val ordered = rows.toSeq.sortBy(e => (e.ts.getTime / 1000, e.event_id))
          var st = state.getOption.orNull
          val out = Seq.newBuilder[AttributedPurchase]
          ordered.foreach { e =>
            if (e.event_type == "purchase")
              out += AttributedPurchase(e.event_id, uid,
                if (st == null) "direct" else st.channel, e.value)
            else {
              val newer = st == null ||
                e.ts.getTime / 1000 > st.ts.getTime / 1000 ||
                (e.ts.getTime / 1000 == st.ts.getTime / 1000 &&
                  e.event_id > st.eventId)
              if (newer) st = TouchState(e.ts, e.event_id, e.event_type)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }
}

object IncrementalTopK {
  /** Incremental top-k similarity maintenance (cf. PAPERS.md: top-k
    * similarity search in interactive sessions, EDBT 2020 — public):
    * candidate (query, neighbor, score) pairs stream in; per-query state
    * holds only the current top-k, so state is O(k) per query
    * regardless of how many candidates ever arrived. Emits the updated
    * top-k snapshot for each query touched in a batch.
    *
    * Scale: candidates are produced upstream by any pruning scheme (LSH
    * bucket, IVF cell); this operator never re-ranks history — the
    * incremental merge is associative, so the result equals the batch
    * top-k over all arrivals (pinned by StreamingSpec). */
  def run(pairs: Dataset[CandidatePair], k: Int): Dataset[TopKSnapshot] = {
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(_.qid)
      .flatMapGroupsWithState[List[(Long, Double)], TopKSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[CandidatePair],
         state: GroupState[List[(Long, Double)]]) =>
          val merged = (state.getOption.getOrElse(Nil) ++
            rows.map(p => (p.nid, p.score)))
            .sortBy { case (nid, s) => (-s, nid) } // score desc, id asc
            .take(k)
          state.update(merged)
          Iterator.single(TopKSnapshot(qid,
            merged.map(_._1).toArray, merged.map(_._2).toArray))
      }
  }
}

case class CandidatePair(qid: Long, nid: Long, score: Double)
case class TopKSnapshot(qid: Long, neighbor_ids: Array[Long],
    scores: Array[Double])

/** Typed row for the flatMapGroupsWithState surface. */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)
case class UserState(n: Long, sum: Double)
case class CdcState(ts: java.sql.Timestamp, eventId: Long, op: String,
    value: Double, nOps: Long)
case class CdcRow(user_id: Long, last_op: String, last_value: Double,
    last_ts: java.sql.Timestamp, n_ops: Long)
case class UserStat(user_id: Long, event_id: Long, running_n: Long,
    running_avg: Double)
case class TouchState(ts: java.sql.Timestamp, eventId: Long, channel: String)
case class AttributedPurchase(event_id: Long, user_id: Long,
    channel: String, value: Double)

