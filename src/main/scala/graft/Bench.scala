package graft

/** Driver-run benchmark: wall-clock per declared query on
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query is fully materialized through the `noop` sink —
  * `.count()` would let Catalyst prune away projected columns and
  * under-measure. A generic warm-up (parquet scan + shuffle agg + sort)
  * runs first so the first timed query doesn't absorb JIT/codegen
  * startup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.util.Config.sfDir
    val cpus = graft.util.Session.defaultCores
    val spark = graft.util.Session(cpus)

    // pass 1 (untimed): warms JIT/codegen caches and materializes the
    // persisted dedup-pipeline intermediates, so pass 2 measures
    // steady-state query cost rather than which query happened to run
    // first. Sorted order so the warm pass is deterministic.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // drop cached intermediates: pass 2 re-runs every computation (only
    // JIT/codegen warmth carries over, not data)
    spark.catalog.clearCache()

    // re-materialize the family pipelines' persisted shared lineages
    // (dedup shingles→signatures→LSH→CC, PMI/log-prob unigram tables) as
    // an explicitly timed SHARED cost. Without this the alphabetically
    // first query touching each family absorbs the whole pipeline
    // rebuild (r4: q_corpus_report billed 13 s for two tiny aggregates),
    // so per-query numbers don't mean what they say. At 100 TB these
    // intermediates are a once-per-ingest bucketed table write, not a
    // per-query cost — timing them as one line item matches that shape.
    val tw0 = System.nanoTime()
    // memo keys carry a `|<dir>` suffix (one entry per sf dir); the
    // bench session only ever touches $sfDir, so drop it for display
    val warmTimes = graft.util.SessionMemo.warmPersistedTimed(spark)
      .map { case (k, v) => k.takeWhile(_ != '|') -> v }
    val warmSec = (System.nanoTime() - tw0) / 1e9
    val warmed = warmTimes.size

    // ---- contention sentinel (VERDICT r9 item 5): a fixed pure-CPU
    // probe (range sum, no IO, no shuffle) timed at intervals through
    // the run. The work is identical each sample, so the max/min spread
    // certifies quiet-box validity from the artifact alone — r9's three
    // closing runs spread 203-394 s with different queries slow each
    // time and only prose to attribute it to box contention.
    def sentinelProbe(): Double = {
      val t0 = System.nanoTime()
      // 2^26 rows (~0.3 s at local[32]): the earlier 2^24 probe ran
      // ~70 ms, small enough that per-task scheduling jitter alone
      // pushed checkpoint ratios past 2 on an otherwise healthy run
      spark.range(1L << 26).selectExpr("sum(id * 3 + 1) as s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // median-of-3 per checkpoint (VERDICT r10 item 1): a single probe
    // made the spread ambiguous — one GC-adjacent sample pushed max/min
    // to ~3 on a healthy box. The median of 3 back-to-back probes is
    // GC-robust while still catching sustained external load; raw
    // samples stay in the full JSON for forensics (4 per checkpoint:
    // the discarded re-warm first).
    //
    // The FIRST probe after ~24 queries of other work is a RE-WARM
    // TRANSIENT, not a load reading: it re-enters evicted codegen/JIT/
    // scheduler state and reads 3-5x the floor on a 0.1%-steal box
    // (r12 run-2 raw forensics: first-of-3 = 0.23-0.40 s at EVERY
    // checkpoint while seconds/thirds sat at 0.07-0.09; three adjacent
    // checkpoints whose SECOND sample hadn't settled either pushed
    // their medians to 0.17 and flunked the fastest run ever recorded).
    // So each checkpoint discards one re-warm probe, then medians the
    // next three — the same reasoning as the pre-run GC+3-probe settle.
    val sentinelRaw = scala.collection.mutable.ArrayBuffer[Double]()
    def sentinelOnce(): Double = {
      sentinelRaw += sentinelProbe() // discarded re-warm (kept in raw)
      val three = Seq(sentinelProbe(), sentinelProbe(), sentinelProbe())
      sentinelRaw ++= three
      three.sorted.apply(1)
    }
    // CPU-steal census (/proc/stat col 8): the sentinel SPREAD only
    // catches VARIABLE load — steady host-level contention slows every
    // checkpoint equally and reads as a clean spread (observed: a 1.6×
    // slower run with spread 1.32). Steal time is the VM's direct
    // measure of cycles the host gave elsewhere; (-1, -1) when
    // unreadable, and the verdict then falls back to spread-only.
    def stealRead(): (Long, Long) = try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // denominator = the first 8 cpu fields only (user nice system
      // idle iowait irq softirq steal): guest/guest_nice are already
      // counted inside user/nice, so folding them in double-counts
      // guest time and understates steal% (ADVICE r11)
      (f(7), f.take(8).sum)
    } catch { case _: Throwable => (-1L, -1L) }
    // settle before the FIRST checkpoint: warm-phase GC/cleanup debt
    // otherwise lands in it (observed: first median 2.3 s / 0.19 s vs a
    // 0.07 s steady floor — a fake-contended verdict on a healthy run).
    // One explicit GC drains the debt deterministically, then THREE
    // discarded probes re-warm the probe's own codegen path.
    System.gc()
    (1 to 3).foreach(_ => sentinelProbe())
    // steal window opens AFTER the settle phase (ADVICE r11): the GC +
    // discarded probes are not part of the measured run
    val steal0 = stealRead()
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    sentinels += sentinelOnce()

    // a query that throws records -1 (failure sentinel), never a
    // normal-looking wall-clock time
    val results = ordered.zipWithIndex.map { case ((name, fn), i) =>
      // every 24 queries (~10 checkpoints/run): a 60-query cadence left
      // gaps wide enough to swallow a whole load burst — one observed
      // spike slowed the contiguous q_tpch block 10-45× while the
      // checkpoints on either side read 0.10/0.17 and the spread
      // squeaked under 2 (run-6 forensics, BASELINE.md r11)
      if (i % 24 == 23) sentinels += sentinelOnce()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case _: Throwable => false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }.toMap
    // ---- write-path timings (BASELINE.md r8): the Pipeline write
    // surface at the same SF, into a throwaway tmpdir. Previously these
    // were correctness-tested at toy size only, so an upsert/
    // writeVersioned/compact regression was invisible to the bench.
    // They report inside `queries` as pipeline_w_* (and count toward
    // the headline total): writes are engine surface, same as reads.
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val wroot = java.nio.file.Files.createTempDirectory("graft_bench_w")
    val sink = s"$wroot/sink"
    def timedW(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      val ok = try { body; true } catch { case _: Throwable => false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val ev = graft.util.Tables.events(spark, sfDir)
    // row count fed through the streaming entry, for the rows/s readout.
    var streamRows = 0
    val writeResults = Seq[(String, Double)](
      // events → daily rollup → date-partitioned sink (the flagship
      // incremental load, dynamic-partition-overwrite mode)
      timedW("pipeline_w_incremental") {
        graft.etl.Pipeline.runIncremental(spark, ev, "event_type", sink,
          java.sql.Date.valueOf("2026-01-01"),
          overwritePartitions = true): Unit
      },
      // key-level CoW merge: corrected values for the 30 newest dates
      timedW("pipeline_w_upsert") {
        val snap = spark.read.parquet(sink)
        val dates = snap.select(col("date")).distinct()
          .orderBy(col("date").desc).limit(30)
        val updates = snap.join(broadcast(dates), Seq("date"))
          .withColumn("avg_value", col("avg_value") * lit(1.01))
        graft.etl.Pipeline.upsert(spark, updates, sink): Unit
      },
      // two snapshot commits + a time-travel read-back of the latest
      timedW("pipeline_w_versioned") {
        val vdir = s"$wroot/versioned"
        graft.etl.Pipeline.writeVersioned(spark,
          spark.read.parquet(sink), vdir): Unit
        graft.etl.Pipeline.writeVersioned(spark,
          spark.read.parquet(sink).withColumn("n", col("n") + lit(1L)),
          vdir): Unit
        graft.etl.Pipeline.readVersion(spark, vdir)
          .write.format("noop").mode("overwrite").save()
      },
      // 64-way small-file scatter, then the rename-swap compaction
      timedW("pipeline_w_compact") {
        val cdir = s"$wroot/compactme"
        spark.read.parquet(sink).repartition(64)
          .write.mode("overwrite").parquet(cdir)
        graft.etl.Pipeline.compact(spark, cdir,
          targetRowsPerFile = 500000): Unit
      },
      // range-clustered write (the data-skipping layout)
      timedW("pipeline_w_clustered") {
        graft.etl.Pipeline.clusteredWrite(spark.read.parquet(sink),
          "group_key", 8, s"$wroot/clustered")
      },
      // GDPR keyed delete under failure injection (VERDICT r10 item 6):
      // a delete that EMPTIES partitions (keys are made partition-local
      // so every matching row lives in the 5 oldest dates), a simulated
      // crash inside the documented commit→rm window (the emptied
      // partition's old files resurrected), and the idempotent re-run
      // as the recovery path. deleteKeys' internal post-condition
      // (zero surviving matches) gates success — a partial recovery
      // reports as a failed entry, never a fast time.
      timedW("pipeline_w_delete") {
        import spark.implicits._
        val ddir = s"$wroot/delsink"
        spark.read.parquet(sink)
          .withColumn("group_key",
            org.apache.spark.sql.functions.concat_ws("_",
              col("group_key"), col("date")))
          .write.partitionBy("date").mode("overwrite").parquet(ddir)
        val oldest = spark.read.parquet(ddir).select(col("date")).distinct()
          .orderBy(col("date")).limit(5)
        // keys collected BEFORE the first delete (bounded: 5 dates ×
        // |group| rows) so the recovery re-runs the SAME request
        val keyVals = spark.read.parquet(ddir)
          .join(broadcast(oldest), Seq("date"))
          .select(col("group_key")).distinct()
          .collect().map(_.getString(0)).toSeq
        val keys = keyVals.toDF("group_key")
        val doomedVal = oldest.orderBy(col("date")).head().get(0)
        val dirName = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.getPartitionPathString("date", doomedVal.toString)
        val doomed = new java.io.File(s"$ddir/$dirName")
        val stash = java.nio.file.Files.createTempDirectory("graft_del_stash").toFile
        doomed.listFiles().filter(_.isFile).foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            new java.io.File(stash, f.getName).toPath): Unit
        }
        val n1 = graft.etl.Pipeline.deleteKeys(spark, keys, ddir)
        require(n1 > 0L && !doomed.exists(),
          s"delete must empty the doomed partition (deleted $n1)")
        // crash aftermath: the dynamic-overwrite commit landed but the
        // emptied-partition rm never ran — its old files are back
        doomed.mkdirs()
        stash.listFiles().foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            new java.io.File(doomed, f.getName).toPath): Unit
        }
        graft.etl.Pipeline.deleteKeys(spark, keys, ddir): Unit
        require(!doomed.exists(), "recovery re-run must complete the rm")
        // the stash lives outside wroot — reap it here or it leaks a
        // tmpdir per run (ADVICE r11)
        stash.listFiles().foreach(f => f.delete(): Unit)
        stash.delete(): Unit
      },
      // streaming-throughput surface (VERDICT r11 item 6): the first
      // TIMED streaming entry — the rest of the streaming surface is
      // correctness-pinned in StreamingSpec but carried no recorded
      // number. Drives Streams.upsertSink over a real micro-batched
      // MemoryStream at bench SF: 8 batches covering the full events
      // table, each foreachBatch compacting to latest-per-key and
      // upserting the parquet sink (Pipeline CoW). MemoryStream is the
      // right source here for the same reason the correctness suites
      // use it — it isolates engine micro-batch cost from source IO.
      // Post-condition: the sink state equals the batch answer, so a
      // broken stream reports as a failed entry, never a fast time.
      {
        import spark.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        // STAGING — UNTIMED (VERDICT r12 item 3): MemoryStream needs the
        // rows in driver memory, but the full collect+sort+slice is test
        // staging, not streaming-engine cost; timing it bundled several
        // seconds of driver work into the entry. Event-time order:
        // batches arrive time-contiguous (the real stream shape, and the
        // ordered-batch contract upsertSink's replacement semantics
        // document), so each micro-batch's CoW touches ~1/8 of the date
        // partitions instead of all of them.
        val rows = ev
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[graft.streaming.Event].collect()
          .sortBy(e => (e.ts.getTime, e.event_id))
        val batches = rows.grouped(math.max(1, (rows.length + 7) / 8))
          .map(_.toSeq).toVector
        val in = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[graft.streaming.Event]
        val ssink = s"$wroot/stream_sink"
        streamRows = rows.length
        // TIMED: stream start (checkpoint init), the 8 micro-batch
        // addData/processAllAvailable cycles, stop, and the sink
        // post-condition — engine cost only
        timedW("pipeline_s_upsert") {
          val q = graft.streaming.Streams.upsertSink(in.toDF(), ssink,
            s"$wroot/stream_ckpt")
          try batches.foreach { b => in.addData(b); q.processAllAvailable() }
          finally q.stop()
          val got = spark.read.parquet(ssink).count()
          val want = graft.streaming.Streams.latestPerKey(ev).count()
          require(got == want, s"stream sink rows $got != batch $want")
        }
      })
    org.apache.hadoop.fs.FileUtil.fullyDelete(wroot.toFile): Unit
    sentinels += sentinelOnce()

    val all = results ++ writeResults

    // ---- per-query suspect-head guard (VERDICT r12 item 2): the
    // `certified` tier bounds CHECKPOINT sentinel medians, not per-query
    // heads — and the first certified artifact demonstrated the hole: a
    // host burst confined between two checkpoints (~24 queries apart)
    // inflated q_hamming_hist to 19.4 s inside a certified run whose
    // same-binary driver twin read 2.8 s. So every entry is also checked
    // against its TRAILING MEDIAN across the bench artifacts in the
    // working dir (every `bench*.json` recorded at the same sf AND the
    // same core count — a time taken at another local[n] says nothing
    // about this run): an entry reading
    // >2.5× that median (+0.5 s absolute guard — job-overhead jitter on
    // sub-second entries is not a burst) is a suspect, re-probed
    // interleaved median-of-3 at run end, and the artifact publishes
    // BOTH totals — `value` (raw) and `value_adjusted` (suspects
    // replaced by their re-probe medians). BASELINE.md headlines
    // adjusted certified totals. pipeline_w_*/pipeline_s_* entries are
    // flagged but not re-probed (their bodies mutate freshly-staged
    // state); they keep their raw reading in both totals.
    def refQueries(path: String): Map[String, Double] = try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path))
      val q = node.get("queries")
      def field(k: String) = Option(node.get(k)).map(_.asText)
      if (q == null || !field("sf").contains(sfDir) ||
        !field("cpus").contains(cpus.toString)) Map.empty
      else {
        val b = Map.newBuilder[String, Double]
        val it = q.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          val v = e.getValue.asDouble(-1)
          if (v >= 0) b += e.getKey -> v
        }
        b.result()
      }
    } catch { case _: Throwable => Map.empty }
    val refMaps = Option(new java.io.File(".").listFiles).toSeq.flatten
      .map(_.getName).filter(n => n.startsWith("bench") && n.endsWith(".json"))
      .map(refQueries).filter(_.nonEmpty)
    def trailingMed(n: String): Option[Double] = {
      val vs = refMaps.flatMap(_.get(n)).sorted
      if (vs.isEmpty) None else Some(vs(vs.size / 2))
    }
    val suspects = all.toSeq.collect {
      case (n, t) if t >= 0 && trailingMed(n).exists(r => t > 2.5 * r + 0.5) => n
    }.sorted
    val reprobable = suspects.filter(SparkEntry.queries.contains)
    val reprobeTimes = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to 3; n <- reprobable) {
      val t0 = System.nanoTime()
      val ok = try {
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); true
      } catch { case _: Throwable => false }
      if (ok) reprobeTimes(n) :+= (System.nanoTime() - t0) / 1e9
    }
    val reprobed = reprobable.flatMap { n =>
      val v = reprobeTimes(n).sorted
      if (v.isEmpty) None else Some(n -> v(v.size / 2))
    }.toMap

    // 4-decimal times (0.1 ms resolution — below run-to-run noise by
    // >100×): full-precision doubles tripled the line length for digits
    // that carry no information. Locale.ROOT so a comma-decimal default
    // locale can't corrupt the JSON.
    def f4(v: Double): String =
      if (v < 0) "-1" else "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val failed = all.collect { case (k, v) if v < 0 => s"\"" + k + "\"" }
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + f4(v) }
      .mkString("{", ",", "}")
    // headline total INCLUDES the shared-lineage warm: prior rounds
    // billed that rebuild inside whichever query touched it first, so
    // excluding it here would silently shrink the metric round-over-
    // round. The breakdown fields keep the two costs separable.
    val total = all.collect { case (_, v) if v >= 0 => v }.sum + warmSec
    // adjusted total: each re-probed suspect contributes its re-probe
    // median INSTEAD of its in-run reading (honest replacement — if the
    // re-probe reads slower, the adjusted total goes UP)
    val totalAdj = total - reprobed.map { case (n, m) => all(n) - m }.sum
    val suspectJson = suspects.map { n =>
      s"\"" + n + "\":{\"raw\":" + f4(all(n)) +
        ",\"ref_med\":" + f4(trailingMed(n).getOrElse(-1.0)) +
        ",\"reprobe_med\":" + f4(reprobed.getOrElse(n, -1.0)) + "}"
    }.mkString("{", ",", "}")
    val failedJson = failed.mkString("[", ",", "]")
    val warmJson = warmTimes.map { case (k, v) => s"\"" + k + "\":" + f4(v) }
      .mkString("{", ",", "}")
    // memory telemetry: the r4 regression was heap starvation
    // (VERDICT r4) — record the budget each run actually had so a
    // future regression is diagnosable from the artifact alone
    val heapGb = Runtime.getRuntime.maxMemory / 1e9
    // kernel-registration telemetry (VERDICT r5 item 4): q_lang_id &
    // friends pick the fused codegen kernels only when GraftExtensions
    // actually registered them — record the branch the driver session
    // took so a slow reading is attributable from the artifact alone
    val kernelsLive = spark.catalog.functionExists("graft_char3grams") &&
      spark.catalog.functionExists("graft_dot")
    val (storUsed, storMax) = {
      val s = spark.sparkContext.getExecutorMemoryStatus.values
      (s.map { case (mx, rem) => mx - rem }.sum / 1e9,
        s.map(_._1).sum / 1e9)
    }
    // sentinel spread: max/min of the checkpoint MEDIANS (each already
    // GC-robust via median-of-3). <2 on a quiet box; a loaded box shows
    // up directly here.
    val sentSpread = sentinels.max / math.max(sentinels.min, 1e-9)
    val sentJson = sentinels.map(f4).mkString("[", ",", "]")
    // self-certifying quiet verdict (VERDICT r10 item 1): spread of the
    // checkpoint medians < 2, no monotone ramp (strictly increasing
    // medians with ≥1.5× total growth = load building through the run —
    // the r10 close-run-1 signature, 0.17→0.57), AND run-window CPU
    // steal < 5% (steady host contention is invisible to the spread).
    val steal1 = stealRead()
    val stealPct =
      if (steal0._1 < 0 || steal1._1 < 0 || steal1._2 <= steal0._2) -1.0
      else 100.0 * (steal1._1 - steal0._1) / (steal1._2 - steal0._2)
    val sentRamp = sentinels.size >= 3 &&
      sentinels.indices.tail.forall(i => sentinels(i) > sentinels(i - 1)) &&
      sentSpread >= 1.5
    // with ~10 checkpoints a raw max/min spread over-penalizes a single
    // 1 s transient (observed: the round's fastest, 0.2%-steal run read
    // spread 2.98 off ONE elevated checkpoint while every query head
    // was healthy). Contention that actually distorts totals is
    // SUSTAINED or LARGE, so the verdict asks for: no two CONSECUTIVE
    // checkpoint medians above 1.5× the run median, no single
    // checkpoint above 2.5× it (calibrated between the healthy 2.25×
    // transient of the round's cleanest run and the 3.1-3.2× bursts of
    // a visibly loaded one), no monotone ramp, and <5% CPU steal. The
    // raw spread stays reported for forensics.
    val runMed = sentinels.sorted.apply(sentinels.size / 2)
    // ratio tests carry a 50 ms ABSOLUTE guard: with the healthy floor
    // at ~0.09 s, a pure ratio flips on scheduling jitter smaller than
    // the probe's own same-box noise band; real contention reads 0.3 s+
    // (3-30× floors in every loaded run observed), far above both terms
    val hot = sentinels.map(_ > 1.5 * runMed + 0.05)
    val sustainedHot = hot.indices.tail.exists(i => hot(i) && hot(i - 1))
    val quiet = !sentRamp && !sustainedHot &&
      sentinels.max < 2.5 * runMed + 0.05 &&
      stealPct < 5.0 // an unreadable -1 falls back to spread-only
    // two-tier verdict (VERDICT r11 item 3): `quiet` certifies "not
    // badly contended" — necessary, not headline-grade (a 4.5%-steal
    // run passed it 22% above the round's cleanest total). `certified`
    // is the stricter tier the headline comparison requires: a READABLE
    // steal under 2% AND every checkpoint median within 1.3× of the run
    // median. BASELINE.md compares certified totals only.
    val certified = quiet && stealPct >= 0 && stealPct < 2.0 &&
      sentinels.forall(_ <= 1.3 * runMed + 0.05)
    val streamSec = all.getOrElse("pipeline_s_upsert", -1.0)
    val streamRps =
      if (streamSec > 0) streamRows / streamSec else -1.0
    val json =
      s"""{"metric":"total","value":${f4(total)},"unit":"sec","queries":$qs,""" +
        s""""value_adjusted":${f4(totalAdj)},"suspect_heads":$suspectJson,""" +
        s""""failed":$failedJson,"sf":"$sfDir","cpus":$cpus,"pipeline_warm_sec":${f4(warmSec)},""" +
        s""""warmed_intermediates":$warmed,"warm_breakdown":$warmJson,""" +
        s""""stream_rows":$streamRows,"stream_rows_per_sec":${f4(streamRps)},""" +
        s""""sentinel_sec":$sentJson,"sentinel_spread":${f4(sentSpread)},""" +
        s""""sentinel_raw":${sentinelRaw.map(f4).mkString("[", ",", "]")},""" +
        s""""steal_pct":${f4(stealPct)},"quiet":$quiet,"certified":$certified,""" +
        s""""heap_gb":${f4(heapGb)},""" +
        s""""kernels_registered":$kernelsLive,""" +
        s""""spark_version":"${spark.version}",""" +
        s""""storage_used_gb":${f4(storUsed)},"storage_max_gb":${f4(storMax)}}"""
    println(json)
    // stdout alone gets tail-truncated in the driver's artifact (r4 lost
    // 29 of 96 per-query times) — persist the full line as a file too
    val out = graft.util.Config.benchOut
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    // ---- FINAL line: a compact self-contained JSON summary sized to
    // survive the driver's tail capture. The driver artifact keeps only
    // the LAST ~2000 chars of stdout (BENCH_r07/r08 both landed
    // `parsed: null` because the ~8 KB full map can never fit whole), so
    // the last line must be a complete parseable object on its own:
    // headline total, failures, warm attribution, and the slowest
    // queries — greedily packed to a ~1700-char budget, with explicit
    // truncation accounting (n_queries vs queries_included) and a
    // pointer to the checked-in full map. ~75 chars of sbt "[success]"
    // noise follow this line inside the same tail window.
    val slowestFirst = all.toSeq.sortBy { case (_, v) => -v }
    val compactHead =
      s"""{"metric":"total","value":${f4(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,""" +
        s""""value_adjusted":${f4(totalAdj)},"n_suspect_heads":${suspects.size},""" +
        s""""stream_rows_per_sec":${f4(streamRps)},""" +
        s""""n_queries":${all.size},"n_failed":${failed.size},""" +
        s""""failed":${failed.take(10).mkString("[", ",", "]")},""" +
        s""""pipeline_warm_sec":${f4(warmSec)},"warmed_intermediates":$warmed,""" +
        s""""warm_top":${warmTimes.sortBy(-_._2).take(4)
          .map { case (k, v) => s"\"" + k + "\":" + f4(v) }
          .mkString("{", ",", "}")},""" +
        s""""sentinel_spread":${f4(sentSpread)},""" +
        s""""sentinel_med":${f4(sentinels.sorted.apply(sentinels.size / 2))},""" +
        s""""steal_pct":${f4(stealPct)},"quiet":$quiet,"certified":$certified,""" +
        s""""heap_gb":${f4(heapGb)},"kernels_registered":$kernelsLive,""" +
        s""""spark_version":"${spark.version}","full_map":"$out","""
    val budget = 1700
    val picked = scala.collection.mutable.ArrayBuffer[String]()
    var used = compactHead.length + 60 // room for the tail fields below
    slowestFirst.foreach { case (k, v) =>
      val ent = s"\"" + k + "\":" + f4(v)
      if (used + ent.length + 1 <= budget) { picked += ent; used += ent.length + 1 }
    }
    val compact = compactHead +
      s""""queries_included":${picked.size},""" +
      s""""queries":${picked.mkString("{", ",", "}")}}"""
    println(compact)
    spark.stop()
    // Re-print after stop() so the compact line is unconditionally the
    // LAST stdout line — no Spark shutdown message can follow it. (The
    // build's run/outputStrategy=StdoutOutput + showSuccess=false keep
    // sbt from prefixing "[info] " or appending "[success] …", the two
    // artifacts that made BENCH_r07-r09 `parsed: null`.)
    println(compact)
  }
}
