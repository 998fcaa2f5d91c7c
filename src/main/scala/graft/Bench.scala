package graft

/** Driver-run benchmark: wall-clock per declared query on
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query is fully materialized through the `noop` sink —
  * `.count()` would let Catalyst prune away projected columns and
  * under-measure. A generic warm-up (parquet scan + shuffle agg + sort)
  * runs first so the first timed query doesn't absorb JIT/codegen
  * startup.
  *
  * The run reports raw times and plain host readings (heap, steal) and
  * passes no verdict on them: whether a timing counts is decided by
  * interleaved runs, `perfbench/run.py` pairs or `graft.QTimer`
  * medians. */
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
    // so per-query numbers don't mean what they say. These intermediates
    // are a per-session shared cost, not a per-query cost — timing them
    // as one line item matches that shape.
    val tw0 = System.nanoTime()
    // memo keys carry a `|<dir>` suffix (one entry per sf dir); the
    // bench session only ever touches $sfDir, so drop it for display
    val warmTimes = graft.util.SessionMemo.warmPersistedTimed(spark)
      .map { case (k, v) => k.takeWhile(_ != '|') -> v }
    val warmSec = (System.nanoTime() - tw0) / 1e9
    val warmed = warmTimes.size

    // steal_pct (/proc/stat col 8) over the timed pass: the host's own
    // count of cycles it gave elsewhere, recorded as a plain reading;
    // (-1, -1) when unreadable
    def stealRead(): (Long, Long) = try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      // denominator = the first 8 cpu fields only (user nice system
      // idle iowait irq softirq steal): guest/guest_nice are already
      // counted inside user/nice, so folding them in double-counts
      // guest time and understates steal% (ADVICE r11)
      (f(7), f.take(8).sum)
    } catch { case _: Throwable => (-1L, -1L) }
    // drain warm-pass GC debt so it does not land in the first timed query
    System.gc()
    val steal0 = stealRead()

    // a query that throws records -1 (failure sentinel), never a
    // normal-looking wall-clock time
    val results = ordered.map { case (name, fn) =>
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
      // GDPR keyed delete, then a re-run over restored files: a delete
      // that EMPTIES partitions (keys are made partition-local so every
      // matching row lives in the 5 oldest dates), the emptied
      // partition's old files copied back into place, and the idempotent
      // re-run that deletes them again. deleteKeys' internal
      // post-condition (zero surviving matches) gates success — a
      // partial recovery reports as a failed entry, never a fast time.
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
        // under wroot, so its fullyDelete reaps the stash on every path
        val stash = java.nio.file.Files.createDirectory(
          wroot.resolve("del_stash")).toFile
        doomed.listFiles().filter(_.isFile).foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            new java.io.File(stash, f.getName).toPath): Unit
        }
        val n1 = graft.etl.Pipeline.deleteKeys(spark, keys, ddir)
        require(n1 > 0L && !doomed.exists(),
          s"delete must empty the doomed partition (deleted $n1)")
        // the emptied partition's old files are back on disk
        doomed.mkdirs()
        stash.listFiles().foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            new java.io.File(doomed, f.getName).toPath): Unit
        }
        graft.etl.Pipeline.deleteKeys(spark, keys, ddir): Unit
        require(!doomed.exists(), "recovery re-run must complete the rm")
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
    val steal1 = stealRead()
    val stealPct =
      if (steal0._1 < 0 || steal1._1 < 0 || steal1._2 <= steal0._2) -1.0
      else 100.0 * (steal1._1 - steal0._1) / (steal1._2 - steal0._2)

    val all = results ++ writeResults

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
    val failedJson = failed.mkString("[", ",", "]")
    val warmJson = warmTimes.map { case (k, v) => s"\"" + k + "\":" + f4(v) }
      .mkString("{", ",", "}")
    // memory telemetry: the r4 regression was heap starvation
    // (VERDICT r4) — record the budget each run actually had so a
    // future regression is diagnosable from the artifact alone
    val heapGb = Runtime.getRuntime.maxMemory / 1e9
    val (storUsed, storMax) = {
      val s = spark.sparkContext.getExecutorMemoryStatus.values
      (s.map { case (mx, rem) => mx - rem }.sum / 1e9,
        s.map(_._1).sum / 1e9)
    }
    val streamSec = all.getOrElse("pipeline_s_upsert", -1.0)
    val streamRps =
      if (streamSec > 0) streamRows / streamSec else -1.0
    val json =
      s"""{"metric":"total","value":${f4(total)},"unit":"sec","queries":$qs,""" +
        s""""failed":$failedJson,"sf":"$sfDir","cpus":$cpus,"pipeline_warm_sec":${f4(warmSec)},""" +
        s""""warmed_intermediates":$warmed,"warm_breakdown":$warmJson,""" +
        s""""stream_rows":$streamRows,"stream_rows_per_sec":${f4(streamRps)},""" +
        s""""steal_pct":${f4(stealPct)},""" +
        s""""heap_gb":${f4(heapGb)},""" +
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
        s""""stream_rows_per_sec":${f4(streamRps)},""" +
        s""""n_queries":${all.size},"n_failed":${failed.size},""" +
        s""""failed":${failed.take(10).mkString("[", ",", "]")},""" +
        s""""pipeline_warm_sec":${f4(warmSec)},"warmed_intermediates":$warmed,""" +
        s""""warm_top":${warmTimes.sortBy(-_._2).take(4)
          .map { case (k, v) => s"\"" + k + "\":" + f4(v) }
          .mkString("{", ",", "}")},""" +
        s""""steal_pct":${f4(stealPct)},""" +
        s""""heap_gb":${f4(heapGb)},""" +
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
