package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import graft.util.Metrics

/** The re-grounded reference pipeline (graft.etl.Pipeline): cold start,
  * watermark resume, delta-only processing, schema-enforced append —
  * energy_etl.py's semantics verified end-to-end on a temp sink. */
class PipelineSpec extends SparkSpec {

  private def events(rows: Seq[(String, String, Double)]) = {
    import spark.implicits._
    rows.toDF("ts", "zone", "value").withColumn("ts", to_timestamp($"ts"))
  }

  test("cold start loads full history; resume loads only the delta") {
    val sink = Files.createTempDirectory("graft_sink").toString + "/t"
    val day1 = events(Seq(
      ("2024-01-01 01:00:00", "SE1", 10.0), ("2024-01-01 02:00:00", "SE1", 20.0),
      ("2024-01-01 01:00:00", "SE2", 5.0)))
    val n1 = Pipeline.runIncremental(spark, day1, "zone", sink, Date.valueOf("2024-01-02"))
    assert(n1 === 2) // (01-01, SE1), (01-01, SE2)
    assert(Pipeline.watermark(spark, sink) === Some(Date.valueOf("2024-01-01")))

    // second run: one stale row (already-loaded day, must be skipped) + new day
    val day2 = events(Seq(
      ("2024-01-01 03:00:00", "SE1", 99.0), // ≤ watermark — skipped
      ("2024-01-02 01:00:00", "SE1", 30.0), ("2024-01-02 02:00:00", "SE1", 50.0)))
    val n2 = Pipeline.runIncremental(spark, day2, "zone", sink, Date.valueOf("2024-01-03"))
    assert(n2 === 1) // only (01-02, SE1)

    val all = spark.read.parquet(sink)
    assert(all.count() === 3)
    // the daily means match the reference's hourly→daily reduction
    val m = all.select(col("date").cast("string"), col("group_key"), col("avg_value"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("2024-01-01", "SE1")) === 15.0)
    assert(m(("2024-01-01", "SE2")) === 5.0)
    assert(m(("2024-01-02", "SE1")) === 40.0)
    // append-only: stale 99.0 never overwrote day 1
    assert(Pipeline.watermark(spark, sink) === Some(Date.valueOf("2024-01-02")))
  }

  test("partition-overwrite mode: replaying the same delta leaves the table identical") {
    val sink = Files.createTempDirectory("graft_once").toString + "/t"
    val day1 = events(Seq(
      ("2024-01-01 01:00:00", "SE1", 10.0), ("2024-01-01 02:00:00", "SE1", 20.0),
      ("2024-01-02 01:00:00", "SE2", 5.0)))
    def snapshot() = spark.read.parquet(sink)
      .select(col("date").cast("string"), col("group_key"), col("avg_value"),
        col("n"), col("load_date").cast("string"))
      .collect().map(_.toSeq).sortBy(_.toString)

    Pipeline.runIncremental(spark, day1, "zone", sink, Date.valueOf("2024-01-03"),
      overwritePartitions = true)
    val once = snapshot()
    assert(once.length === 2)
    // crash replay: the watermark has advanced, so the retry rolls it
    // back over the whole delta and overwrites the same date partitions
    Pipeline.runIncremental(spark, day1, "zone", sink, Date.valueOf("2024-01-03"),
      overwritePartitions = true, reprocessDays = 5)
    assert(snapshot() === once) // no duplicates, bit-identical rows
    // …whereas the reference's blind append would have doubled the rows
  }

  test("readDeduped after a blind-append crash replay of the same delta on " +
    "the same load_date keeps one row per (date, group_key)") {
    val root = Files.createTempDirectory("graft_replay").toFile
    val (sink, replay) = (new java.io.File(root, "t"), new java.io.File(root, "replay"))
    val delta = events(Seq(
      ("2024-01-01 01:00:00", "SE1", 10.0), ("2024-01-01 02:00:00", "SE1", 20.0),
      ("2024-01-01 01:00:00", "SE2", 5.0), ("2024-01-02 01:00:00", "SE1", 7.0)))
    val loadDate = Date.valueOf("2024-01-03")
    // both attempts start from the empty sink's watermark; the replay's
    // files land beside the first attempt's, as a re-run blind append does
    Seq(sink, replay).foreach(d =>
      Pipeline.runIncremental(spark, delta, "zone", d.getPath, loadDate))
    for (part <- replay.listFiles() if part.getName.startsWith("date=");
         f <- part.listFiles())
      assert(f.renameTo(new java.io.File(new java.io.File(sink, part.getName), f.getName)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("date").cast("string"), col("group_key"), col("avg_value"),
        col("n"), col("load_date").cast("string"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val raw = rows(spark.read.parquet(sink.getPath))
    assert(raw.length === 6) // the replay doubled every key
    assert(rows(Pipeline.readDeduped(spark, sink.getPath)) === raw.distinct)
    assert(raw.distinct === Seq(
      Seq("2024-01-01", "SE1", 15.0, 2L, "2024-01-03"),
      Seq("2024-01-01", "SE2", 5.0, 1L, "2024-01-03"),
      Seq("2024-01-02", "SE1", 7.0, 1L, "2024-01-03")))
  }

  test("readDeduped keeps only the latest load per (date, group)") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("graft_dedup").toString + "/t"
    def ev(v: Double) = Seq(("2024-01-01 01:00:00", "SE1", v))
      .toDF("ts", "zone", "value").withColumn("ts", to_timestamp($"ts"))
    // two loads of the SAME day (simulated duplicate append after a
    // partial-failure rerun): second load must win on read
    Pipeline.runIncremental(spark, ev(10.0), "zone", sink, java.sql.Date.valueOf("2024-01-02"))
    ev(99.0).createOrReplaceTempView("dummy") // (no-op, clarity)
    // force a duplicate by writing the same day again with a later load_date
    val daily2 = Seq(("2024-01-01", "SE1", 99.0, 1L, "2024-01-03"))
      .toDF("date", "group_key", "avg_value", "n", "load_date")
      .select($"date".cast("date"), $"group_key", $"avg_value", $"n",
        $"load_date".cast("date"))
    daily2.write.partitionBy("date").mode("append").parquet(sink)

    assert(spark.read.parquet(sink).count() === 2) // raw sink has the dup
    val deduped = Pipeline.readDeduped(spark, sink)
    assert(deduped.count() === 1)
    assert(deduped.select($"avg_value").as[Double].head() === 99.0) // latest load wins
  }

  test("readDeduped breaks an equal-load_date tie on the larger n, in either file order") {
    import spark.implicits._
    // a same-day rerun that saw late source rows: same (date, group,
    // load_date), more rows behind the second mean. The larger-n row has
    // the SMALLER avg_value, so an avg_value-first tie rule would fail.
    def row(avg: Double, n: Long) =
      Seq(("2024-01-01", "SE1", avg, n, "2024-01-02"))
        .toDF("date", "group_key", "avg_value", "n", "load_date")
        .select($"date".cast("date"), $"group_key", $"avg_value", $"n",
          $"load_date".cast("date"))
    val early = row(50.0, 3L)
    val late = row(40.0, 5L)
    Seq(Seq(early, late), Seq(late, early)).foreach { order =>
      val sink = Files.createTempDirectory("graft_dedup_tie").toString + "/t"
      // one file per append
      order.foreach(_.coalesce(1).write.partitionBy("date").mode("append")
        .parquet(sink))
      assert(spark.read.parquet(sink).inputFiles.length === 2)
      val got = Pipeline.readDeduped(spark, sink)
        .select($"n", $"avg_value").as[(Long, Double)].collect().toSeq
      assert(got === Seq((5L, 40.0)))
    }
  }

  test("partition-overwrite replaces only the delta's own date partitions") {
    val sink = Files.createTempDirectory("graft_dyn").toString + "/t"
    Pipeline.runIncremental(spark,
      events(Seq(("2024-01-01 01:00:00", "SE1", 10.0))),
      "zone", sink, Date.valueOf("2024-01-02"), overwritePartitions = true)
    // late-corrected day-2 data arrives twice (retry with revision):
    // the day-2 partition is replaced, day 1 is untouched
    Pipeline.runIncremental(spark,
      events(Seq(("2024-01-02 01:00:00", "SE1", 30.0))),
      "zone", sink, Date.valueOf("2024-01-03"), overwritePartitions = true)
    Pipeline.runIncremental(spark,
      events(Seq(("2024-01-02 01:00:00", "SE1", 50.0))),
      "zone", sink, Date.valueOf("2024-01-04"), overwritePartitions = true,
      reprocessDays = 1)
    val m = spark.read.parquet(sink)
      .select(col("date").cast("string"), col("avg_value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.size === 2) // one row per day — the revision did not append
    assert(m("2024-01-01") === 10.0) // untouched partition
    assert(m("2024-01-02") === 50.0) // replaced with the revision
  }

  test("reprocessDays without overwritePartitions is rejected") {
    val sink = Files.createTempDirectory("graft_guard").toString + "/t"
    intercept[IllegalArgumentException] {
      Pipeline.runIncremental(spark,
        events(Seq(("2024-01-01 01:00:00", "SE1", 1.0))),
        "zone", sink, Date.valueOf("2024-01-02"), reprocessDays = 3)
    }
  }

  test("empty delta: observed load report returns 0 and touches nothing") {
    val sink = Files.createTempDirectory("graft_empty").toString + "/t"
    val n1 = Pipeline.runIncremental(spark,
      events(Seq(("2024-01-02 01:00:00", "SE1", 1.0))),
      "zone", sink, Date.valueOf("2024-01-03"))
    assert(n1 === 1)
    // all source rows at or below the watermark → nothing to load, and
    // the rows-loaded observation (collected during the write pass
    // itself — no post-write sink re-read) reports exactly 0
    val n2 = Pipeline.runIncremental(spark,
      events(Seq(("2024-01-01 01:00:00", "SE1", 99.0))),
      "zone", sink, Date.valueOf("2024-01-04"))
    assert(n2 === 0)
    assert(spark.read.parquet(sink).count() === 1)
  }

  test("sink enforces the declared schema") {
    val sink = Files.createTempDirectory("graft_sink2").toString + "/t"
    Pipeline.runIncremental(spark, events(Seq(("2024-01-01 01:00:00", "SE1", 1.0))),
      "zone", sink, Date.valueOf("2024-01-02"))
    val got = spark.read.parquet(sink).schema.fields
      .map(f => f.name -> f.dataType.typeName).toMap
    assert(got("group_key") === "string")
    assert(got("avg_value") === "double")
    assert(got("n") === "long")
    assert(got("date") === "date") // partition column survives round-trip
  }

  test("cold-start lookback caps history like the reference's 10-day bound") {
    val sink = Files.createTempDirectory("graft_lookback").toString + "/t"
    val history = events(Seq(
      ("2024-01-01 01:00:00", "SE1", 1.0), // beyond lookback — skipped
      ("2024-01-08 01:00:00", "SE1", 2.0),
      ("2024-01-10 01:00:00", "SE1", 3.0)))
    val n = Pipeline.runIncremental(spark, history, "zone", sink,
      Date.valueOf("2024-01-11"), coldStartLookbackDays = Some(3))
    assert(n === 2) // only days within max(date)-3
    val dates = spark.read.parquet(sink).select(col("date").cast("string"))
      .collect().map(_.getString(0)).sorted
    assert(dates.toSeq === Seq("2024-01-08", "2024-01-10"))
  }

  test("date-partitioned sink gives partition pruning to downstream readers") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_prune").toString + "/t"
    val rows = events(Seq(
      ("2024-01-01 01:00:00", "SE1", 1.0), ("2024-01-02 01:00:00", "SE1", 2.0),
      ("2024-01-03 01:00:00", "SE1", 3.0)))
    Pipeline.runIncremental(spark, rows, "zone", sink, Date.valueOf("2024-01-04"))
    val read = spark.read.parquet(sink)
      .filter($"date" === lit("2024-01-02").cast("date"))
    val plan = read.queryExecution.executedPlan.toString
    // the filter must land in PartitionFilters (directory pruning), so a
    // daily job over a 100 TB sink reads one partition, not the table
    assert(plan.contains("PartitionFilters: [isnotnull(date"), plan)
    assert(read.count() === 1)
  }

  test("schema evolution: appended column surfaces via mergeSchema, old rows null") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_evo").toString + "/t"
    Seq(("2024-01-01", "SE1", 1.0)).toDF("date", "zone", "v")
      .withColumn("date", to_date($"date"))
      .write.mode("append").parquet(sink)
    // v2 of the producer adds a column; append-only sink must tolerate it
    Seq(("2024-01-02", "SE1", 2.0, "api-v2")).toDF("date", "zone", "v", "src")
      .withColumn("date", to_date($"date"))
      .write.mode("append").parquet(sink)
    val merged = spark.read.option("mergeSchema", "true").parquet(sink)
    assert(merged.columns.toSet === Set("date", "zone", "v", "src"))
    val bySrc = merged.select($"v", $"src").collect()
      .map(r => r.getDouble(0) -> Option(r.getString(1))).toMap
    assert(bySrc(1.0) === None)          // old rows: new column is null
    assert(bySrc(2.0) === Some("api-v2"))
    // without mergeSchema the read keys off one footer — document that
    // readers of an evolving sink must opt in
    val plain = spark.read.parquet(sink)
    assert(plain.columns.length >= 3)
  }

  test("JSON payload ingest parses the reference's hourly-array shape") {
    import spark.implicits._
    val payload =
      """[{"ts":"2024-01-01T01:00:00Z","zone":"SE1","value":1.5},
        | {"ts":"2024-01-01T02:00:00Z","zone":"SE1","value":2.5}]""".stripMargin
    val parsed = Pipeline.fromJsonPayloads(Seq(payload).toDF("body"), "body")
    assert(parsed.count() === 2)
    assert(parsed.schema.fieldNames.toSeq === Seq("ts", "zone", "value"))
    assert(parsed.agg(sum($"value")).as[Double].head() === 4.0)
  }

  test("upsert: changed keys update, untouched keys survive, replay idempotent") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_upsert").toString + "/t"
    def mk(rows: Seq[(String, String, Double, Long, String)]) =
      rows.toDF("date", "group_key", "avg_value", "n", "load_date")
        .select(col("date").cast("date"), col("group_key"),
          col("avg_value"), col("n"), col("load_date").cast("date"))
    val seed = mk(Seq(
      ("2024-01-01", "SE1", 10.0, 2L, "2024-01-02"),
      ("2024-01-01", "SE2", 5.0, 1L, "2024-01-02"),
      ("2024-01-02", "SE1", 40.0, 2L, "2024-01-03")))
    assert(Pipeline.upsert(spark, seed, sink) === 3)
    // correction batch: SE1@01-01 CHANGES, SE3@01-01 is new,
    // 01-02 is not in the batch at all
    val fix = mk(Seq(
      ("2024-01-01", "SE1", 11.5, 3L, "2024-01-05"),
      ("2024-01-01", "SE3", 7.0, 1L, "2024-01-05")))
    Pipeline.upsert(spark, fix, sink)
    def snap() = spark.read.parquet(sink)
      .select(col("date").cast("string"), col("group_key"),
        col("avg_value"), col("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    val s1 = snap()
    assert(s1.size === 4, "no duplicate keys after merge")
    assert(s1(("2024-01-01", "SE1")) === ((11.5, 3L)), "changed key updated")
    assert(s1(("2024-01-01", "SE2")) === ((5.0, 1L)),
      "untouched key inside the rewritten partition survives")
    assert(s1(("2024-01-02", "SE1")) === ((40.0, 2L)), "untouched partition intact")
    assert(s1(("2024-01-01", "SE3")) === ((7.0, 1L)), "new key inserted")
    // crash-replay of the same batch changes nothing
    Pipeline.upsert(spark, fix, sink)
    assert(snap() === s1)
    // mechanical contracts: partition cap, key must cover the partition col
    intercept[IllegalArgumentException] {
      Pipeline.upsert(spark, seed, sink, maxPartitions = 1)
    }
    // a refused upsert into a new sink leaves nothing on disk
    intercept[IllegalArgumentException] {
      Pipeline.upsert(spark, seed, sink + "_new", maxPartitions = 1)
    }
    assert(!new java.io.File(sink + "_new").exists())
    intercept[IllegalArgumentException] {
      Pipeline.upsert(spark, seed, sink, keyCols = Seq("group_key"))
    }
  }

  test("upsert property: random batch sequence == driver-side map fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val sink = Files.createTempDirectory("graft_upsert_prop").toString + "/t"
    val dates = (1 to 6).map(d => f"2024-02-$d%02d")
    val groups = Seq("SE1", "SE2", "SE3")
    // reference semantics: last write per (date, group) wins
    val ref = scala.collection.mutable.Map[(String, String), (Double, Long)]()
    (1 to 5).foreach { batch =>
      val rows = (1 to (3 + rnd.nextInt(6))).map { _ =>
        val k = (dates(rnd.nextInt(dates.length)), groups(rnd.nextInt(groups.length)))
        k -> ((rnd.nextInt(1000).toDouble / 10, rnd.nextInt(100).toLong))
      }.toMap // unique keys within a batch (upsert's caller contract)
      rows.foreach { case (k, v) => ref(k) = v }
      val df = rows.toSeq.map { case ((d, g), (v, n)) => (d, g, v, n, "2024-03-01") }
        .toDF("date", "group_key", "avg_value", "n", "load_date")
        .select(col("date").cast("date"), col("group_key"),
          col("avg_value"), col("n"), col("load_date").cast("date"))
      Pipeline.upsert(spark, df, sink)
    }
    val got = spark.read.parquet(sink)
      .select(col("date").cast("string"), col("group_key"),
        col("avg_value"), col("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    assert(got === ref.toMap)
  }

  test("upsert into a NULL partition keeps its untouched rows and " +
    "replaces the updated key") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_upsert_null").toString + "/t"
    Seq(("k1", Some("a"), 1.0), ("k1", None, 2.0), ("k2", None, 3.0))
      .toDF("group_key", "src", "value").write.partitionBy("src").parquet(sink)
    val fix = Seq(("k2", Option.empty[String], 30.0)).toDF("group_key", "src", "value")
    // the NULL partition is rewritten: k1 kept, k2 replaced
    assert(Pipeline.upsert(spark, fix, sink, keyCols = Seq("group_key", "src"),
      partitionCol = "src") === 2L)
    val got = spark.read.parquet(sink).select("group_key", "src", "value")
      .as[(String, Option[String], Double)].collect()
    assert(got.toSet === Set(("k1", Some("a"), 1.0), ("k1", None, 2.0),
      ("k2", None, 30.0)))
    assert(got.length === 3, "the replaced NULL-key row must not survive")
  }

  test("watermark: the directory listing equals a MAX(date) scan in " +
    "every sink state the writers leave") {
    import spark.implicits._
    // the scan the listing replaces; it cannot infer a schema from a sink
    // with no visible data file, which is a cold start
    def scanned(sink: String): Option[Date] =
      scala.util.Try(spark.read.parquet(sink).agg(max(col("date"))).first().getDate(0))
        .toOption.flatMap(Option(_))
    def fresh() = Files.createTempDirectory("graft_wm").toString + "/t"
    def load(sink: String, days: (String, String)*): Unit =
      Pipeline.runIncremental(spark, events(days.map { case (d, z) => (s"$d 01:00:00", z, 1.0) }),
        "zone", sink, Date.valueOf("2024-02-01"), overwritePartitions = true): Unit
    // a real partitioned write of `days` under `dir` (uncommitted output
    // when `dir` is a hidden staging path)
    def written(dir: String, days: Option[String]*): Unit =
      days.map(d => (d, "SE1")).toDF("date", "group_key")
        .select(col("date").cast("date"), col("group_key"))
        .write.partitionBy("date").mode("append").parquet(dir)
    def dataFiles(dir: String) = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))

    val states = Seq[(String, Option[String], String => Unit)](
      ("missing dir", None, _ => ()),
      ("empty dir", None, s => new java.io.File(s).mkdirs(): Unit),
      ("only hidden entries", None, { s =>
        new java.io.File(s).mkdirs()
        Files.createFile(new java.io.File(s, "_SUCCESS").toPath)
        written(s"$s/_temporary/0", Some("2024-01-05"))
        written(s"$s/.spark-staging-1", Some("2024-01-06"))
      }),
      ("crashed append and overwrite beside a loaded sink", Some("2024-01-02"), { s =>
        load(s, "2024-01-01" -> "SE1", "2024-01-02" -> "SE1")
        written(s"$s/_temporary/0", Some("2024-01-09"))
        written(s"$s/.spark-staging-1", Some("2024-01-08"))
      }),
      ("date dirs holding no data file", Some("2024-01-02"), { s =>
        load(s, "2024-01-01" -> "SE1", "2024-01-02" -> "SE1", "2024-01-03" -> "SE1")
        new java.io.File(s"$s/date=2024-01-07").mkdirs()
        // an interrupted partition removal: checksums left, data gone
        dataFiles(s"$s/date=2024-01-03").foreach(_.delete())
      }),
      ("NULL partition beside dates", Some("2024-01-03"),
        s => written(s, Some("2024-01-03"), None)),
      ("only the NULL partition", None, s => written(s, None)),
      ("deleteKeys emptied the newest date", Some("2024-01-02"), { s =>
        load(s, "2024-01-01" -> "SE1", "2024-01-02" -> "SE1", "2024-01-03" -> "SE9")
        assert(Pipeline.deleteKeys(spark, Seq("SE9").toDF("group_key"), s) === 1L)
      }),
      ("reprocessDays overwrite", Some("2024-01-04"), { s =>
        load(s, "2024-01-01" -> "SE1", "2024-01-02" -> "SE1")
        Pipeline.runIncremental(spark,
          events(Seq(("2024-01-02 05:00:00", "SE1", 2.0), ("2024-01-04 01:00:00", "SE2", 3.0))),
          "zone", s, Date.valueOf("2024-02-02"), overwritePartitions = true,
          reprocessDays = 1): Unit
      }),
      ("compact crashed between its renames (live dir retired)", None, { s =>
        load(s, "2024-01-01" -> "SE1")
        Files.move(java.nio.file.Paths.get(s),
          java.nio.file.Paths.get(PipelineSpec.compactSibling(s, ".compact_old"))): Unit
      }))
    states.foreach { case (state, want, make) =>
      val sink = fresh()
      make(sink)
      val got = Pipeline.watermark(spark, sink)
      assert(got === scanned(sink), state)
      assert(got === want.map(Date.valueOf), state)
    }
  }

  test("sink metadata is read without probe jobs: watermark, readDeduped, " +
    "warm upsert") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_jobs").toString + "/t"
    Pipeline.runIncremental(spark, events(Seq(("2024-01-01 01:00:00", "SE1", 1.0),
      ("2024-01-02 01:00:00", "SE1", 2.0), ("2024-01-02 01:00:00", "SE2", 3.0))),
      "zone", sink, Date.valueOf("2024-01-03"))
    // a MAX(date) scan before the listing: 3 jobs
    assert(Metrics.jobsDuring(spark)(Pipeline.watermark(spark, sink))._2.size === 0)
    // the known sink schema replaces the footer schema-inference job:
    // 3 jobs before
    assert(Metrics.jobsDuring(spark)(Pipeline.readDeduped(spark, sink).collect())
      ._2.size <= 2)
    // a warm upsert observes its partition set on the checkpoint of the
    // updates instead of a separate distinct-collect: 6 jobs before
    val fix = Seq(("2024-01-02", "SE1", 20.0, 1L, "2024-01-04"))
      .toDF("date", "group_key", "avg_value", "n", "load_date")
      .select(col("date").cast("date"), col("group_key"), col("avg_value"),
        col("n"), col("load_date").cast("date"))
    val (n, upsertJobs) = Metrics.jobsDuring(spark)(Pipeline.upsert(spark, fix, sink))
    assert(n === 2L)
    assert(upsertJobs.size <= 5)
  }

  test("a keyed delete that rewrites one date and empties another runs at " +
    "most 11 jobs") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_del_jobs").toString + "/t"
    Pipeline.runIncremental(spark, events(Seq(("2024-01-01 01:00:00", "SE1", 1.0),
      ("2024-01-01 01:00:00", "SE2", 2.0), ("2024-01-02 01:00:00", "SE1", 3.0))),
      "zone", sink, Date.valueOf("2024-01-03"))
    val (n, jobs) = Metrics.jobsDuring(spark)(
      Pipeline.deleteKeys(spark, Seq("SE1").toDF("group_key"), sink))
    assert(n === 2L)
    assert(!new java.io.File(s"$sink/date=2024-01-02").exists())
    // 11 is the count from before upsert and deleteKeys shared one
    // copy-on-write step; sharing it must not add a job
    assert(jobs.size <= 11, jobs.map(_.description).mkString("\n"))
  }

  test("clusteredWrite yields disjoint per-file key ranges (file-skipping layout)") {
    val dir = Files.createTempDirectory("graft_clustered").toString + "/t"
    val docs = graft.util.Tables.documents(spark, sf)
    Pipeline.clusteredWrite(docs, "doc_id", numFiles = 4, dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length === 4, files.mkString(","))
    // each file's footer min/max must be pairwise disjoint — that
    // disjointness IS the prunability: a doc_id range predicate reads
    // one file, not all of them
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("doc_id")), max(col("doc_id"))).first()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, s"overlap: $hi >= $lo")
      case _ => ()
    }
    // nothing lost in the re-layout, and a point-range read still matches
    val clustered = spark.read.parquet(dir)
    assert(clustered.count() === docs.count())
    assert(clustered.filter(col("doc_id").between(10, 20)).count() ===
      docs.filter(col("doc_id").between(10, 20)).count())
  }

  test("versioned snapshots: time travel reads old versions, default reads " +
    "the newest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_versioned").toString + "/t"
    val v1 = Pipeline.writeVersioned(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    val v2 = Pipeline.writeVersioned(spark, Seq((1, "a2"), (3, "c")).toDF("k", "v"), dir)
    assert(v1 === 1 && v2 === 2)
    assert(Pipeline.versions(spark, dir) === Seq(1, 2))
    // default read = latest; explicit version = time travel
    assert(Pipeline.readVersion(spark, dir).orderBy("k")
      .as[(Int, String)].collect().toSeq === Seq((1, "a2"), (3, "c")))
    assert(Pipeline.readVersion(spark, dir, Some(1)).orderBy("k")
      .as[(Int, String)].collect().toSeq === Seq((1, "a"), (2, "b")))
    // a crashed writer: its hidden staging directory, never published,
    // holds a corrupt file
    val staging = java.nio.file.Paths.get(dir, ".v=3.staging")
    Files.createDirectories(staging)
    Files.writeString(staging.resolve("part-00000-crashed.parquet"), "not parquet")
    assert(Pipeline.versions(spark, dir) === Seq(1, 2))
    assert(Pipeline.readVersion(spark, dir).count() === 2) // still v2
    // vacuum retires old versions but never the newest, and never sees
    // the staging directory
    val dropped = Pipeline.vacuumVersions(spark, dir, keep = 1)
    assert(dropped === Seq(1))
    assert(!new java.io.File(s"$dir/v=1").exists())
    assert(Files.exists(staging.resolve("part-00000-crashed.parquet")))
    assert(Pipeline.readVersion(spark, dir).count() === 2)
    // the next write drops the leftover staging and publishes v=3
    assert(Pipeline.writeVersioned(spark, Seq((4, "d")).toDF("k", "v"), dir) === 3)
    assert(Pipeline.readVersion(spark, dir).as[(Int, String)].collect().toSeq ===
      Seq((4, "d")))
    assert(!Files.exists(staging))
    // an unversioned dir (no v=N directory) is refused with a clear
    // message instead of a raw file-not-found error from deep inside
    val plain = Files.createTempDirectory("graft_unversioned").toString
    val e = intercept[IllegalArgumentException] {
      Pipeline.vacuumVersions(spark, plain)
    }
    assert(e.getMessage.contains("has no published version"))
  }

  test("versioned snapshots on a table given as a file: URI answer as on " +
    "the plain path") {
    import spark.implicits._
    def run(dir: String) = {
      val written = Seq(Seq((1, "a"), (2, "b")), Seq((1, "a2"), (3, "c")))
        .map(rows => Pipeline.writeVersioned(spark, rows.toDF("k", "v"), dir))
      def read(v: Option[Int]) = Pipeline.readVersion(spark, dir, v).orderBy("k")
        .as[(Int, String)].collect().toSeq
      (written, Pipeline.versions(spark, dir), read(None), read(Some(1)),
        Pipeline.vacuumVersions(spark, dir, keep = 1), Pipeline.versions(spark, dir))
    }
    val expected = (Seq(1, 2), Seq(1, 2), Seq((1, "a2"), (3, "c")),
      Seq((1, "a"), (2, "b")), Seq(1), Seq(2))
    assert(run(Files.createTempDirectory("graft_versioned").resolve("t").toString) ===
      expected)
    assert(run(Files.createTempDirectory("graft_versioned_uri").resolve("t").toUri
      .toString) === expected)
  }

  test("a second publish of a version fails and leaves the existing v=N " +
    "unchanged") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_versioned_race").resolve("t")
    assert(Pipeline.writeVersioned(spark, Seq((1, "a")).toDF("k", "v"), dir.toString) === 1)
    // a rival writer publishes v=2 while this write runs, after it listed
    // the versions
    val rival = dir.resolve("v=2")
    val rivalDir = rival.toString
    val publishRival = udf { (k: Int) => PipelineSpec.createOnce(rivalDir, "f1"); k }
      .asNondeterministic()
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      Pipeline.writeVersioned(spark,
        Seq((2, "b")).toDF("k", "v").withColumn("k", publishRival(col("k"))),
        dir.toString)
    }
    assert(rival.toFile.list().toSeq === Seq("f1"))
    assert(rival.toFile.listFiles().forall(_.isFile), "nothing is nested under v=2")
    assert(Pipeline.versions(spark, dir.toString) === Seq(1, 2))
    // the failed write leaves no staging copy behind
    assert(dir.toFile.list().filter(_.contains("staging")).isEmpty)
  }

  test("compact rewrites to the planned file count without changing content") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // 8 small files of 25 rows each
    (0 until 8).foreach { i =>
      (i * 25 until (i + 1) * 25).map(k => (k.toLong, s"r$k"))
        .toDF("k", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val before = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before === 8)
    val expected = spark.read.parquet(dir).orderBy("k")
      .as[(Long, String)].collect().toSeq
    val files = Pipeline.compact(spark, dir, targetRowsPerFile = 100)
    assert(files === 2)
    val after = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after === 2, s"expected 2 files after compaction, got $after")
    assert(spark.read.parquet(dir).orderBy("k")
      .as[(Long, String)].collect().toSeq === expected)
    assert(!new java.io.File(PipelineSpec.compactSibling(dir, ".compact_staging")).exists())
    assert(!new java.io.File(PipelineSpec.compactSibling(dir, ".compact_old")).exists())
  }

  test("compact recovers every crash point of the rename-swap commit") {
    import spark.implicits._
    import java.nio.file.{Files => NF, Paths, StandardCopyOption}
    def mkTable(): String = {
      val dir = Files.createTempDirectory("graft_compact_crash").toString + "/t"
      (0 until 4).foreach { i =>
        (i * 25 until (i + 1) * 25).map(k => (k.toLong, s"r$k"))
          .toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)
      }
      dir
    }
    def rows(dir: String): Seq[(Long, String)] =
      spark.read.parquet(dir).orderBy("k").as[(Long, String)].collect().toSeq

    // crash BEFORE the swap: a partial staging dir is left beside the
    // live table → next run drops it and completes
    val d1 = mkTable(); val exp1 = rows(d1)
    val stg = PipelineSpec.compactSibling(d1, ".compact_staging")
    new java.io.File(stg).mkdirs()
    NF.writeString(Paths.get(stg, "part-corrupt.parquet"), "not parquet")
    assert(Pipeline.compact(spark, d1, targetRowsPerFile = 100) === 1)
    assert(rows(d1) === exp1)
    assert(!new java.io.File(stg).exists())

    // crash BETWEEN the two renames: live dir is missing, the complete
    // old layout sits at .compact_old → next run rolls it back first
    val d2 = mkTable(); val exp2 = rows(d2)
    NF.move(Paths.get(d2), Paths.get(PipelineSpec.compactSibling(d2, ".compact_old")),
      StandardCopyOption.ATOMIC_MOVE)
    assert(!new java.io.File(d2).exists())
    assert(Pipeline.compact(spark, d2, targetRowsPerFile = 100) === 1)
    assert(rows(d2) === exp2)
    assert(!new java.io.File(PipelineSpec.compactSibling(d2, ".compact_old")).exists())

    // crash AFTER the publish rename but before cleanup: a retired old
    // layout sits beside the (already-new) live dir → dropped on entry
    val d3 = mkTable(); val exp3 = rows(d3)
    val old3 = PipelineSpec.compactSibling(d3, ".compact_old")
    new java.io.File(old3).mkdirs()
    Seq((999L, "stale")).toDF("k", "v")
      .write.mode("overwrite").parquet(old3)
    assert(Pipeline.compact(spark, d3, targetRowsPerFile = 100) === 1)
    assert(rows(d3) === exp3)
    assert(!new java.io.File(old3).exists())
  }

  test("a leaf compaction that crashes inside a loaded sink is invisible " +
    "to the watermark and to sink reads") {
    val sink = Files.createTempDirectory("graft_compact_leaf").toString + "/t"
    Pipeline.runIncremental(spark, events(Seq(("2024-06-01 01:00:00", "SE1", 1.0),
      ("2024-06-01 02:00:00", "SE2", 2.0), ("2024-06-02 01:00:00", "SE1", 3.0))),
      "zone", sink, Date.valueOf("2024-06-03")): Unit
    def rows() = Pipeline.readDeduped(spark, sink).collect().map(_.toString).sorted.toSeq
    def scanned() = Option(spark.read.parquet(sink).agg(max(col("date"))).first().getDate(0))
    val live = rows()
    val leaf = s"$sink/date=2024-06-01"
    // the staging write's files land, then the run dies before the swap
    val key = "spark.sql.parquet.output.committer.class"
    spark.conf.set(key, classOf[PipelineSpec.CrashAfterCommit].getName)
    try intercept[Exception](Pipeline.compact(spark, leaf, 100L))
    finally spark.conf.unset(key)
    val staged = new java.io.File(sink).listFiles().filter(_.getName.contains("compact_staging"))
    assert(staged.exists(_.listFiles().exists(_.getName.endsWith(".parquet"))),
      "the crash must leave a staged copy holding data")

    assert(Pipeline.watermark(spark, sink) === scanned())
    assert(scanned() === Some(Date.valueOf("2024-06-02")))
    assert(rows() === live)
    // the next run recovers and completes
    assert(Pipeline.compact(spark, leaf, 100L) === 1)
    assert(new java.io.File(sink).list().filter(_.contains("compact")).isEmpty)
    assert(rows() === live)
  }

  test("compact on a file: URI answers as on the plain path, for a flat " +
    "directory and for one leaf of a sink") {
    import spark.implicits._
    def rows(dir: String) = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    // (files planned, rows kept, parquet files left, hidden leftovers)
    def flat(arg: java.nio.file.Path => String) = {
      val dir = Files.createTempDirectory("graft_compact_uri").resolve("t")
      (0 until 4).foreach { i =>
        (i * 25 until (i + 1) * 25).map(k => (k.toLong, s"r$k"))
          .toDF("k", "v").coalesce(1).write.mode("append").parquet(dir.toString)
      }
      val before = rows(dir.toString)
      val files = Pipeline.compact(spark, arg(dir), targetRowsPerFile = 40)
      (files, rows(dir.toString) == before,
        dir.toFile.list().count(_.endsWith(".parquet")),
        dir.getParent.toFile.list().filter(_.contains("compact")).toSeq)
    }
    assert(flat(_.toString) === ((3, true, 3, Nil)))
    assert(flat(_.toUri.toString) === ((3, true, 3, Nil)))
    // (files planned, rows kept, watermark, hidden leftovers in the sink)
    def leaf(arg: java.nio.file.Path => String) = {
      val root = Files.createTempDirectory("graft_compact_uri_leaf").resolve("t")
      val sink = arg(root)
      Pipeline.runIncremental(spark, events(Seq(("2024-05-01 01:00:00", "a", 1.0),
        ("2024-05-01 02:00:00", "b", 2.0), ("2024-05-02 01:00:00", "b", 3.0))),
        "zone", sink, Date.valueOf("2024-05-03")): Unit
      val before = rows(sink)
      val files = Pipeline.compact(spark, s"$sink/date=2024-05-01", 100L)
      (files, rows(sink) == before, Pipeline.watermark(spark, sink),
        root.toFile.list().filter(_.contains("compact")).toSeq)
    }
    val expected = (1, true, Some(Date.valueOf("2024-05-02")), Nil)
    assert(leaf(_.toString) === expected)
    assert(leaf(_.toUri.toString) === expected)
  }

  test("deleteKeys: copy-on-write of matching partitions only, emptied " +
    "partitions removed, idempotent replay") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_del").toString + "/t"
    val day1 = events(Seq(
      ("2024-01-01 01:00:00", "SE1", 10.0), ("2024-01-01 02:00:00", "SE2", 20.0),
      ("2024-01-02 01:00:00", "SE1", 30.0), ("2024-01-02 02:00:00", "SE3", 40.0),
      ("2024-01-03 01:00:00", "SE9", 70.0)))
    Pipeline.runIncremental(spark, day1, "zone", sink, Date.valueOf("2024-01-04"))
    def state() = spark.read.parquet(sink)
      .select(col("date").cast("string"), col("group_key"))
      .as[(String, String)].collect().toSet
    assert(state().size === 5)
    val untouchedFiles = new java.io.File(s"$sink/date=2024-01-03")
      .listFiles().map(_.getName).toSet

    // the GDPR request: forget SE1 everywhere
    val n = Pipeline.deleteKeys(spark, Seq("SE1").toDF("group_key"), sink)
    assert(n === 2)
    assert(state() === Set(("2024-01-01", "SE2"), ("2024-01-02", "SE3"),
      ("2024-01-03", "SE9")))
    // the partition with no matches was never rewritten
    assert(new java.io.File(s"$sink/date=2024-01-03")
      .listFiles().map(_.getName).toSet === untouchedFiles)

    // replay is a no-op
    assert(Pipeline.deleteKeys(spark, Seq("SE1").toDF("group_key"), sink) === 0L)
    assert(state().size === 3)

    // the dynamic-overwrite pitfall: deleting a partition's LAST rows
    // must remove the partition directory, not silently keep old files
    assert(Pipeline.deleteKeys(spark, Seq("SE9").toDF("group_key"), sink) === 1L)
    assert(!new java.io.File(s"$sink/date=2024-01-03").exists())
    assert(state() === Set(("2024-01-01", "SE2"), ("2024-01-02", "SE3")))
  }

  test("deleteKeys on a sink given as a file: URI removes the date it " +
    "emptied, and the watermark moves back") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_del_uri").resolve("t")
    val sink = dir.toUri.toString
    assert(sink.startsWith("file:"), sink)
    Pipeline.runIncremental(spark, events(Seq(
      ("2024-01-01 01:00:00", "SE1", 10.0), ("2024-01-02 01:00:00", "SE9", 20.0))),
      "zone", sink, Date.valueOf("2024-01-03"))
    assert(Pipeline.watermark(spark, sink) === Some(Date.valueOf("2024-01-02")))
    assert(Pipeline.deleteKeys(spark, Seq("SE9").toDF("group_key"), sink) === 1L)
    assert(!dir.resolve("date=2024-01-02").toFile.exists())
    assert(Pipeline.watermark(spark, sink) === Some(Date.valueOf("2024-01-01")))
    // the re-run is a no-op, not a post-condition failure
    assert(Pipeline.deleteKeys(spark, Seq("SE9").toDF("group_key"), sink) === 0L)
  }

  test("deleteKeys removes the date it empties before its commit: a failed " +
    "commit brings no deleted row back, and the re-run finishes the delete") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${PipelineSpec.CrashOnRename.Scheme}.impl",
      classOf[PipelineSpec.CrashOnRename].getName)
    val dir = Files.createTempDirectory("graft_del_order").resolve("t")
    val sink = s"${PipelineSpec.CrashOnRename.Scheme}:$dir"
    Pipeline.runIncremental(spark, events(Seq(
      ("2024-01-01 01:00:00", "SE1", 10.0), ("2024-01-01 01:00:00", "SE2", 20.0),
      ("2024-01-02 01:00:00", "SE1", 30.0))), "zone", sink, Date.valueOf("2024-01-03"))
    def rows() = spark.read.parquet(sink)
      .select(col("date").cast("string"), col("group_key"))
      .as[(String, String)].collect().toSet
    val keys = Seq("SE1").toDF("group_key")
    PipelineSpec.CrashOnRename.armed.set(true)
    intercept[Exception](Pipeline.deleteKeys(spark, keys, sink))
    assert(!PipelineSpec.CrashOnRename.armed.get, "the commit never renamed")
    // 2024-01-02 held only SE1 and is already gone; 2024-01-01 was not
    // rewritten, so its SE1 row still matches the request
    assert(!dir.resolve("date=2024-01-02").toFile.exists())
    assert(rows() === Set(("2024-01-01", "SE1"), ("2024-01-01", "SE2")))
    assert(Pipeline.deleteKeys(spark, keys, sink) === 1L)
    assert(rows() === Set(("2024-01-01", "SE2")))
  }

  test("stale files of an emptied partition: re-run is the recovery path; " +
    "post-condition blocks a false success") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_del_crash").toString + "/t"
    val day1 = events(Seq(
      ("2024-01-01 01:00:00", "SE1", 10.0), ("2024-01-02 01:00:00", "SE2", 20.0),
      ("2024-01-03 01:00:00", "SE1", 30.0)))
    Pipeline.runIncremental(spark, day1, "zone", sink, Date.valueOf("2024-01-04"))
    // snapshot the files of a partition the delete will EMPTY, so we can
    // put them back after it (a restore from backup, say)
    val doomed = new java.io.File(s"$sink/date=2024-01-03")
    val stash = Files.createTempDirectory("graft_del_stash").toFile
    doomed.listFiles().filter(_.isFile).foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(stash, f.getName).toPath): Unit
    }
    assert(Pipeline.deleteKeys(spark, Seq("SE1").toDF("group_key"), sink) === 2L)
    assert(!doomed.exists())
    // the emptied partition's old files are back on disk
    doomed.mkdirs()
    stash.listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(doomed, f.getName).toPath): Unit
    }
    val resurrected = spark.read.parquet(sink)
      .filter(col("group_key") === "SE1").count()
    assert(resurrected === 1L) // the damage is real
    // recovery = re-run the same request (idempotent): the resurrected
    // rows match again, the partition re-lists, the rm completes, and
    // the post-condition passes
    assert(Pipeline.deleteKeys(spark, Seq("SE1").toDF("group_key"), sink) === 1L)
    assert(!doomed.exists())
    assert(spark.read.parquet(sink)
      .filter(col("group_key") === "SE1").count() === 0L)
  }

  test("deleteKeys: URL-escaped and NULL partition values resolve to the " +
    "real on-disk directories; null partition's kept rows survive") {
    import spark.implicits._
    val sink = Files.createTempDirectory("graft_del_esc").toString + "/t"
    // partition values Spark escapes on disk (space, ':', '%') plus NULL
    // (__HIVE_DEFAULT_PARTITION__); k1 empties 'x:y'; both keys share the
    // null partition so it must be REWRITTEN (k2 kept), not rm'd
    Seq(("k1", Some("a b")), ("k1", Some("x:y")), ("k1", None),
      ("k2", Some("a b")), ("k2", Some("p%q")), ("k2", None))
      .toDF("group_key", "src")
      .write.partitionBy("src").parquet(sink)
    val n = Pipeline.deleteKeys(spark, Seq("k1").toDF("group_key"), sink,
      keyCols = Seq("group_key"), partitionCol = "src")
    assert(n === 3)
    val remaining = spark.read.parquet(sink)
      .select(col("group_key"), coalesce(col("src"), lit("<null>")))
      .as[(String, String)].collect().toSet
    assert(remaining === Set(
      ("k2", "a b"), ("k2", "p%q"), ("k2", "<null>")))
    // the emptied escaped partition dir is gone; survivors keep theirs
    val dirs = new java.io.File(sink).listFiles()
      .filter(_.isDirectory).map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(!dirs.exists(_.contains("x%3Ay")), s"emptied dir survived: $dirs")
    assert(dirs.contains("src=a b") && dirs.contains("src=p%25q") &&
      dirs.contains("src=__HIVE_DEFAULT_PARTITION__"), dirs.toString)

    // now empty the null partition entirely — its directory must go
    assert(Pipeline.deleteKeys(spark, Seq("k2").toDF("group_key"), sink,
      keyCols = Seq("group_key"), partitionCol = "src") === 3L)
    assert(!new java.io.File(s"$sink/src=__HIVE_DEFAULT_PARTITION__").exists())
  }

  test("clustered write: AQE rebalance splits a hot date; a cold date writes one file") {
    // The sink commit clusters with a REBALANCE hint: one writer task per
    // date, and AQE splits a date whose shuffle output exceeds the
    // advisory partition size at map-output boundaries (guide §2.5+§6) —
    // at most one file per map task, rows identical.
    // the rebalance's map side is the aggregate's output: one task per
    // shuffle partition (coalescing is off in the test session)
    val mapTasks = spark.sessionState.conf.numShufflePartitions
    // one HOT date (64 groups) + one cold date (2 groups)
    val hot = (1 to 64).map(g => ("2024-03-01 01:00:00", s"g$g", g.toDouble))
    val cold = Seq(("2024-03-02 01:00:00", "g1", 1.0),
      ("2024-03-02 02:00:00", "g2", 2.0))
    val src = events(hot ++ cold)
    def load(sink: String): Long =
      Pipeline.runIncremental(spark, src, "zone", sink,
        Date.valueOf("2024-03-03"), overwritePartitions = true)
    def snapshot(sink: String): Seq[(String, String, Double, Long)] =
      spark.read.parquet(sink)
        .select(col("date").cast("string"), col("group_key"),
          col("avg_value"), col("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
        .sorted.toSeq
    def filesPerDate(sink: String): Map[String, Int] =
      new java.io.File(sink).listFiles().filter(_.isDirectory)
        .filterNot(_.getName.startsWith("."))
        .map(d => d.getName ->
          d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
    val plain = Files.createTempDirectory("graft_rebalance0").toString + "/t"
    load(plain)
    // the hot date's rebalance partition (under 1 KB of shuffle output
    // here; it stays whole at 1 KB) is well above 128 bytes, so AQE
    // splits it; the cold date's two rows share one map output
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "128")
    try {
      val split = Files.createTempDirectory("graft_rebalance1").toString + "/t"
      load(split)
      // content identical to the default layout
      assert(snapshot(split) === snapshot(plain))
      val fpd = filesPerDate(split)
      // the hot date fanned out (>1 writer task ⇒ >1 file) but stayed
      // bounded by the map tasks; the cold date stayed one file
      assert(fpd("date=2024-03-01") > 1 && fpd("date=2024-03-01") <= mapTasks,
        fpd.toString)
      assert(fpd("date=2024-03-02") === 1, fpd.toString)
      // default layout was exactly one file per date
      assert(filesPerDate(plain).values.forall(_ === 1))
      // upsert through the same commit: replace the hot date's values.
      // Every hot-date row comes from `updates`, read back from ≤mapTasks
      // files, so the rewrite stays within mapTasks files
      val updates = spark.read.parquet(split)
        .filter(col("date") === lit("2024-03-01"))
        .withColumn("avg_value", col("avg_value") * lit(2.0))
      val nUp = Pipeline.upsert(spark, updates, split)
      assert(nUp === 64L)
      assert(filesPerDate(split)("date=2024-03-01") <= mapTasks)
      val doubled = snapshot(plain).map {
        case (d, g, av, n) if d == "2024-03-01" => (d, g, av * 2.0, n)
        case row => row
      }.sorted
      assert(snapshot(split) === doubled)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a sink commit leaves the session's partitionOverwriteMode alone") {
    // The overwrite mode is a per-write option, never session conf: a
    // set/restore of the shared conf races every other writer on the
    // session (the streaming sink upserts from its own thread). A UDF in
    // the source parks the write job mid-flight while this thread reads
    // the session conf.
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    assert(before.equalsIgnoreCase("static"))
    PipelineSpec.Gate.reset()
    val park = udf { (v: Double) => PipelineSpec.Gate.pass(); v }
    val src = events(Seq(("2024-04-01 01:00:00", "a", 1.0),
      ("2024-04-02 01:00:00", "b", 2.0))).withColumn("value", park(col("value")))
    val sink = Files.createTempDirectory("graft_conf").toString + "/t"
    val loaded = new java.util.concurrent.atomic.AtomicLong(-1L)
    val writer = new Thread(() => loaded.set(Pipeline.runIncremental(spark, src,
      "zone", sink, Date.valueOf("2024-04-03"), overwritePartitions = true)))
    writer.start()
    try {
      assert(PipelineSpec.Gate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the write job never reached the UDF")
      assert(spark.conf.get(key) === before)
    } finally PipelineSpec.Gate.release.countDown()
    writer.join(60000)
    assert(loaded.get === 2L)
    assert(spark.conf.get(key) === before)
  }

  test("compact refuses a partitioned table root and leaves it untouched") {
    val sink = Files.createTempDirectory("graft_compact_root").toString + "/t"
    Pipeline.runIncremental(spark, events(Seq(("2024-05-01 01:00:00", "a", 1.0),
      ("2024-05-02 01:00:00", "b", 2.0))), "zone", sink, Date.valueOf("2024-05-03"))
    val rows = spark.read.parquet(sink).collect().map(_.toString).sorted.toSeq
    val e = intercept[IllegalArgumentException](Pipeline.compact(spark, sink, 100L))
    assert(e.getMessage.contains("partitioned table root"), e.getMessage)
    // the root keeps its date directories, so the watermark still reads
    // the newest loaded date
    assert(Pipeline.watermark(spark, sink) === Some(Date.valueOf("2024-05-02")))
    assert(spark.read.parquet(sink).collect().map(_.toString).sorted.toSeq === rows)
    // one leaf partition is a flat directory: compacting it still works
    assert(Pipeline.compact(spark, s"$sink/date=2024-05-01", 100L) === 1)
    assert(Pipeline.watermark(spark, sink) === Some(Date.valueOf("2024-05-02")))
    assert(spark.read.parquet(sink).collect().map(_.toString).sorted.toSeq === rows)
  }

  test("a load on a new date compiles no new classes: the load date is " +
    "not compiled into the generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val day = Seq(("2024-07-01 01:00:00", "SE1", 10.0),
      ("2024-07-01 02:00:00", "SE2", 20.0))
    def coldStart(loadDate: String): Long = Pipeline.runIncremental(spark,
      events(day), "zone", Files.createTempDirectory("graft_ld").toString + "/t",
      Date.valueOf(loadDate))
    assert(coldStart("2024-07-02") === 2)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val sink = Files.createTempDirectory("graft_ld").toString + "/t"
    assert(Pipeline.runIncremental(spark, events(day), "zone", sink,
      Date.valueOf("2024-07-03")) === 2)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0)
    assert(spark.read.parquet(sink).select(col("load_date").cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq === Seq("2024-07-03"))
  }

  test("the delta filter over a parquet source reaches the scan's PushedFilters") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft_pushed").toString
    events(Seq(("2024-08-01 01:00:00", "SE1", 1.0), ("2024-08-02 01:00:00", "SE1", 2.0),
      ("2024-08-03 01:00:00", "SE1", 3.0)))
      .write.parquet(s"$dir/events.parquet")
    val src = spark.read.parquet(s"$dir/events.parquet")
    val sink = s"$dir/sink"
    Pipeline.runIncremental(spark, src.filter(col("ts") < "2024-08-02"), "zone", sink,
      Date.valueOf("2024-08-02"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(Pipeline.runIncremental(spark, src, "zone", sink,
        Date.valueOf("2024-08-04")) === 2)
      org.apache.spark.sql.graftshim.Shim.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // to_date(ts) > 2024-08-01 reaches parquet as ts >= 2024-08-02 00:00
    val scans = plans.toArray.map(_.toString).flatMap(_.linesIterator)
      .filter(_.contains("PushedFilters"))
    assert(scans.exists(_.contains("GreaterThanOrEqual(ts,2024-08-02 00:00:00")),
      scans.mkString("\n"))
  }
}

object PipelineSpec {
  /** The hidden sibling under which `Pipeline.compact` stages or retires
    * `dir`. */
  def compactSibling(dir: String, suffix: String): String = {
    val p = java.nio.file.Paths.get(dir)
    p.resolveSibling(s".${p.getFileName}$suffix").toString
  }

  /** Creates `dir` holding one file `name`, once; later calls find it
    * there. Tasks of the local test session share this JVM. */
  def createOnce(dir: String, name: String): Unit = synchronized {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(d)) {
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve(name), "published by a rival writer"): Unit
    }
  }

  /** A parquet committer whose job commit publishes the files and then
    * throws: a write whose output lands before its process dies. */
  class CrashAfterCommit(out: org.apache.hadoop.fs.Path,
      ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
      extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
    override def commitJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
      super.commitJob(job)
      throw new java.io.IOException(s"injected crash after committing $out")
    }
  }

  /** The local file system under the scheme [[CrashOnRename.Scheme]],
    * whose first `rename` after [[CrashOnRename.armed]] is set throws: a
    * commit that dies at its first move, with every step before it on
    * disk. */
  class CrashOnRename extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"${CrashOnRename.Scheme}:///")
    override def getScheme: String = CrashOnRename.Scheme
    override def rename(src: org.apache.hadoop.fs.Path,
        dst: org.apache.hadoop.fs.Path): Boolean =
      if (CrashOnRename.armed.getAndSet(false))
        throw new java.io.IOException(s"injected crash: rename $src to $dst")
      else super.rename(src, dst)
  }

  object CrashOnRename {
    val Scheme = "crashrename"
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  }

  /** Parks the first caller inside a running Spark task until the test
    * thread releases it (local mode: tasks share the test JVM). */
  object Gate {
    @volatile var entered = new java.util.concurrent.CountDownLatch(1)
    @volatile var release = new java.util.concurrent.CountDownLatch(1)
    private val first = new java.util.concurrent.atomic.AtomicBoolean(false)
    def reset(): Unit = {
      entered = new java.util.concurrent.CountDownLatch(1)
      release = new java.util.concurrent.CountDownLatch(1)
      first.set(false)
    }
    def pass(): Unit = if (first.compareAndSet(false, true)) {
      entered.countDown()
      release.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
  }
}
