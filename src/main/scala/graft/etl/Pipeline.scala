package graft.etl

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline re-grounded on Spark (SURVEY.md §3, §7.1):
  * watermark → bounded delta → per-(day, group) mean → schema-enforced
  * append. This is `/root/reference/scripts/energy_etl.py` (:22-37 watermark,
  * :39-84 fetch+reduce, :86-108 load) re-expressed as a declarative batch
  * over a date-partitioned Parquet sink.
  *
  * Scale design (100 TB):
  *  - the sink is PARTITIONED BY load date → the watermark is the max
  *    over the `date=` directory names (a file-system listing, no Spark
  *    job and no data read), and downstream readers get static
  *    partition pruning;
  *  - the delta filter lands on the source scan (predicate pushdown), so a
  *    daily run reads only new row groups;
  *  - the hourly→daily reduction is a partial-agg hash aggregate: the
  *    shuffle carries |days × groups| partial states, a ~24× cut before any
  *    exchange (mirrors the reference's in-process mean, energy_etl.py:69);
  *  - every write reaches the sink through ONE commit ([[commit]]): the
  *    frame is clustered by its partition column (AQE REBALANCE — one
  *    writer task per partition value, a hot value split at the advisory
  *    partition size), the row count rides the write as an Observation,
  *    and the write is a per-write dynamic partition overwrite (replace
  *    exactly the partitions the frame holds) or an append. The session
  *    conf is never touched, so a streaming upsert on one thread cannot
  *    leak its overwrite mode into another writer on the same session;
  *  - [[runIncremental]] commits as a blind append (the reference's
  *    WRITE_APPEND, :105 — at-least-once, duplicates on crash replay,
  *    [[readDeduped]] recovers on read) or as a date-keyed overwrite
  *    (`overwritePartitions = true`) — replaying a delta rewrites exactly
  *    its own date partitions with identical content, so retries are
  *    idempotent WRITE-side, closing the reference's one semantic hole.
  *    A `reprocessDays` overlap window rolls the watermark back n days
  *    each run, making partial-write damage self-healing (the standard
  *    reprocessing-window idiom);
  *  - [[upsert]] and [[deleteKeys]] end in one copy-on-write step
  *    ([[rewrite]]): checkpoint the merged rows, remove the partitions
  *    left empty, then commit the rest as the same overwrite, so a crash
  *    between the removal and the commit brings no deleted row back;
  *  - every verb reaches its files through the sink's own Hadoop file
  *    system, and [[writeVersioned]] and [[compact]] move a staged
  *    directory into place with one no-overwrite [[publish]].
  */
object Pipeline {

  /** Sink schema — the reference's BigQuery schema (energy_etl.py:92-97)
    * re-typed for Spark. */
  val sinkSchema: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("group_key", StringType, nullable = false),
    StructField("avg_value", DoubleType, nullable = true),
    StructField("n", LongType, nullable = false),
    StructField("load_date", DateType, nullable = false)))

  /** The sink's one commit. `df` is clustered by `partitionCol` with a
    * REBALANCE hint: AQE hashes it into one writer task (hence one file)
    * per partition value (guide §6 small-files rule), and splits a hot
    * value whose shuffle output exceeds
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` at map-output
    * boundaries, so a skewed date never serializes through one writer
    * (guide §2.5); with AQE off it plans as `repartition(partitionCol)`.
    * The row count rides the write as an Observation — no extra scan.
    * `replace` overwrites exactly the partition values `df` holds (the
    * per-write `partitionOverwriteMode=dynamic` option, so an empty frame
    * touches nothing and the session conf is never flipped); otherwise
    * the rows are appended. Returns the rows written. */
  private def commit(df: DataFrame, sinkDir: String, partitionCol: String,
      replace: Boolean): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.hint("rebalance", col(partitionCol))
      .observe(obs, count(lit(1)).as("n"))
      .write
      .partitionBy(partitionCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode(if (replace) SaveMode.Overwrite else SaveMode.Append)
      .parquet(sinkDir)
    obs.get("n").asInstanceOf[Long]
  }

  /** MAX(date) already loaded, or None on cold start (energy_etl.py:41-46).
    * Answered from the sink's directory listing alone — no Spark job, no
    * footer or data read: the newest `date=` directory that holds a
    * visible data file. That is the answer a `MAX(date)` scan of the
    * sink gives, because the scan sees exactly the rows of those files:
    *  - [[hidden]] names never count, so neither does a crashed
    *    append's or overwrite's uncommitted output;
    *  - a date directory with no visible file (a partition whose removal
    *    was interrupted) contributes no rows;
    *  - `__HIVE_DEFAULT_PARTITION__` is the NULL date, which MAX ignores.
    * Newest first, so a daily run lists the sink root and one date
    * directory. */
  def watermark(spark: SparkSession, sinkDir: String): Option[java.sql.Date] = {
    val root = new Path(sinkDir)
    val fs = fileSystem(spark, root)
    partitionDirs(fs, root)
      .collect { case ("date", day, dir) if day != ExternalCatalogUtils.DEFAULT_PARTITION_NAME =>
        java.time.LocalDate.parse(day) -> dir }
      .sortBy(-_._1.toEpochDay)
      .collectFirst { case (day, dir)
        if fs.listStatus(dir).exists(f => f.isFile && !hidden(f.getPath)) =>
        java.sql.Date.valueOf(day)
      }
  }

  /** The Hadoop file system that holds `dir`: a plain path, a `file:`
    * URI or any scheme Hadoop serves. */
  private def fileSystem(spark: SparkSession, dir: Path): FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Names Spark's file listing skips: `_temporary`, `.spark-staging-*`,
    * `_SUCCESS`, `.crc`, and the staging names of this object's verbs. */
  private def hidden(p: Path): Boolean =
    p.getName.startsWith("_") || p.getName.startsWith(".")

  /** The visible `key=value` subdirectories of `root` (none if `root` is
    * missing), as (key, unescaped value, directory). */
  private def partitionDirs(fs: FileSystem, root: Path): Seq[(String, String, Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.collect {
      case d if d.isDirectory && !hidden(d.getPath) && d.getPath.getName.contains("=") =>
        val Array(key, value) = d.getPath.getName.split("=", 2)
        (key, ExternalCatalogUtils.unescapePathName(value), d.getPath)
    }

  /** Publishes the complete directory `staged` as `live` in one rename
    * that fails, leaving both as they were, when `live` already exists.
    * `FileSystem.rename` cannot do this: onto an existing directory it
    * moves `staged` inside it. */
  private def publish(spark: SparkSession, staged: Path, live: Path): Unit =
    FileContext.getFileContext(fileSystem(spark, live).getUri,
      spark.sparkContext.hadoopConfiguration).rename(staged, live, Options.Rename.NONE)

  /** One incremental run: reduce source rows with date > watermark to one
    * (date, group) mean row each and commit them to the sink. Returns the
    * number of rows written (the reference's load report, :109).
    *
    * @param events    source with (ts timestamp, group col, value double)
    * @param groupCol  the per-group key column name (reference's zone)
    * @param loadDate  injected deterministic "now" (reference's utcnow :100)
    * @param overwritePartitions  true → date-keyed dynamic partition
    *                  overwrite (idempotent replay); false → the
    *                  reference's blind append
    * @param reprocessDays  roll the watermark back n days so each run
    *                  recomputes-and-overwrites a trailing window —
    *                  self-healing against partial writes; only sound
    *                  with `overwritePartitions` (asserted)
    */
  def runIncremental(
      spark: SparkSession,
      events: DataFrame,
      groupCol: String,
      sinkDir: String,
      loadDate: java.sql.Date,
      coldStartLookbackDays: Option[Int] = None,
      overwritePartitions: Boolean = false,
      reprocessDays: Int = 0): Long = {
    require(reprocessDays == 0 || overwritePartitions,
      "reprocessDays without overwritePartitions would append duplicate days")
    val wm = watermark(spark, sinkDir)
      .map(d => if (reprocessDays == 0) d
        else java.sql.Date.valueOf(d.toLocalDate.minusDays(reprocessDays.toLong)))
    val delta = wm match {
      case Some(d) => events.filter(to_date(col("ts")) > lit(d))
      case None => coldStartLookbackDays match {
        // the reference's bounded cold start (energy_etl.py:44-46): only
        // the trailing n days of source history. The bound is relative to
        // the source's own max date (a broadcast scalar, no collect).
        case Some(n) =>
          val maxD = events.agg(max(to_date(col("ts"))).as("hi"))
          events.crossJoin(broadcast(maxD))
            .filter(to_date(col("ts")) > date_sub(col("hi"), n))
            .drop("hi")
        case None => events // unbounded cold start: full history
      }
    }
    val daily = delta
      .groupBy(to_date(col("ts")).as("date"), col(groupCol).as("group_key"))
      .agg(
        (sum(col("value").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("avg_value"),
        count(lit(1)).as("n"))
      // a reference, not a literal: Spark inlines a Date literal into the
      // generated Java, so each new load date would compile new classes
      .withColumn("load_date", Shim.column(DateParam(DateTimeUtils.fromJavaDate(loadDate))))
      // schema enforcement (:92-97): project + cast to the declared sink
      // types — stays inside codegen, unlike a round-trip through RDD
      .select(sinkSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
        .toIndexedSeq: _*)

    // the row count (the reference's load report) rides the commit
    commit(daily, sinkDir, "date", replace = overwritePartitions)
  }

  /** Key-level MERGE (upsert) into the date-partitioned sink — the one
    * warehouse primitive the append/overwrite modes don't cover: a
    * replay or correction carrying CHANGED values for a subset of keys
    * inside a partition. Date-keyed dynamic partition overwrite
    * ([[runIncremental]] `overwritePartitions`) rewrites whole date
    * partitions FROM THE DELTA, so keys absent from the delta would be
    * dropped; blind append duplicates them. This is copy-on-write merge
    * (the Delta/Hudi CoW shape, public design): rewrite only the
    * affected date partitions, preserving their untouched keys.
    *
    * Mechanics:
    *  1. the updates are materialized once (an eager localCheckpoint),
    *     and the affected-date list is observed on that same job —
    *     watermark-class driver state (days, not rows), enforced by
    *     `maxPartitions`. An empty batch observes no dates and returns 0
    *     before anything touches disk;
    *  2. the sink's one copy-on-write step ([[rewrite]]) reads the
    *     existing rows of ONLY those dates, anti-joins the updates' keys
    *     away (null-safe match), unions the updates in and commits the
    *     result as a dynamic partition overwrite of exactly the affected
    *     dates. Every affected date holds an update, so none is emptied.
    *     A missing sink is created empty first and reads as zero rows, so
    *     the first upsert into a new sink takes the same path. Replaying
    *     the same upsert regenerates the same merge content, so retries
    *     are idempotent end-to-end.
    *
    * At 100 TB both the read and the rewrite touch |affected dates| ×
    * |groups/day| daily rows — never the full sink; the merge
    * materialization is |affected partitions|-sized (spillable
    * MEMORY_AND_DISK blocks), and an executor loss mid-overwrite fails
    * the job (lineage is truncated) rather than corrupting it — the
    * idempotent re-run is the recovery path, same as a crash.
    *
    * Single-writer contract (the same one every path-based CoW merge
    * has): concurrent upserts to ONE sink share the staging dir and can
    * interleave partition replacement — serialize writers per sink (a
    * scheduler lock or a Delta/Iceberg-style transactional commit layer
    * at production scale).
    *
    * Returns the number of rows written into the affected partitions. */
  def upsert(
      spark: SparkSession,
      updates: DataFrame,
      sinkDir: String,
      keyCols: Seq[String] = Seq("date", "group_key"),
      partitionCol: String = "date",
      maxPartitions: Int = 10000): Long = {
    require(keyCols.contains(partitionCol),
      s"upsert key $keyCols must include the partition column $partitionCol" +
        " — a key that moves across partitions needs a full-sink merge")
    // `updates` feeds the anti-join's key projection and the merge union,
    // and its partition values pick the partitions to rewrite. One eager
    // localCheckpoint computes the caller's lineage once per upsert (in
    // the streaming sink, an aggregate over the micro-batch) and observes
    // the affected partition set as it materializes, so the set costs no
    // job of its own. Delta-sized, never sink-sized.
    val seen = org.apache.spark.sql.Observation()
    val (parts, nulls) = partitionsObserved(partitionCol)
    val upd = updates.observe(seen, parts, nulls).localCheckpoint(eager = true)
    val affected = partitionsSeen(seen)
    if (affected.isEmpty) return 0L
    // schema given explicitly: upsert's merge contract already requires
    // updates.schema == sink schema (unionByName below fails otherwise),
    // so the per-call parquet footer schema-inference read is pure
    // overhead — the streaming sink pays it every micro-batch (§6). With
    // the schema known, a new (empty) sink directory reads as zero rows.
    rewrite(spark, spark.read.schema(updates.schema).parquet(sinkDir), sinkDir,
        partitionCol, affected, maxPartitions) { existing =>
      // null-safe key match: an update keyed on a NULL partition value
      // replaces its old row instead of landing beside it
      val newKeys = upd.select(keyCols.map(col): _*)
      existing.join(newKeys,
        keyCols.map(k => existing(k) <=> newKeys(k)).reduce(_ && _), "left_anti")
        .unionByName(upd)
    }
  }

  /** The sink's one copy-on-write step, which [[upsert]] and
    * [[deleteKeys]] both end in. It refuses more than `maxPartitions`
    * affected partitions before it touches disk. Then it creates a
    * missing `sinkDir` empty and reads `sink`, passed by name so the read
    * comes after the creation. Only the `affected` partitions of `sink`
    * go through the verb's `merge`, and one eager localCheckpoint
    * materializes the result and observes its partition values on the
    * same job. The checkpoint truncates the lineage, so no later task
    * re-reads a sink file. Then, in this order:
    *  1. every affected partition with no surviving row is removed —
    *     dynamic overwrite replaces only the partitions the frame holds,
    *     so an emptied one would otherwise keep its old files (the
    *     classic dynamic-overwrite delete pitfall);
    *  2. the survivors go through the one [[commit]] as a dynamic
    *     partition overwrite, skipped when nothing survives.
    * A crash between the two leaves a state a re-run repairs: a removed
    * partition held only rows the verb drops, and every other affected
    * partition still holds its old rows, so the re-run matches them
    * again. Directory names use Spark's own escaping
    * (ExternalCatalogUtils), so values with spaces/':'/'%' and the NULL
    * partition (__HIVE_DEFAULT_PARTITION__) resolve to the real on-disk
    * directories. Returns the rows written. */
  private def rewrite(spark: SparkSession, sink: => DataFrame, sinkDir: String,
      partitionCol: String, affected: Seq[Any], maxPartitions: Int)(
      merge: DataFrame => DataFrame): Long = {
    require(affected.length <= maxPartitions,
      s"the rewrite touches >$maxPartitions $partitionCol partitions — that is " +
        "a table rewrite, not an incremental merge or delete; split the batch/request")
    val root = new Path(sinkDir)
    val fs = fileSystem(spark, root)
    fs.mkdirs(root): Unit
    val obs = org.apache.spark.sql.Observation()
    val (parts, nulls) = partitionsObserved(partitionCol)
    val staged = merge(sink.filter(inPartitions(partitionCol, affected)))
      .observe(obs, parts, nulls)
      .localCheckpoint(eager = true)
    val survivors = partitionsSeen(obs).toSet
    affected.filterNot(survivors.contains).foreach { p =>
      val dirName = ExternalCatalogUtils
        .getPartitionPathString(partitionCol, if (p == null) null else p.toString)
      fs.delete(new Path(root, dirName), true): Unit
    }
    if (survivors.isEmpty) 0L
    else commit(staged, sinkDir, partitionCol, replace = true)
  }

  /** Observed metrics for the set of `partitionCol` values a frame holds.
    * `collect_set` drops NULL, so a NULL count rides along: without it the
    * NULL partition would read as untouched and its directory be treated
    * as emptied. Read back with [[partitionsSeen]]. */
  private def partitionsObserved(partitionCol: String) = (
    collect_set(col(partitionCol)).as("parts"),
    count(when(col(partitionCol).isNull, lit(1))).as("nulls"))

  private def partitionsSeen(obs: org.apache.spark.sql.Observation): Seq[Any] = {
    val m = obs.get
    val parts = m("parts").asInstanceOf[scala.collection.Seq[Any]].toSeq
    if (m("nulls").asInstanceOf[Long] > 0L) parts :+ null else parts
  }

  /** Rows whose `partitionCol` is one of `values`. NULL partition values
    * never match isin (SQL three-valued logic), so a NULL in `values`
    * becomes an explicit isNull arm — without it a NULL partition's kept
    * rows would drop out of the rewrite while the partition is replaced:
    * data loss. Pinned in PipelineSpec for upsert and deleteKeys. */
  private def inPartitions(partitionCol: String, values: Seq[Any]) = {
    val nonNull = values.filter(_ != null)
    val in =
      if (nonNull.isEmpty) lit(false) else col(partitionCol).isin(nonNull: _*)
    if (values.contains(null)) in || col(partitionCol).isNull else in
  }

  /** Row-level keyed DELETE (the GDPR / right-to-be-forgotten verb —
    * the one write primitive [[upsert]] doesn't express, since an
    * upsert needs a replacement row): removes every sink row whose
    * `keyCols` match a row of `keys`, rewriting ONLY the partitions
    * that contain matches through the same copy-on-write step
    * ([[rewrite]]) as [[upsert]]; untouched partitions keep their files
    * as-is. The affected-partition set comes from the SINK side — a
    * deletion request typically knows the key, not which partitions
    * hold it. A partition the delete empties is removed before the
    * commit. Idempotent: re-applying the same delete finds no matches
    * and is a no-op. Returns the number of rows deleted.
    *
    * Crash state (recovery = re-run): a crash after the emptied
    * partitions' removal and before the commit leaves those partitions
    * gone and every other affected partition with its old rows. No
    * deleted row comes back; the rows still to delete match the keys
    * again, so re-running the same request finishes the delete. A
    * post-condition anti-join (count of surviving matches === 0) runs
    * before returning, so a partial apply can never report success. */
  def deleteKeys(
      spark: SparkSession,
      keys: DataFrame,
      sinkDir: String,
      keyCols: Seq[String] = Seq("group_key"),
      partitionCol: String = "date",
      maxPartitions: Int = 10000): Long = {
    val sink = spark.read.parquet(sinkDir)
    val keyFrame = keys.select(keyCols.map(col): _*).distinct()
    val hit = sink.join(keyFrame, keyCols.toIndexedSeq, "left_semi")
    val affected = hit.select(col(partitionCol)).distinct()
      .limit(maxPartitions + 1).collect().map(_.get(0)).toIndexedSeq
    if (affected.isEmpty) return 0L
    // `before` observes the rows entering the anti-join on the rewrite's
    // checkpoint job, so the deleted count costs no scan of its own
    val before = org.apache.spark.sql.Observation()
    val after = rewrite(spark, sink, sinkDir, partitionCol, affected, maxPartitions) {
      _.observe(before, count(lit(1)).as("n"))
        .join(keyFrame, keyCols.toIndexedSeq, "left_anti")
    }
    val deleted = before.get("n").asInstanceOf[Long] - after
    // post-condition — GDPR verb, verify don't trust: no surviving sink
    // row may match a requested key. A fresh read (the listing reflects
    // the rewrite and the removals) with the first read's schema, so it
    // needs no footer schema inference, and a fully-emptied sink reads as
    // zero rows.
    val residual = spark.read.schema(sink.schema).parquet(sinkDir)
      .join(keyFrame, keyCols.toIndexedSeq, "left_semi").count()
    require(residual == 0L,
      s"deleteKeys post-condition failed: $residual matching rows remain " +
        s"in $sinkDir — re-run the delete (idempotent recovery)")
    deleted
  }

  /** Idempotent-consumer read over the append-only sink: the reference's
    * WRITE_APPEND can duplicate a (date, group) on re-run after a partial
    * failure (energy_etl.py:103-107 — no merge); readers recover
    * exactly-once semantics by keeping only the LATEST load per key.
    * This is the standard at-least-once-writer / dedup-on-read pattern;
    * at 100 TB the aggregate shuffles only the sink (already daily rows,
    * not raw events), partial-aggregated map-side. `max(struct(load_date,
    * n, avg_value))` compares lexicographically, so two loads of one key
    * on the same `load_date` (a same-day rerun that saw late source rows)
    * resolve to the row with the larger `n`, then the larger
    * `avg_value`, and the answer never depends on file order — the idiom
    * [[graft.streaming.Streams.latestPerKey]] uses. */
  def readDeduped(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.schema(sinkSchema).parquet(sinkDir)
      .groupBy(col("date"), col("group_key"))
      .agg(max(struct(col("load_date"), col("n"), col("avg_value"))).as("_m"))
      .select(col("date"), col("group_key"), col("_m.avg_value").as("avg_value"),
        col("_m.n").as("n"), col("_m.load_date").as("load_date"))

  /** The reference's raw ingest shape (energy_etl.py:64-69): each payload is
    * a JSON array of hourly records carrying a price field. Parse with an
    * explicit schema (no runtime inference), explode, and hand back typed
    * rows ready for [[runIncremental]]'s reduction. */
  val hourlySchema: ArrayType = ArrayType(StructType(Seq(
    StructField("ts", TimestampType),
    StructField("zone", StringType),
    StructField("value", DoubleType))))

  def fromJsonPayloads(payloads: DataFrame, jsonCol: String): DataFrame =
    payloads
      .select(explode(from_json(col(jsonCol), hourlySchema)).as("rec"))
      .select(col("rec.ts").as("ts"), col("rec.zone").as("zone"),
        col("rec.value").as("value"))

  /** Range-clustered table publish — the layout step that makes a big
    * Parquet table PRUNABLE. `repartitionByRange` on the clustering key
    * gives every output file a disjoint key range, and the
    * within-partition sort orders row groups inside each file, so
    * Parquet footer min/max stats let any key-range predicate skip
    * whole files and row groups at planning/scan time (Spark's parquet
    * filter pushdown does this automatically — but only if the writer
    * produced non-overlapping stats, which a hash-partitioned write
    * never does: every file then spans the full key range and nothing
    * skips). Secondary sort keys refine row-group locality for
    * composite predicates.
    *
    * At 100 TB this runs once per publish: one range shuffle (the
    * sampled range partitioner bounds driver state at |partitions|
    * scalars), then embarrassingly-parallel sorted writes. Pair with
    * `partitionBy(date)` for coarse static pruning + this for fine
    * intra-partition skipping. PipelineSpec pins the disjointness. */
  def clusteredWrite(
      df: DataFrame,
      keyCol: String,
      numFiles: Int,
      dir: String,
      secondarySort: Seq[String] = Nil): Unit =
    df.repartitionByRange(numFiles, col(keyCol))
      .sortWithinPartitions((keyCol +: secondarySort).map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(dir)

  // ------------------------------------------------ versioned snapshots

  /** Versioned snapshot write (time-travel-lite — the Delta/Iceberg
    * commit idea re-grounded on plain Parquet): the frame is written to
    * a hidden `.v=N.staging`, then [[publish]]ed as an immutable `v=N`,
    * so a visible `v=N` is always complete. A crashed write leaves only
    * the staging directory, which readers and vacuum never see and the
    * next write drops. Old versions stay readable (audit / rollback)
    * until [[vacuumVersions]] retires them. Returns the new version.
    *
    * One writer per table (as [[upsert]]): a second publish of the same
    * `N` fails and leaves `v=N` untouched. */
  def writeVersioned(spark: SparkSession, df: DataFrame,
                     tableDir: String): Int = {
    val root = new Path(tableDir)
    val fs = fileSystem(spark, root)
    val next = versions(spark, tableDir).lastOption.getOrElse(0) + 1
    val staged = new Path(root, s".v=$next.staging")
    fs.delete(staged, true): Unit
    df.write.parquet(staged.toString)
    try publish(spark, staged, new Path(root, s"v=$next"))
    finally fs.delete(staged, true): Unit
    next
  }

  /** Published versions of a [[writeVersioned]] table, ascending. */
  def versions(spark: SparkSession, tableDir: String): Seq[Int] = {
    val root = new Path(tableDir)
    partitionDirs(fileSystem(spark, root), root)
      .collect { case ("v", n, _) => n.toInt }.sorted
  }

  /** [[versions]], refusing a table that has none. */
  private def published(spark: SparkSession, tableDir: String): Seq[Int] = {
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"$tableDir has no published version (no v=N directory)")
    vs
  }

  /** Read a specific snapshot (time travel) or, by default, the newest
    * published one. */
  def readVersion(spark: SparkSession, tableDir: String,
                  version: Option[Int] = None): DataFrame =
    spark.read.parquet(s"$tableDir/v=${version.getOrElse(published(spark, tableDir).last)}")

  /** Retire all but the newest `keep` published versions (the vacuum
    * half of the snapshot lifecycle). An in-flight write is a hidden
    * staging directory, so vacuum never races it. Returns the dropped
    * version numbers. */
  def vacuumVersions(spark: SparkSession, tableDir: String, keep: Int = 2): Seq[Int] = {
    require(keep >= 1, "must keep at least the latest version")
    val drop = published(spark, tableDir).dropRight(keep)
    val fs = fileSystem(spark, new Path(tableDir))
    drop.foreach(v => fs.delete(new Path(tableDir, s"v=$v"), true): Unit)
    drop
  }

  /** Execute a small-file compaction (the OPTIMIZE half of
    * q_compaction_plan): rewrite the directory into
    * ⌈rows/targetRowsPerFile⌉ files and COMMIT BY DIRECTORY RENAME —
    * the live dir is never written in place, so readers of the old
    * layout keep working until the swap (their already-open files stay
    * valid), a crash at any point leaves a recoverable state, and the
    * rewrite is re-runnable (PipelineSpec pins count + content equality,
    * the file-count drop, and crash-point recovery). Row content is
    * untouched.
    *
    * Commit protocol (each rename is one [[publish]]):
    *  1. write the compacted copy to `<parent>/.<leaf>.compact_staging`
    *     (beside, never inside, the target);
    *  2. verify the staged row count;
    *  3. rename live → `<parent>/.<leaf>.compact_old` (retire);
    *  4. rename staging → live (publish);
    *  5. delete the retiree.
    * Both names are hidden (leading `.`): compacting one leaf partition
    * of a live sink stages inside the sink root, where Spark's file
    * listing and [[watermark]] skip hidden entries, so neither a scan
    * nor the watermark sees the staged or retired copy, mid-run or
    * after a crash.
    *
    * Entry first recovers any state a previous crashed run left, in
    * reverse swap order: a missing live dir beside a `.compact_old`
    * means the crash hit between renames 3 and 4 — the retiree is a
    * complete pre-compaction layout, so it is rolled back to live; a
    * `.compact_old` beside a live dir (crash between 4 and 5) is
    * droppable; a leftover `.compact_staging` (crash before 3) is
    * droppable, possibly partial.
    *
    * `dir` must be a flat directory or one leaf partition: a partitioned
    * table root (`k=v` subdirectories) is refused, since the rewrite
    * would flatten its partition columns into file columns. */
  def compact(spark: SparkSession, dir: String,
              targetRowsPerFile: Long): Int = {
    val live = new Path(dir)
    val fs = fileSystem(spark, live)
    val staging = new Path(live.getParent, s".${live.getName}.compact_staging")
    val retired = new Path(live.getParent, s".${live.getName}.compact_old")
    // crash recovery from a previous interrupted run (see scaladoc)
    if (!fs.exists(live) && fs.exists(retired)) publish(spark, retired, live)
    fs.delete(retired, true): Unit
    fs.delete(staging, true): Unit
    // a partitioned root (`k=v` subdirectories) would come back flat: the
    // rewrite turns its partition columns into file columns, and the
    // watermark listing then finds no `date=` directory
    val partitionDir = partitionDirs(fs, live).headOption.map(_._3.getName)
    require(partitionDir.isEmpty, s"compact: $live is a partitioned table " +
      s"root (${partitionDir.get}); compact one leaf partition directory at a time")

    val df = spark.read.parquet(live.toString)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(staging.toString)
    require(spark.read.schema(df.schema).parquet(staging.toString).count() == n,
      "compaction must not change row count")
    publish(spark, live, retired)
    publish(spark, staging, live)
    fs.delete(retired, true): Unit
    files
  }
}

/** A date constant (days since the epoch) that the optimizer does not
  * fold and generated code reads from its references array. The code
  * text, which keys Spark's codegen cache, is then the same for every
  * value, so a daily load reuses the classes compiled the day before. */
private[etl] case class DateParam(days: Int) extends LeafExpression {
  override def dataType: DataType = DateType
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = days
  override def toString: String = s"date_param(${DateTimeUtils.toJavaDate(days)})"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dateParam", Integer.valueOf(days), "java.lang.Integer")
    ev.copy(code = code"final int ${ev.value} = $ref.intValue();", isNull = FalseLiteral)
  }
}
