package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.BatchSink

/** Directory layout for one pipeline instance — the analogue of the
  * reference's `snowflake_demo` database (raw + modelled schemas,
  * dp_setup.sql:137-175) plus our operational-metadata tables.
  */
final case class PipelinePaths(root: String) {
  val stage: String = s"$root/stage"
  val rawTrips: String = s"$root/raw/trips_raw"
  val trips: String = s"$root/modelled/trips"
  val stations: String = s"$root/modelled/stations"
  val programs: String = s"$root/modelled/programs"
  val copyHistory: String = s"$root/ops/copy_history"
  val taskHistory: String = s"$root/ops/task_history"
  val checkpoint: String = s"$root/checkpoint"
}

/** The reference's continuous pipeline, Spark-first:
  *
  *   pipe `trips_pipe` (dp_demo.sql:45)  → Structured Streaming file
  *     source over the stage dir; the file-source log in the checkpoint
  *     gives Snowpipe's exactly-once-per-file guarantee (T1).
  *   streams new_trips/new_stations/new_programs (dp_demo.sql:57-59) →
  *     one micro-batch consumed by all three pushes inside a single
  *     foreachBatch: one checkpoint commit advances "all three streams"
  *     atomically — strictly more consistent than the reference's three
  *     independent tasks (SURVEY §7.4 #2) (T2).
  *   tasks on a 1-minute schedule (dp_setup.sql:188-190) →
  *     Trigger.ProcessingTime (Trigger.AvailableNow in tests); the
  *     `when system$stream_has_data` gate is the cheap empty-batch
  *     short-circuit, surfaced as SKIPPED task_history rows (T3).
  *   task DAG `purge_files after push_trips` (dp_setup.sql:249-250) →
  *     sequential statements in the foreachBatch epilogue (T4).
  *   dimension dedup across batches (T5) → anti-join against the current
  *     dimension table; state lives in the table itself.
  *
  * Crash-replay idempotence (SURVEY §7.4 #1): fact + metrics writes go
  * through `BatchSink.writeBatch` to a `_batch_id=` partition (replay
  * overwrites, never duplicates); dimension appends are anti-joined
  * against the already-committed table.
  */
final class Pipeline(
    spark: SparkSession,
    paths: PipelinePaths,
    clock: Clock = SystemClock,
    taskIntervalSec: Int = 60) {

  import Transform._

  private val tasks = Seq("push_trips", "push_programs", "push_stations", "purge_files")

  // ---- modelled-table readers (logical views drop the physical
  // `_batch_id` partition column) --------------------------------------
  def rawTrips(): DataFrame = readOrEmpty(spark, paths.rawTrips,
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_src_file", org.apache.spark.sql.types.StringType))))
  def trips(): DataFrame = readOrEmpty(spark, paths.trips, tripsSchema)
  def stations(): DataFrame = readOrEmpty(spark, paths.stations, stationsSchema)
  def programs(): DataFrame = readOrEmpty(spark, paths.programs, programsSchema)
  def copyHistory(): DataFrame =
    readOrEmpty(spark, paths.copyHistory, Metrics.copyHistorySchema)
  def taskHistory(): DataFrame =
    readOrEmpty(spark, paths.taskHistory, Metrics.taskHistorySchema)

  // ---- the foreachBatch body (public so tests can replay a batch) ----
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      val scheduled = clock.now()

      // pipe: append the new raw documents (COPY INTO trips_raw).
      BatchSink.writeBatch(batch, paths.rawTrips, batchId)

      // copy_history: one row per file in this batch. Metrics slices
      // are tiny; one partition avoids 1-row files per core.
      BatchSink.writeBatch(
        Metrics.copyHistoryRows(batch, paths.stage, clock).repartition(1),
        paths.copyHistory, batchId)

      val nRaw = batch.count()

      // push_trips (dp_setup.sql:188-203)
      val shred = shredTrips(batch)
      if (nRaw > 0) BatchSink.writeBatch(shred, paths.trips, batchId)

      // push_programs (dp_setup.sql:207-219)
      val newProgs =
        if (nRaw == 0) 0L
        else {
          val survivors =
            mergeInsertOnly(programs(), newPrograms(batch), "program_id")
          val n = survivors.count()
          if (n > 0) survivors.write.mode("append").parquet(paths.programs)
          n
        }

      // push_stations (dp_setup.sql:223-245)
      val newStats =
        if (nRaw == 0) 0L
        else {
          val survivors =
            mergeInsertOnly(stations(), newStations(batch), "station_id")
          val n = survivors.count()
          if (n > 0) survivors.write.mode("append").parquet(paths.stations)
          n
        }

      // purge_files, `after push_trips` (dp_setup.sql:249-252). Only
      // files loaded by PREVIOUSLY COMMITTED batches are deleted: this
      // batch's copy_history rows were written moments ago in this same
      // (uncommitted) foreachBatch, and deleting its stage files before
      // the streaming checkpoint commits would make a crash-replay
      // re-read now-missing files (FileNotFound / silent row loss).
      // Snowpipe purges post-commit; `< batchId` is that window.
      val purged = purge(beforeBatchId = batchId)

      // task_history: one terminal row per task (SUCCEEDED/SKIPPED per
      // the stream_has_data gate) + a SCHEDULED row for the next pulse.
      val done = clock.now()
      val next = new java.sql.Timestamp(done.getTime + taskIntervalSec * 1000L)
      val rowsPerTask = Map(
        "push_trips" -> nRaw, "push_programs" -> newProgs,
        "push_stations" -> newStats, "purge_files" -> purged.toLong)
      val th = tasks.map { t =>
        val n = rowsPerTask(t)
        Metrics.taskHistoryRow(spark, t,
          if (n > 0) "SUCCEEDED" else "SKIPPED", scheduled, done, n)
      }.reduce(_ union _)
        .union(tasks.map(t => Metrics.taskHistoryRow(
          spark, t, "SCHEDULED", next, null, 0L)).reduce(_ union _))
      BatchSink.writeBatch(th.repartition(1), paths.taskHistory, batchId)
    } finally batch.unpersist()
  }

  /** Start the pipe: continuous file ingest from the stage. */
  def start(trigger: Trigger = Trigger.ProcessingTime(s"$taskIntervalSec seconds")): StreamingQuery = {
    val files = spark.readStream.text(paths.stage)
      .select(col("value").as("v"), col("_metadata.file_path").as("_src_file"))
    BatchSink.stream(files, paths.checkpoint)(applyBatch)
      .queryName("trips_pipe")
      .trigger(trigger)
      .start()
  }

  /** Drain everything currently in the stage, then stop — the test-mode
    * trigger (SURVEY §2.10 T3).
    */
  def runAvailableNow(): Unit = {
    val q = start(Trigger.AvailableNow())
    q.awaitTermination()
  }

  // ---- operational surface -------------------------------------------

  /** The reference's copy_history look-back (dp_setup.sql:111,
    * `dateadd(hour, -10, current_timestamp())`): purge and pipe-status
    * scan only the most recent window of load metadata, so the metadata
    * join stays bounded as the pipeline ages instead of growing with
    * total-files-ever-loaded.
    */
  val purgeLookbackHours: Int = 10

  private def copyHistoryInWindow(): DataFrame =
    copyHistoryWithBatch().filter(col("last_load_time") >
      lit(new java.sql.Timestamp(
        clock.now().getTime - purgeLookbackHours * 3600 * 1000L)))

  /** copy_history including the physical `_batch_id` partition column
    * (which batch recorded each load) — purge needs it to exclude the
    * in-flight batch.
    */
  private def copyHistoryWithBatch(): DataFrame =
    readOrEmpty(spark, paths.copyHistory,
      org.apache.spark.sql.types.StructType(Metrics.copyHistorySchema.fields :+
        org.apache.spark.sql.types.StructField("_batch_id",
          org.apache.spark.sql.types.LongType)))

  /** `system$pipe_status('trips_pipe')` (dp_demo.sql:52,132): JSON with
    * pendingFileCount = stage files not yet in copy_history (within the
    * 10-hour metadata window — any loaded-ok file is purged long before
    * the window closes, so a stage file with no in-window history row is
    * genuinely pending or failed).
    */
  def pipeStatus(): String = {
    val staged = Stage.list(spark, paths.stage)
      .filter(col("name").endsWith(".json"))
      .select(col("name"))
    val loaded = copyHistoryInWindow().select(col("file_name").as("name")).distinct()
    val pending = staged.join(loaded, Seq("name"), "left_anti").count()
    s"""{"executionState":"RUNNING","pendingFileCount":$pending}"""
  }

  /** purge_files (dp_setup.sql:101-130): delete stage files recorded as
    * fully loaded (`error_count = 0`) in the last 10 hours of
    * copy_history. The J3 expr-key join — history's stage_location ||
    * file_name against the stage listing — then a driver loop issuing one
    * delete per file, exactly the proc's cursor shape (bounded per batch:
    * only files still in the stage).
    *
    * `beforeBatchId` restricts deletion to files whose load was recorded
    * by an earlier (hence checkpoint-committed) batch; the default purges
    * everything loaded-ok, for direct operational use outside a running
    * stream.
    *
    * The look-back window applies only to the IN-STREAM call (it runs
    * every pulse, so bounding its metadata join is what keeps steady-
    * state purge O(window), and a batch's files are always purged on the
    * next pulse — far inside the window). The operational default scans
    * the FULL history: in-stream purge is deferred one pulse, so the
    * last committed batch's files survive a stop, and if the stream
    * stays down past the look-back their history rows age out of the
    * window — a windowed operational purge could then never delete them
    * (permanent staged-file leak, flagged in round-3 advice).
    */
  def purge(beforeBatchId: Long = Long.MaxValue): Int = {
    val staged = Stage.list(spark, paths.stage)
      .select(concat(lit(s"${paths.stage}/"), col("name")).as("staged_path"))
    val history =
      if (beforeBatchId == Long.MaxValue) copyHistoryWithBatch()
      else copyHistoryInWindow()
    val loadedOk = history
      .filter(col("error_count") === 0)
      .filter(col("_batch_id") < beforeBatchId)
      .select(concat(col("stage_location"), col("file_name")).as("loaded_path"))
      .distinct()
    val toDelete = staged
      .join(loadedOk, col("staged_path") === col("loaded_path"))
      .select("staged_path").collect().map(_.getString(0))
    val fs = FileSystem.get(new Path(paths.stage).toUri,
      spark.sparkContext.hadoopConfiguration)
    var n = 0
    toDelete.foreach { p => if (fs.delete(new Path(p), false)) n += 1 }
    n
  }

  /** The 10-scalar-subquery pipeline dashboard (dp_demo.sql:127-142) over
    * the live pipeline state.
    */
  def dashboard(): DataFrame = {
    val now = clock.now()
    val nowLit = lit(now)
    taskHistory().createOrReplaceTempView("graft_th")
    copyHistory().createOrReplaceTempView("graft_ch")
    rawTrips().createOrReplaceTempView("graft_raw")
    trips().createOrReplaceTempView("graft_trips")
    programs().createOrReplaceTempView("graft_programs")
    stations().createOrReplaceTempView("graft_stations")
    Stage.list(spark, paths.stage).createOrReplaceTempView("graft_stage")
    val status = pipeStatus().replace("'", "''")
    spark.sql(s"""
      SELECT
        (SELECT min(timestampdiff(SECOND, timestamp'$now', scheduled_time))
           FROM graft_th WHERE state = 'SCHEDULED'
           AND scheduled_time > timestamp'$now') AS time_to_next_pulse,
        (SELECT count(DISTINCT name) FROM graft_stage) AS files_in_bucket,
        (SELECT try_variant_get(try_parse_json('$status'), '$$.pendingFileCount', 'bigint')) AS pending_file_count,
        (SELECT count(*) FROM graft_ch
           WHERE last_load_time > timestampadd(MINUTE, -15, timestamp'$now')) AS files_processed,
        (SELECT count(*) FROM graft_raw) AS trips_raw,
        (SELECT count(*) FROM graft_raw) - (SELECT count(*) FROM graft_trips) AS recs_in_stream,
        (SELECT count(*) FROM graft_trips) AS trips_modelled,
        (SELECT count(*) FROM graft_programs) AS num_programs,
        (SELECT count(*) FROM graft_stations) AS num_stations,
        (SELECT max(starttime) FROM graft_trips) AS max_date
    """)
  }

  /** task_history, last 15 minutes, terminal states only
    * (dp_demo.sql:165-169).
    */
  def taskHistoryRecent(): DataFrame =
    taskHistory()
      .filter(col("scheduled_time") >
        lit(new java.sql.Timestamp(clock.now().getTime - 15 * 60 * 1000L)))
      .filter(col("state") =!= "SCHEDULED")
      .orderBy(col("completed_time").desc, col("name"))

  /** Last-16 loaded files (dp_demo.sql:184-188): top-k over copy_history —
    * plans as TakeOrderedAndProject, no full sort.
    */
  def copyHistoryTop16(): DataFrame =
    copyHistory()
      .orderBy(col("last_load_time").desc, col("file_name"))
      .limit(16)
}
