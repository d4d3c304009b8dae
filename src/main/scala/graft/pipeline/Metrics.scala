package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Operational-metadata tables standing in for Snowflake's
  * `information_schema.copy_history` / `task_history` table functions
  * (dp_setup.sql:111, dp_demo.sql:129-188) and `system$pipe_status`
  * (dp_demo.sql:52,132).
  *
  * Maintained by the pipeline's foreachBatch: each micro-batch writes its
  * own `_batch_id=` partition through `BatchSink.writeBatch`, so a
  * replayed batch overwrites its own metrics instead of duplicating them.
  * Row volume is O(files + tasks) per batch — negligible at any scale.
  */
object Metrics {

  val copyHistorySchema: StructType = StructType(Seq(
    StructField("table_name", StringType),
    StructField("stage_location", StringType),
    StructField("file_name", StringType),
    StructField("row_count", LongType),
    StructField("error_count", LongType),
    StructField("status", StringType),
    StructField("last_load_time", TimestampType)))

  val taskHistorySchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("state", StringType), // SUCCEEDED | SKIPPED | SCHEDULED
    StructField("scheduled_time", TimestampType),
    StructField("completed_time", TimestampType),
    StructField("rows_affected", LongType)))

  /** copy_history rows for one micro-batch: one row per ingested file
    * (batch grouped by source file), error_count = 0 — the file source
    * either delivers a file's lines or fails the batch, so a recorded
    * file is a fully-loaded file (Snowpipe's LOADED status).
    */
  def copyHistoryRows(batch: DataFrame, stageDir: String, clock: Clock): DataFrame =
    batch.groupBy(col("_src_file")).agg(count(lit(1)).as("row_count"))
      .select(
        lit("trips_raw").as("table_name"),
        lit(s"$stageDir/").as("stage_location"),
        element_at(split(col("_src_file"), "/"), -1).as("file_name"),
        col("row_count"),
        lit(0L).as("error_count"),
        lit("LOADED").as("status"),
        lit(clock.now()).as("last_load_time"))

  def taskHistoryRow(
      spark: SparkSession,
      name: String,
      state: String,
      scheduled: Timestamp,
      completed: Timestamp,
      rows: Long): DataFrame = {
    import spark.implicits._
    Seq((name, state, scheduled, completed, rows))
      .toDF("name", "state", "scheduled_time", "completed_time", "rows_affected")
  }
}
