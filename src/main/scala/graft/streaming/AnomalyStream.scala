package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BatchSink

/** STREAMING volume-anomaly detection — the in-flight twin of the e11
  * batch entry, built on the SAME partial-partition machine as the
  * count-min / histogram streams (SketchStream): daily event counts
  * are SUMS, so each micro-batch lands its per-(event_type, day)
  * counts as a `_batch_id` partial in the generic (g, r, idx, c) cell
  * shape (g = event_type subtree, idx = epoch day, r = 0) — a
  * replayed batch overwrites its own partial, `mergedCounters`'
  * marker/crash-window semantics and `Compaction.compactSketch` apply
  * per group verbatim, zero new cell logic.
  *
  * The DETECTOR runs at read time over the folded daily counts: e11's
  * integer 3-sigma rule ((n·c − S)² > 9·(n·SS − S²), no sqrt), so the
  * stream's flags are bit-identical to the batch entry over the same
  * delivered events regardless of micro-batch chopping
  * (SketchStreamSpec pins it). State per group is one cell per active
  * day — days × types, not events.
  */
object AnomalyStream {

  /** Per-batch daily-count partials: g=<event_type>/_batch_id=<id>
    * subtrees of (r, idx, c) cells.
    */
  def dailyCountStream(events: DataFrame, outDir: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    BatchSink.stream(events, checkpointDir) { (batch, batchId) =>
      val daily = batch.groupBy(col("event_type").as("g"),
          expr("CAST(datediff(date_trunc('day', ts), DATE '1970-01-01') AS BIGINT)")
            .as("idx"))
        .agg(count(lit(1)).as("c"))
        .select(col("g"), lit(0).as("r"), col("idx"), col("c"))
      BatchSink.writeBatch(daily, outDir, batchId, "g")
    }

  /** Current folded daily counts: (event_type, idx, c). One
    * partitioned read of the whole grouped store
    * (`SketchStream.mergedCountersBy`) — the plan no longer grows with
    * the number of event-type subtrees.
    */
  def mergedDailyCounts(spark: SparkSession, dir: String): DataFrame =
    SketchStream.mergedCountersBy(spark, dir)
      .select(col("g").as("event_type"), col("idx"), col("c"))

  /** The e11 detector over the stream's current state — the identical
    * integer arithmetic and output shape as the batch entry.
    */
  def flags(spark: SparkSession, dir: String): DataFrame = {
    val daily = mergedDailyCounts(spark, dir)
    val mom = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("sv"),
        sum(col("c") * col("c")).as("ss"))
    daily.join(broadcast(mom), Seq("event_type"))
      .select(col("event_type"),
        // day rebuilt WITHOUT a timezone round-trip: timestamp_seconds
        // passes through the session timezone, so stream/batch parity
        // with e11's TIMESTAMP_NTZ date_trunc would only hold under
        // spark.sql.session.timeZone=UTC; date_add over the epoch DATE
        // is calendar arithmetic, timezone-free (ADVICE r12)
        expr("CAST(date_add(DATE '1970-01-01', CAST(idx AS INT)) AS TIMESTAMP_NTZ)")
          .as("day"),
        col("c"),
        expr("(n * c - sv) * (n * c - sv)").as("dev2"),
        expr("9 * (n * ss - sv * sv)").as("thr"),
        when(expr("(n * c - sv) * (n * c - sv) > 9 * (n * ss - sv * sv)"),
          1).otherwise(0).as("is_anomaly"))
      .orderBy("event_type", "day")
  }
}
