package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BatchSink

/** STREAMING daily spend leaderboard — e13's in-flight twin on the
  * shared partial-partition machine: per-(day, user) cent totals and
  * event counts are SUMS, so each micro-batch lands additive partials
  * in the generic (g, r, idx, c) cell shape — g = day subtree,
  * idx = user, r selects the measure (0 = cents, 1 = events) — and a
  * replayed batch overwrites its own partial. `mergedCounters`'
  * marker/crash-window semantics and `Compaction.compactSketch` apply
  * per day verbatim. The LEADERBOARD runs at read time over the
  * folded cells: exact integer cents → rank window per day → top k;
  * sum_value = cents/100.0 reproduces the batch entry's
  * DECIMAL(18,2)-sum-cast-double bit-for-bit (both are one rounding
  * of the same exact decimal).
  */
object LeaderboardStream {

  /** Per-batch (day, user) partials: g=<day>/_batch_id=<id> subtrees
    * of (r, idx, c) cells with r 0 = cents, 1 = n_events.
    */
  def spendStream(events: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    BatchSink.stream(events, checkpointDir) { (batch, batchId) =>
      val agg = batch.groupBy(
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("g"),
          col("user_id").as("idx"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
          count(lit(1)).as("n"))
      val cells = agg.select(col("g"), lit(0).as("r"), col("idx"), col("cents").as("c"))
        .unionByName(agg.select(col("g"), lit(1).as("r"), col("idx"),
          col("n").as("c")))
      BatchSink.writeBatch(cells, outDir, batchId, "g")
    }

  /** The leaderboard over the stream's current state: top `k` users
    * per day by exact cents, the e13 output shape.
    */
  def topSpenders(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // one partitioned read of the whole grouped store — the read plan
    // stays a single scan as the day dimension grows without bound
    // over the stream's life (a 3-year stream is ~1,100 day subtrees;
    // the per-group unionByName this replaces built one subplan each)
    val cells = SketchStream.mergedCountersBy(spark, dir)
      .select(col("g").as("day"), col("r"), col("idx").as("user_id"),
        col("c"))
    val wide = cells.groupBy("day", "user_id")
      .agg(sum(when(col("r") === 0, col("c")).otherwise(0L)).as("cents"),
        sum(when(col("r") === 1, col("c")).otherwise(0L)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy(col("cents").desc, col("user_id"))
    wide.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("day"), col("rnk"), col("user_id"),
        (col("cents").cast("double") / lit(100.0)).as("sum_value"),
        col("n_events"))
      .orderBy("day", "rnk")
  }
}
