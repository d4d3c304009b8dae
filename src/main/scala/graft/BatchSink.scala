package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** The one replay-idempotent sink of every `foreachBatch` here (the
  * exactly-once half that Snowpipe's load metadata gives the reference,
  * dp_demo.sql:45,57-59): a micro-batch's output lands in its own
  * `_batch_id` partition through dynamic partition overwrite, so a
  * crash-replayed batch replaces what its first run wrote instead of
  * duplicating it. The streaming source's checkpoint supplies the other
  * half — a batch is replayed with the same id and the same input.
  */
object BatchSink {

  /** Replace exactly the partitions of `dir` (under `cols`) that `df`
    * holds rows for; every other partition is left as it is. An empty
    * `df` deletes nothing, so a caller that empties a partition must
    * delete its directory itself.
    */
  def overwritePartitions(df: DataFrame, dir: String, cols: String*): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(dir)

  /** Land `df` as batch `batchId`'s output: partitions
    * `groupCols…/_batch_id=<batchId>`, each replaced on replay.
    */
  def writeBatch(df: DataFrame, dir: String, batchId: Long, groupCols: String*): Unit =
    overwritePartitions(df.withColumn("_batch_id", lit(batchId)), dir,
      groupCols :+ "_batch_id": _*)

  /** The append-mode `foreachBatch` writer over `in`, checkpointed at
    * `checkpointDir`; start it with `.trigger(...).start()`.
    */
  def stream(in: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .foreachBatch(body)
}
