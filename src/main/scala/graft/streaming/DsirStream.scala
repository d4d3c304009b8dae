package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.{Artifacts, BatchSink}
import graft.operators.{Dsir, QualityModel}

/** STREAMING DSIR importance gating — the in-flight face of the x7
  * batch entry (`Dsir.importanceScores`): score every arriving raw
  * document against a PRE-FIT target-vs-raw weight table and keep only
  * docs whose fixed-point importance clears the threshold (the
  * CorpusStream quality-gate contract, with DSIR importance as the
  * gate).
  *
  * Why this streams trivially where dedup needed an index: the weight
  * table is FIXED-SIZE (≤ dims rows, fitted once from a batch slice and
  * persisted), so scoring is per-document — token→bucket map, one
  * broadcast join, one doc-keyed partial aggregation INSIDE the
  * micro-batch. No cross-batch state at all: chopping is invisible by
  * construction, and batch/stream parity is exact integer equality
  * (DsirStreamSpec pins it).
  *
  * Crash replay: decisions land in `_batch_id` partitions through
  * `BatchSink.writeBatch` — a replayed batch overwrites its own
  * partial, so the kept set is exactly-once per delivered doc.
  *
  * Refit: DSIR weights drift as the raw distribution does; refitting is
  * a batch `fitWeights` over a fresh slice, atomically replacing
  * `weightsDir` — every batch after the swap scores under the new
  * table (the IvfIndex retrain contract).
  */
object DsirStream {

  /** Fit the x7 weight table over a static corpus slice and persist it
    * (≤ dims rows — governance-table sized). `targetSources` names the
    * trusted slice of `sourceCol`; everything else is the raw sample.
    */
  def fitWeights(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, targetSources: Seq[String], weightsDir: String,
      dims: Int = 1024): Unit = {
    val toks = docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .select(col("source"), QualityModel.tokenBucket(col("token"), dims).as("b"))
    // stage-then-swap, so a concurrent `scoreBatch` never reads a
    // missing or half-written table (`Artifacts.publish`)
    Artifacts.publish(docs.sparkSession, weightsDir) { staging =>
      Dsir.weights(toks, col("source").isin(targetSources: _*), dims)
        .coalesce(1)
        .write.mode("overwrite").parquet(staging)
    }
  }

  /** Score a doc batch (streaming micro-batch or static frame) against
    * the persisted weights: (doc_id, source, score_e6, n_toks) — the
    * x7 scoring arithmetic verbatim, so stream and batch can never
    * drift. Tokenless docs score nothing and are dropped (no tokens to
    * weigh — the x7 "≥ 1 token" contract). One departure the batch
    * entry cannot hit: a stream doc may carry a token whose bucket
    * never occurred in the fit sample; it contributes weight 0 (left
    * join + coalesce) but still counts in n_toks — dropping the token
    * would silently shorten the doc.
    */
  def scoreBatch(docs: DataFrame, weightsDir: String,
      dims: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    Artifacts.recoverRetired(spark, weightsDir)
    val w = spark.read.parquet(weightsDir)
    docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"), col("source"),
        QualityModel.tokenBucket(col("token"), dims).as("b"))
      .join(broadcast(w), Seq("b"), "left")
      .groupBy("doc_id", "source")
      .agg(sum(coalesce(col("w_e6"), lit(0L))).as("score_e6"),
        count(lit(1)).cast("int").as("n_toks"))
  }

  /** The streaming gate: per micro-batch, score against the persisted
    * weight table and land docs with score_e6 ≥ `minScoreE6` in
    * `_batch_id` partitions (replay overwrites itself). The weight
    * read is per-batch — ≤ dims rows, and it is exactly what lets a
    * refit swap take effect mid-stream.
    */
  def importanceGate(docs: DataFrame, weightsDir: String, outDir: String,
      checkpointDir: String, minScoreE6: Long, dims: Int = 1024)
      : DataStreamWriter[Row] =
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      val passed = scoreBatch(batch.dropDuplicates("doc_id"), weightsDir, dims)
        .filter(col("score_e6") >= minScoreE6)
      BatchSink.writeBatch(passed, outDir, batchId)
    }

  /** The stream's current kept set. */
  def kept(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select("doc_id", "source", "score_e6", "n_toks")
}
