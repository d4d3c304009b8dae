package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
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
    // Stage-then-swap: `overwrite` straight onto weightsDir is
    // delete-then-write, leaving a window the LENGTH OF THE FIT JOB in
    // which a concurrent micro-batch's per-batch read (`scoreBatch`)
    // sees a missing or partially-written table. The full job runs
    // against a staging path; the visible dir is then replaced by two
    // filesystem renames (metadata ops). RESIDUAL window: two renames
    // are not one atomic swap — between retiring live and publishing
    // staging, live briefly does not exist, and a crash in that gap
    // leaves the old table stranded at `.retired`. Both are covered by
    // `recoverRetired` (called by every `scoreBatch`): a read that
    // finds live missing but `.retired` present renames the old table
    // back, so the in-flight-swap race degrades to a retry-able read
    // of the OLD table and a crash between the renames self-heals on
    // the next scoring call.
    val staging = weightsDir + ".staging"
    Dsir.weights(toks, col("source").isin(targetSources: _*), dims)
      .coalesce(1)
      .write.mode("overwrite").parquet(staging)
    val hconf = docs.sparkSession.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(weightsDir)
    val fs = live.getFileSystem(hconf)
    val retired = new org.apache.hadoop.fs.Path(weightsDir + ".retired")
    if (fs.exists(retired)) fs.delete(retired, true)
    if (fs.exists(live))
      require(fs.rename(live, retired), s"could not retire $weightsDir")
    // Publish, tolerating one concurrent `recoverRetired` resurrection:
    // a scoreBatch running inside the swap window can rename
    // .retired → live back (it legitimately reads the OLD table), which
    // makes this rename fail with the destination present. That live is
    // the table we just retired, not a competing writer — retire it
    // again and retry the publish once. A second failure is a real
    // filesystem problem and throws with the staging path intact.
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    if (!fs.rename(stagingPath, live)) {
      if (fs.exists(live)) {
        if (fs.exists(retired)) fs.delete(retired, true)
        require(fs.rename(live, retired),
          s"could not re-retire resurrected $weightsDir")
      }
      require(fs.rename(stagingPath, live),
        s"could not publish $staging to $weightsDir")
    }
    fs.delete(retired, true)
    ()
  }

  /** Crash recovery for the two-rename swap: if a `fitWeights` died
    * between retiring the live table and publishing staging, the data
    * is stranded at `.retired` and live is missing — rename it back so
    * scoring keeps working under the old table until the next
    * successful refit. No-op (one existence check) on a healthy store.
    */
  private[streaming] def recoverRetired(spark: SparkSession,
      weightsDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(weightsDir)
    val fs = live.getFileSystem(hconf)
    val retired = new org.apache.hadoop.fs.Path(weightsDir + ".retired")
    if (!fs.exists(live) && fs.exists(retired)) {
      // Two concurrent scoreBatch calls can both pass the checks above;
      // the loser's rename fails because the winner already restored
      // live (or a racing fitWeights just published the NEW table).
      // Either way the store is healthy — only throw if live is STILL
      // missing after the failed rename.
      if (!fs.rename(retired, live))
        require(fs.exists(live),
          s"could not restore $retired to $weightsDir")
      ()
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
    recoverRetired(spark, weightsDir)
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
