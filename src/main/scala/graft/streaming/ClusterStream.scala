package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.KMeans

/** STREAMING cluster assignment over a frozen k-means fit — the online
  * half of `KMeans` (the AnnStream contract at the clustering family):
  * centroids are learned offline (`KMeans.fit` — k·dims longs), the
  * stream routes each arriving vector to its region. This is the shape
  * of an ingest-time corpus router: new documents' embeddings land
  * already stamped with the content region the curation pipeline
  * clusters by (n15's coreset, region quotas, per-region gates).
  *
  * Per micro-batch the work is EXACTLY the batch operator — the same
  * map-side integer argmin against the same inlined centroid literal —
  * so stream/batch parity is bit-level, not approximate: chopping the
  * input into any number of batches changes nothing because assignment
  * is per-row pure. The centroids are frozen at stream definition
  * (retrain → restart, the AnnStream single-writer contract).
  *
  * Crash replay is idempotent: `BatchSink.writeBatch` — a replayed
  * batch overwrites its own `_batch_id` partition. Duplicate vec_ids
  * within a batch collapse to one row (at-least-once source contract;
  * assignment is deterministic so the duplicates would have carried
  * identical values anyway).
  */
object ClusterStream {

  /** Latest drift record of a monitored route: `seq` is the micro-batch
    * id, `meanDist2` the batch's mean assigned integer distance,
    * `ratio` that mean over the fit corpus's baseline mean. `flagged`
    * means: refit (`rebaseline`) and restart the stream — routing keeps
    * working meanwhile, the regions just fit the shifted slice worse.
    */
  final case class RouteDrift(seq: Long, n: Long, meanDist2: Double,
      ratio: Double, flagged: Boolean)

  /** Write the fit corpus's mean assigned dist2 as the drift
    * denominator (one parquet row — the IvfIndex drift-baseline shape,
    * at the integer-kmeans tier).
    */
  def writeBaseline(emb: DataFrame, cents: Seq[Array[Long]],
      monitorDir: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val r = KMeans.assign(KMeans.quantized(emb), cents)
      .agg(count(lit(1)).as("n"), avg(col("dist2")).as("m")).collect()(0)
    Seq((r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
      .toDF("n", "mean_dist2").coalesce(1)
      .write.mode("overwrite").parquet(s"$monitorDir/baseline")
  }

  /** `vecs`: streaming DataFrame of (vec_id, embedding). With
    * `monitorDir` set (a `writeBaseline` target), every micro-batch
    * also appends one drift-log row — its mean assigned distance vs
    * the fit baseline, flagged past `IvfIndex.DriftRetrainRatio` (one
    * threshold across both ANN tiers): the staleness signal a frozen
    * quantizer otherwise lacks. The monitor pass reads the batch's
    * already-checkpointed assignment (batch-sized), so the route write
    * is not re-computed.
    */
  def route(vecs: DataFrame, cents: Seq[Array[Long]], outDir: String,
      checkpointDir: String,
      monitorDir: Option[String] = None): DataStreamWriter[Row] =
    BatchSink.stream(vecs, checkpointDir) { (batch, batchId) =>
      // persist (not localCheckpoint): the assignment is reused by
      // the route write and the monitor aggregate WITHIN this batch
      // only, so a cache the finally-block releases is the right
      // lifetime — a long-running monitored stream must not
      // accumulate per-batch blocks in executor storage.
      val asg = KMeans
        .assign(KMeans.quantized(batch.dropDuplicates("vec_id")), cents)
        .persist()
      try {
        BatchSink.writeBatch(asg, outDir, batchId)
        monitorDir.foreach { m =>
          val spark = batch.sparkSession
          import spark.implicits._
          val base = spark.read.parquet(s"$m/baseline").collect()(0)
          val baseMean = base.getDouble(1)
          val r = asg.agg(count(lit(1)).as("n"), avg(col("dist2")).as("d"))
            .collect()(0)
          val n = r.getLong(0)
          val d = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
          val ratio = if (baseMean > 0.0) d / baseMean else 0.0
          // A degenerate baseline (mean_dist2 = 0: tiny or
          // perfectly-fit corpus) must not mask drift forever — any
          // batch with positive mean distance against a zero
          // denominator IS drift, so it flags directly (ratio stays
          // 0.0 as the "denominator was degenerate" marker; the flag
          // carries the signal, matching the spirit of IvfIndex's
          // baseDist > 0 guard without dropping the row).
          val flagged =
            if (baseMean > 0.0)
              ratio > graft.operators.IvfIndex.DriftRetrainRatio
            else d > 0.0
          // replay-idempotent like the route write itself: the log is
          // keyed by seq = batchId, so a crash-replayed batch replaces
          // its own row instead of appending a duplicate
          val record = Seq((batchId, n, d, ratio, flagged))
            .toDF("seq", "n", "mean_dist2", "ratio", "flagged")
            .withColumn("_seq", col("seq"))
          BatchSink.overwritePartitions(record, s"$m/drift_log", "_seq")
        }
      } finally asg.unpersist()
    }

  /** Latest drift record, `None` until the first monitored batch. */
  def driftStatus(spark: org.apache.spark.sql.SparkSession,
      monitorDir: String): Option[RouteDrift] = {
    val p = new org.apache.hadoop.fs.Path(s"$monitorDir/drift_log")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else spark.read.parquet(s"$monitorDir/drift_log")
      .orderBy(col("seq").desc).limit(1).collect().headOption
      .map(r => RouteDrift(r.getAs[Long]("seq"), r.getAs[Long]("n"),
        r.getAs[Double]("mean_dist2"), r.getAs[Double]("ratio"),
        r.getAs[Boolean]("flagged")))
  }

  /** The ACTION face (the IvfIndex.retrain pattern at this tier): refit
    * the quantizer on a current corpus slice, reset the baseline to the
    * new fit, and clear the drift log (its ratios were measured against
    * the retired baseline). Returns the new centroids — the stream is
    * frozen-centroid by contract, so the caller restarts `route` with
    * them (single-writer: stop the stream first).
    */
  def rebaseline(emb: DataFrame, k: Int, iters: Int, monitorDir: String,
      dims: Int = 64): Seq[Array[Long]] = {
    val spark = emb.sparkSession
    val cents = KMeans.fit(emb, k, iters, dims)
    writeBaseline(emb, cents, monitorDir)
    val logPath = new org.apache.hadoop.fs.Path(s"$monitorDir/drift_log")
    val fs = logPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(logPath)) { fs.delete(logPath, true); () }
    cents
  }
}
