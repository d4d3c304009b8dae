package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.QualityModel

/** The STREAMING face of `CorpusPipeline`: continuous corpus ingestion
  * with the same quality gate → exact dedup → split chain, where dedup
  * is CROSS-BATCH — a doc whose content already streamed in (any
  * earlier micro-batch, or an earlier row of this one) is dropped, so
  * the cleaned output stays exactly-deduplicated over the whole stream
  * without ever rescanning it.
  *
  * Index: `indexDir/entries/sigbucket=<pmod(hash(md5(text)), nBuckets)>/`
  * holding (sig, doc_id) — ~50 B/doc, append-only — plus
  * `indexDir/_meta` persisting n_buckets (a layout property: entries
  * are findable only under the modulus they were written with, so the
  * persisted value wins over the parameter on every batch after the
  * first). A batch reads ONLY the buckets its own signatures hash to
  * (the DocStream partition-pruned lookup), so per-batch index IO is
  * bounded by batch size, not stream history.
  *
  * Batch-twin parity (CorpusStreamSpec): within a batch the keeper per
  * signature is the MIN doc_id (the `CorpusPipeline.clean` rule);
  * across batches it is first-arrival. Under id-ordered delivery the
  * two coincide, and chopping is invisible. Out-of-order delivery keeps
  * the earliest-ARRIVED copy instead of the smallest id — the
  * unavoidable streaming semantics, documented rather than hidden.
  *
  * Crash replay: the output lands in `_batch_id` partitions through
  * `BatchSink.writeBatch` (idempotent);
  * the index lookup EXCLUDES same-id entries, so a replayed batch's own
  * previous partial append cannot flip its docs to dropped, and the
  * re-append leaves byte-identical duplicate rows — harmless to lookups
  * (min over equal values) and healed by
  * `Compaction.compact(dropExactDuplicates = true)` (the DocStream
  * contract, same trade: same-id cross-batch REDELIVERY is
  * indistinguishable from replay and yields a second kept decision).
  */
object CorpusStream {

  /** The index's bucket count is a LAYOUT property: entries are
    * findable only under the modulus they were written with, so it is
    * persisted in `indexDir/_meta` on first write and every later batch
    * (or a restarted stream configured differently) uses the PERSISTED
    * value — a silent mismatch would skip stored duplicates (review
    * r12; the Bm25 stats/n_buckets precedent).
    */
  private[streaming] def persistedBuckets(spark: SparkSession,
      indexDir: String, nBuckets: Int): Int = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexDir/_meta")
    val mfs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (mfs.exists(metaPath))
      spark.read.parquet(s"$indexDir/_meta")
        .select("n_buckets").head().getInt(0)
    else {
      import spark.implicits._
      Seq(nBuckets).toDF("n_buckets")
        .write.mode("overwrite").parquet(s"$indexDir/_meta")
      nBuckets
    }
  }

  def cleanStream(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, dims: Int = 1024, threshold: Long = 0L,
      nBuckets: Int = 64): DataStreamWriter[Row] =
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val nB = persistedBuckets(spark, indexDir, nBuckets)
      // set semantics per doc_id (at-least-once sources)
      val b0 = batch.dropDuplicates("doc_id")
      // 1. quality gate — BEFORE dedup, the CorpusPipeline order: a
      // gated-out twin must not evict its surviving copy, and gating
      // first shrinks every later join
      val gated = b0.select("doc_id", "source", "text")
        .join(QualityModel.scoreDerived(b0, "doc_id", "text", dims)
          .filter(col("logit") >= threshold), Seq("doc_id"))
      // 2. within-batch exact collapse: min doc_id per signature
      val sigged = gated.withColumn("sig", md5(col("text")))
        .withColumn("sigbucket", pmod(hash(col("sig")), lit(nB)))
      val reps = sigged.groupBy("sig").agg(min("doc_id").as("doc_id"))
      val repRows = sigged.join(reps, Seq("sig", "doc_id")).localCheckpoint()
      // 3. cross-batch: pruned index lookup, self-id excluded.
      // localCheckpoint pins `kept` — it feeds TWO writes below, and
      // without it the pruned read + join + groupBy would execute
      // twice per batch (review r12; repRows' own precedent).
      val touched = repRows.select("sigbucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      val entriesDir = s"$indexDir/entries"
      val entriesPath = new org.apache.hadoop.fs.Path(entriesDir)
      val fs = entriesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val kept = (
        if (fs.exists(entriesPath) && touched.nonEmpty) {
          val idx = spark.read.parquet(entriesDir)
            .filter(col("sigbucket").isin(touched: _*))
            .select(col("sig"), col("doc_id").as("_old_id"))
          repRows.join(idx, Seq("sig"), "left")
            .groupBy(repRows.columns.map(col): _*)
            .agg(min(when(col("_old_id") =!= col("doc_id"), col("_old_id")))
              .as("_matched"))
            .filter(col("_matched").isNull)
            .drop("_matched")
        } else repRows
      ).localCheckpoint()
      // 4. split assign + cleaned output, idempotent per batch
      val cleaned = kept
        .withColumn("n_tokens",
          size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
        .withColumn("bucket", graft.operators.SplitAssign.bucket(col("doc_id")))
        .withColumn("split", graft.operators.SplitAssign.split(col("bucket")))
        .select(col("doc_id"), col("source"), col("text"), col("logit"),
          col("n_tokens"), col("split"))
      BatchSink.writeBatch(cleaned, outDir, batchId)
      // 5. grow the index with this batch's kept signatures
      kept.select("sig", "doc_id", "sigbucket")
        .repartition(col("sigbucket"))
        .write.mode("append").partitionBy("sigbucket").parquet(entriesDir)
    }
}
