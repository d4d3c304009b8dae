package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.DedupOps

/** STREAMING decontamination — `DedupOps.crossSplitOverlap` for the
  * production shape: eval/test sets are STATIC and small, training data
  * arrives continuously, and every incoming document must be checked
  * for benchmark leakage before it lands. The test side is indexed ONCE
  * (`buildGramIndex`: distinct word-n-grams, hash-bucketed into
  * partition directories); each micro-batch then reads ONLY the buckets
  * its own grams name — the `DocStream` pruned-index pattern — joins,
  * and writes (doc_id, clean, n_hits) decisions into replay-idempotent
  * `_batch_id` partitions.
  *
  * Per-batch cost: batch-sized shingling + a join bounded by the
  * touched buckets' index entries; the corpus is never rescanned and
  * the index never rewritten. Decisions are batching-invariant by
  * construction — each doc's verdict depends only on the static index —
  * so single-batch and chopped streams agree exactly with the batch
  * twin (DecontStreamSpec).
  */
object DecontStream {

  private val NBuckets = 64

  private def grams(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    DedupOps.shingles(docs, idCol, textCol, n)
      .withColumn("_bucket", pmod(hash(col("shingle")), lit(NBuckets)))

  /** Persist the test set's distinct n-grams, bucket-partitioned so a
    * batch's lookup prunes at file-listing time. Small by construction
    * (a test set is a few thousand documents) — but the layout would
    * hold for a large one too.
    */
  def buildGramIndex(testDocs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 8): Unit =
    grams(testDocs, idCol, textCol, n)
      .select("shingle", "_bucket").distinct()
      .write.mode("overwrite").partitionBy("_bucket").parquet(indexDir)

  /** The batch twin: per-doc leak verdicts against a gram index. */
  def decontaminateBatch(docs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val g = grams(docs, idCol, textCol, n)
    val hits = g.join(spark.read.parquet(indexDir), Seq("_bucket", "shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("clean", col("n_hits") === 0L)
  }

  /** The streaming filter: decisions land in `_batch_id` partitions
    * through `BatchSink.writeBatch` (crash replay overwrites, never
    * duplicates).
    */
  def decontaminateFilter(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8): DataStreamWriter[Row] =
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val g = grams(batch, idCol, textCol, n).localCheckpoint()
      // the batch's gram buckets bound the index read: ≤ batch-gram
      // count of the 64 bucket directories are listed at all
      val touched = g.select("_bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      val hits =
        if (touched.isEmpty) g.select(col("doc_id"), lit(0L).as("n_hits")).limit(0)
        else spark.read.parquet(indexDir)
          .filter(col("_bucket").isin(touched: _*))
          .join(g, Seq("_bucket", "shingle"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      val decisions = batch.select(col(idCol).cast("long").as("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("clean", col("n_hits") === 0L)
      BatchSink.writeBatch(decisions, outDir, batchId)
    }
}
