package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.PqIndex

/** STREAMING PQ encoding over frozen codebooks — the online half of
  * `PqIndex` (the ClusterStream contract at the compression family):
  * codebooks are learned offline (`PqIndex.fit` — dims·k longs), the
  * stream replaces each arriving vector with its m codes + exact
  * reconstruction error. This is the shape of an ingest-time embedding
  * compactor: new vectors land already in the codes-only storage tier
  * that ADC search (n17/n18) prices without ever touching floats, so
  * the served index grows by appending code rows — no refit, no
  * re-encode of history.
  *
  * Per micro-batch the work is EXACTLY the batch operator — the same
  * single map-side projection of m inlined-literal argmins — so
  * stream/batch parity is bit-level: encoding is per-row pure and
  * chopping changes nothing. Codebooks are frozen at stream definition
  * (drift past tolerance → retrain → restart, the AnnStream
  * single-writer contract; x11's drift report is the monitor).
  *
  * Crash replay is idempotent via `BatchSink.writeBatch`; duplicate
  * vec_ids within a batch collapse to one row (at-least-once source;
  * encoding is deterministic).
  */
object PqStream {

  /** `vecs`: streaming DataFrame of (vec_id, embedding). */
  def encode(vecs: DataFrame, books: Seq[Seq[Array[Long]]], outDir: String,
      checkpointDir: String, dims: Int = 64): DataStreamWriter[Row] =
    writeEncoded(vecs, outDir, checkpointDir,
      batch => PqIndex.encode(batch, books, dims))

  /** The IVF-PQ variant: frozen coarse centroids + frozen residual
    * codebooks — each arriving vector lands as (cell, codes, err2), the
    * row shape `IvfPq.search` prunes by cell (same frozen-model,
    * per-row-pure, replay-idempotent contract as `encode`).
    */
  def encodeIvf(vecs: DataFrame, cents: Seq[Array[Long]],
      books: Seq[Seq[Array[Long]]], outDir: String,
      checkpointDir: String, dims: Int = 64): DataStreamWriter[Row] =
    writeEncoded(vecs, outDir, checkpointDir,
      batch => graft.operators.IvfPq.encode(batch, cents, books, dims))

  /** STREAMING ADC serving over a compacted IVF-PQ cell store (the
    * AnnStream contract at the codes tier): query vectors arrive as
    * (query_id, embedding), each micro-batch is quantized and answered
    * against the SAME frozen store + codebooks — cell-pruned,
    * codes-only pricing, floats touched only to quantize the query.
    * The store relation is loaded once at stream definition
    * (single-writer: restart to pick up compacted growth). Per batch
    * the queries stay a DataFrame end to end — probe selection and the
    * residual LUTs run executor-side (`IvfPq.searchDf`), so the plan
    * is flat in the micro-batch size and query vectors never
    * round-trip through the driver; results land `_batch_id`-
    * idempotent. External query ids may collide with corpus vec_ids,
    * so self-exclusion is OFF.
    */
  def serve(queries: DataFrame, servedDir: String,
      cents: Seq[Array[Long]], books: Seq[Seq[Array[Long]]],
      outDir: String, checkpointDir: String, k: Int, nprobe: Int = 4,
      dims: Int = 64): DataStreamWriter[Row] = {
    val codes = queries.sparkSession.read.parquet(servedDir)
    BatchSink.stream(queries, checkpointDir) { (batch, batchId) =>
      val q = graft.operators.KMeans.quantized(
          batch.dropDuplicates("query_id")
            .select(col("query_id").as("vec_id"), col("embedding")))
        .select(col("vec_id").as("query_id"), col("qv"))
      BatchSink.writeBatch(graft.operators.IvfPq.searchDf(codes, q, cents,
          books, nprobe, k, dims, excludeSelf = false),
        outDir, batchId)
    }
  }

  /** The TWO-STAGE streamed serving face: each micro-batch runs the
    * full DataFrame-native chain — cell-pruned ADC candidates, then
    * the exact-integer re-rank against the artifact's vector store
    * (`IvfPq.searchRerankDf`) — from a LOADED `IvfPq.save` artifact.
    * Same contract as `serve` (frozen model at stream definition,
    * `_batch_id`-idempotent, self-exclusion OFF for external ids), and
    * the same executor-side guarantee: no per-batch driver collect of
    * query vectors anywhere in the chain.
    */
  def serveRerank(queries: DataFrame, artifactDir: String,
      outDir: String, checkpointDir: String, kCand: Int, k: Int,
      nprobe: Int = 4, dims: Int = 64): DataStreamWriter[Row] = {
    val spark = queries.sparkSession
    val (cents, books) = graft.operators.IvfPq.loadModel(spark, artifactDir)
    val codes = spark.read.parquet(s"$artifactDir/codes")
    val vectors = spark.read.parquet(s"$artifactDir/vectors")
    BatchSink.stream(queries, checkpointDir) { (batch, batchId) =>
      val q = graft.operators.KMeans.quantized(
          batch.dropDuplicates("query_id")
            .select(col("query_id").as("vec_id"), col("embedding")))
        .select(col("vec_id").as("query_id"), col("qv"))
      BatchSink.writeBatch(graft.operators.IvfPq.searchRerankDf(codes,
          vectors, q, cents, books, nprobe, kCand, k, dims,
          excludeSelf = false),
        outDir, batchId)
    }
  }

  private def writeEncoded(vecs: DataFrame, outDir: String,
      checkpointDir: String,
      enc: DataFrame => DataFrame): DataStreamWriter[Row] =
    BatchSink.stream(vecs, checkpointDir) { (batch, batchId) =>
      BatchSink.writeBatch(enc(batch.dropDuplicates("vec_id")), outDir, batchId)
    }
}
