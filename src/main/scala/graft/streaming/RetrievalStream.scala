package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.Bm25

/** STREAMING BM25 serving over a persisted inverted index — the lexical
  * twin of `AnnStream`: text queries arrive as a stream of
  * (query_id, q_text), each micro-batch is answered against the SAME
  * index via the DataFrame-native served path, results land
  * append-only.
  *
  * Per batch the work is exactly `Bm25.servedTopK`: the read is
  * pruned to the batch's term-bucket partitions (driver-side bucket
  * resolution bounded by the batch's vocabulary — the DocStream
  * `touched` precedent), df is computed exactly from the pruned rows,
  * scores are exact e9 integers. A batch of any size carries the same
  * guarantees.
  *
  * Crash replay is idempotent: results land through
  * `BatchSink.writeBatch` — a replayed batch overwrites its own
  * `_batch_id` partition, never duplicates it.
  *
  * Growth contract — LOOSER than AnnStream's: `Bm25.appendToIndex` may
  * run between micro-batches; the per-batch `spark.read` lists files
  * fresh, and query-time df absorbs new postings (nothing existing is
  * rewritten, so no snapshot goes stale). Do not append CONCURRENTLY
  * with a batch's read (a torn read could see a partial append's
  * postings before its stats row) — schedule appends between triggers
  * or pause the stream, and results reflect the corpus as of each
  * batch's read.
  */
object RetrievalStream {

  def serve(queries: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, k: Int): DataStreamWriter[Row] =
    BatchSink.stream(queries, checkpointDir) { (batch, batchId) =>
      // set semantics per query_id (an at-least-once source can
      // deliver a query twice in one batch; a duplicated row would
      // double every term contribution) — the AnnStream contract
      BatchSink.writeBatch(Bm25.servedTopK(batch.sparkSession, indexDir,
          batch.dropDuplicates("query_id"), k),
        outDir, batchId)
    }
}
