package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.IvfIndex

/** STREAMING ANN serving over a persisted IVF index — the online half of
  * the batch serving paths (`IvfIndex.searchPrunedVecsDf`): query
  * vectors arrive as a stream, each micro-batch is answered against the
  * SAME frozen index, results land append-only. This is the shape of a
  * retrieval service fed by a queue: the index is built/grown offline
  * (`build`/`save`/`appendToSaved`), serving never mutates it.
  *
  * Per batch the work is exactly the DataFrame-native batch path —
  * broadcast centroids, executor-side probe selection, cell-pruned
  * candidate join, exact re-rank — so a micro-batch of any size carries
  * the same guarantees: no driver round-trips, no literal id lists,
  * plan size independent of batch size. The index is loaded ONCE at
  * stream definition (centroids are nlist driver-side rows; the
  * assignment is a lazy parquet relation), not per batch.
  *
  * Crash replay is idempotent: results land through
  * `BatchSink.writeBatch` — a replayed batch overwrites its own
  * `_batch_id` partition, never duplicates it.
  *
  * Single-writer contract: do not `appendToSaved` into the index while
  * a serving stream is up — the loaded relation's file listing is
  * snapshotted at stream definition (restart the stream to pick up
  * growth; the checkpoint carries it past already-answered batches).
  *
  * `queries`: streaming DataFrame of (query_id, qe) — external query
  * vectors, so self-exclusion is off (`searchPrunedVecsDf`'s collision
  * caveat); AnnStreamSpec pins batch-vs-streaming parity under chopping.
  */
object AnnStream {

  def serve(queries: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, k: Int, nprobe: Int = 4): DataStreamWriter[Row] = {
    val idx = IvfIndex.load(queries.sparkSession, indexDir)
    BatchSink.stream(queries, checkpointDir) { (batch, batchId) =>
      // one row per query_id: an at-least-once source can deliver a
      // query twice in one batch, and a duplicated query row DOUBLES
      // that query's candidate set — row_number then ranks each true
      // neighbour twice and the top-k holds only ⌈k/2⌉ distinct
      // results (the same set-semantics contract searchPrunedDf
      // enforces on id batches)
      BatchSink.writeBatch(IvfIndex.searchPrunedVecsDf(idx, batch.dropDuplicates("query_id"),
          k, nprobe, excludeSelf = false),
        outDir, batchId)
    }
  }
}
