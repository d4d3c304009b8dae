package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.TokenEmbeddingTable

/** STREAMING refresh of the persisted (vec_id, embedding) token-vector
  * store (VERDICT r18 #4 — the stream twin of
  * `TokenEmbeddingTable.appendDocVecs`, closing the last batch-only
  * face in the token tier): each (doc_id, text) micro-batch tokenizes
  * under the FROZEN byte-BPE merges (the algorithmic `applyMerges`
  * path, so streamed docs need not exist in the training piece
  * vocabulary), mean-pools through the LOADED id→vector table, and
  * appends only the UNSEEN vec_ids.
  *
  * Artifact snapshot contract (the `HybridStream` discipline): the
  * merge list and embedding table are loaded once at stream
  * definition — the embedding of a doc is frozen for the stream's
  * lifetime; a retrained table means redefining the stream.
  *
  * Idempotence is the APPEND face's, not `_batch_id` partitioning:
  * `appendDocVecs` anti-joins already-stored vec_ids per batch, and
  * embedding is a pure function of (text, merges, table) — so a
  * crash-replayed batch, an at-least-once duplicate WITHIN a batch,
  * and a doc re-delivered ACROSS batches all collapse to zero new
  * rows (strictly stronger than `_batch_id` overwrite, which only
  * defends same-batch replay — VectorStoreStreamSpec walks all
  * three). Chopping-invariant by the same argument: any partition of
  * the delta into micro-batches appends the same row set the one-shot
  * batch `appendDocVecs` would.
  *
  * Scale shape: per batch one vec_id-only column-pruned projection of
  * the store (the anti-join), one batch-sized tokenize+pool, one
  * append — corpus work never re-runs. Downstream ANN artifacts take
  * the same delta through `IvfPq.appendToSavedQ` (frozen model), and
  * append-only growth is what `recallStatus`/`selectKCandSaved` gate.
  * Single-writer per store, as with every append face.
  */
object VectorStoreStream {

  def refresh(docs: DataFrame, storeDir: String,
      merges: Seq[(String, String)], bpePat: String, tableDir: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    val spark = docs.sparkSession
    val table = TokenEmbeddingTable.load(spark, tableDir)
    BatchSink.stream(docs, checkpointDir) { (batch, _) =>
      TokenEmbeddingTable.appendDocVecs(spark, storeDir, batch,
        merges, bpePat, table)
    }
  }
}
