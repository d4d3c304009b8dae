package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.BpeTrainer

/** STREAMING BPE tokenization over a frozen merge list — the online
  * half of `BpeTrainer` (the ClusterStream/PqStream frozen-model
  * contract at the text family): merges are learned offline
  * (`BpeTrainer.mergeList` — k string pairs, the tokenizer artifact),
  * the stream prices each arriving document in subword tokens. This is
  * the ingest-time shape of a token-budget gate: new documents land
  * already carrying (n_pieces, n_tokens), so sp6's budget arithmetic
  * and t29's per-source planning run on the stream's output without
  * ever re-touching text.
  *
  * Per micro-batch the work is EXACTLY `BpeTrainer.docTokenCounts` —
  * one map-side projection folding the inlined merges over every piece
  * — so stream/batch parity is bit-level under any chopping (per-row
  * pure). Retraining the merges is a restart (the single-writer
  * contract; t23's vocab-growth curve is the monitor).
  *
  * Crash replay is idempotent via `BatchSink.writeBatch`; duplicate
  * doc_ids within a batch collapse to one row.
  */
object BpeStream {

  /** `docs`: streaming DataFrame of (doc_id, text). `byteLevel` must
    * match the ALPHABET THE MERGES WERE TRAINED UNDER (a t32 byte-level
    * artifact loaded via `loadMerges` needs `byteLevel = true` here —
    * hex-pair symbols never match char-level initial reps, so a
    * mismatch silently prices every piece at its unmerged length
    * rather than erroring; BpeStreamSpec pins the byte-level parity).
    */
  def tokenCounts(docs: DataFrame, merges: Seq[(String, String)],
      bpePat: String, outDir: String, checkpointDir: String,
      byteLevel: Boolean = false): DataStreamWriter[Row] =
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      BatchSink.writeBatch(BpeTrainer.docTokenCounts(
          batch.dropDuplicates("doc_id"), merges, bpePat, byteLevel),
        outDir, batchId)
    }

  /** The ingest-time twin of `BpeTrainer.docTokenIds` — continuous
    * TOKENIZATION, not just pricing: every arriving document lands as
    * its ordered integer id sequence under BOTH shipped artifacts (the
    * frozen merge table AND the induced vocabulary, each loaded from
    * disk via `loadMerges`/`loadVocab` by the caller). Per micro-batch
    * the work is exactly `docTokenIdsWith` — one map-side transform
    * against one map literal, per-row pure — so stream/batch parity is
    * bit-level under any chopping (BpeStreamSpec pins per-doc id
    * equality), and the byte-level alphabet is implied: ids only exist
    * under the byte vocabulary. Crash replay is idempotent via
    * `BatchSink.writeBatch`; duplicate doc_ids within a batch collapse
    * to one row.
    */
  def tokenIds(docs: DataFrame, merges: Seq[(String, String)],
      vocab: Seq[(String, Int)], bpePat: String, outDir: String,
      checkpointDir: String): DataStreamWriter[Row] =
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      BatchSink.writeBatch(BpeTrainer.docTokenIdsWith(
          batch.dropDuplicates("doc_id"), merges, vocab, bpePat),
        outDir, batchId)
    }
}
