package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.{Artifacts, BatchSink}
import graft.operators.DedupOps

/** The STREAMING face of paragraph-level dedup (d12): documents arrive
  * continuously, each is cut into consecutive fixed token segments, and
  * every segment whose content already streamed in — in any earlier
  * micro-batch, an earlier doc of this one, or an earlier position of
  * the same doc — is dropped before the doc is reassembled and emitted.
  * The output corpus carries each distinct segment exactly once over
  * the whole stream (the C4 boilerplate-removal contract, maintained
  * incrementally).
  *
  * Index: `indexDir/entries/hbucket=<pmod(hash(h), nBuckets)>/` holding
  * (h, okey) — one row per KEPT segment occurrence, okey =
  * doc_id·1e6 + seg_idx (d12's packed owner encoding) — plus
  * `indexDir/_meta` persisting n_buckets (the CorpusStream layout
  * rule: entries are findable only under the modulus they were written
  * with). A batch reads only the buckets its own segment hashes touch,
  * so per-batch index IO is bounded by batch size, not stream history.
  *
  * Batch-twin parity (ParagraphStreamSpec): within a batch the owner
  * per hash is the MIN okey (d12's rule); across batches it is
  * first-arrival. Under id-ordered delivery the two coincide and
  * chopping is invisible; out-of-order delivery keeps the earliest-
  * ARRIVED copy — the DocStream/CorpusStream streaming semantics,
  * documented rather than hidden.
  *
  * Crash replay: output lands in `_batch_id` partitions via dynamic
  * partition overwrite; the index conflict test treats entries whose
  * okey belongs to the SAME doc as absent (self-excluded), so a
  * replayed batch reproduces its original keep/cut decisions over its
  * own partial append; the re-append leaves byte-identical duplicate
  * rows, harmless to lookups and healed by
  * `Compaction.compact(dropExactDuplicates = true)`. The append goes
  * through `Artifacts.append` (the stream is the index's one writer).
  */
object ParagraphStream {

  def cleanStream(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, segTokens: Int = 10,
      nBuckets: Int = 64): DataStreamWriter[Row] = {
    val nB = CorpusStream.persistedBuckets(docs.sparkSession, indexDir, nBuckets)
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val b0 = batch.dropDuplicates("doc_id")
      // segment + within-batch owner (d12's min-okey rule)
      val seg = DedupOps.segments(b0, "doc_id", "text", segTokens)
        .withColumn("h", md5(col("seg")))
        .withColumn("okey", col("doc_id") * 1000000L + col("seg_idx"))
        .withColumn("hbucket", pmod(hash(col("h")), lit(nB)))
      val owners = seg.groupBy("h").agg(min("okey").as("bokey"))
      val batchKept = seg.join(owners, "h")
        .filter(col("okey") === col("bokey")).drop("bokey")
        .localCheckpoint()
      // cross-batch: pruned lookup, same-doc entries self-excluded
      val entriesDir = s"$indexDir/entries"
      val stored = Artifacts.readTouched(Artifacts.readIfPresent(spark, entriesDir),
        "hbucket", batchKept.select("hbucket"))
      val kept = stored.fold(batchKept) { entries =>
        val idx = entries.select(col("h"), col("okey").as("_old"))
        batchKept.join(idx, Seq("h"), "left")
          .groupBy(batchKept.columns.map(col): _*)
          .agg(min(when(expr("_old div 1000000L") =!= col("doc_id"),
              col("_old"))).as("_foreign"))
          .filter(col("_foreign").isNull)
          .drop("_foreign")
      }.localCheckpoint()
      // reassemble: every batch doc emits a row; fully-cut docs empty
      val rebuilt = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(expr(
            "transform(array_sort(collect_list(named_struct('i', seg_idx, 's', seg))), x -> x.s)"),
            " ").as("text_clean"))
      val cleaned = DedupOps.segments(b0, "doc_id", "text", segTokens)
        .groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
        .join(b0.select("doc_id", "source"), Seq("doc_id"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_segs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("text_clean"), lit("")).as("text_clean"))
      BatchSink.writeBatch(cleaned, outDir, batchId)
      // grow the index with this batch's kept occurrences
      Artifacts.append(kept.select("h", "okey", "hbucket")
        .repartition(col("hbucket")), entriesDir, "hbucket")
    }
  }
}
