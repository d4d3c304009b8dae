package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.SimilarityOps

/** STREAMING embedding-cosine near-dup dedup — `DocStream.nearDupFilter`
  * for the vector modality, completing the streaming story for the
  * second dedup family (`DedupOps.embeddingNearDups`, d6). Same greedy,
  * chopping-invariant semantics: a vector is KEPT iff no sign-LSH probe
  * collision (own bucket ∪ Hamming-1 neighbours — the d6 candidate
  * relation, symmetric by construction) with an earlier-kept vector at
  * EXACT cosine ≥ `threshold`.
  *
  * Unlike the text filter, verification is exact, not an estimate:
  * embeddings are fixed-size, so the index stores the vector itself
  * (dim floats + a bucket code per kept vector) and `graft_cosine`
  * re-checks every candidate — precision 1.0 by construction, recall
  * that of d6's probe set. The index is partitioned BY the bucket code
  * directly (2^bits partitions): a batch reads only the partitions its
  * probe set names.
  *
  * `bits` must stay FIXED for the lifetime of an index — codes written
  * with different widths are incomparable. `deriveBits`-style sizing
  * applies to the EXPECTED corpus (pass `deriveBits(expectedN)` at
  * stream start), not per batch: a stream has no final row count.
  */
object EmbedStream {

  private def bucketed(emb: DataFrame, idCol: String, embCol: String,
      bits: Int, dim: Int): DataFrame =
    emb.select(col(idCol).cast("long").as("doc_id"),
      col(embCol).as("embedding"),
      SimilarityOps.lshBucketExpr(embCol, bits, dim).as("bucket"))

  /** The probe relation: each vector paired with its own bucket and its
    * `bits` Hamming-1 neighbours. A pair (a, b) collides iff
    * Hamming(code_a, code_b) ≤ 1 — symmetric, so probing only one side
    * of a join enumerates each candidate pair exactly once (the d6
    * argument, DedupOps.embeddingNearDups).
    */
  private def probed(b: DataFrame, bits: Int): DataFrame = {
    val probes = (0 until bits).map(i =>
      col("bucket").bitwiseXOR(lit(1L << i))) :+ col("bucket")
    b.select(col("doc_id"), col("embedding"),
      explode(array(probes: _*)).as("probe"))
  }

  /** Exact-dup collapse eligibility (see `DocStream.collapse`): a vector
    * may stand in for its byte-identical twins only when its
    * cosine-to-self is provably ≥ threshold — excludes null/NaN elements
    * (cosine null/NaN) and all-zero vectors (cosine 0/0). Double
    * accumulation bounds self-cosine error at ~1e-15, so the filters
    * require threshold ≤ 1 - 1e-8.
    */
  private def collapsible: Column =
    not(exists(col("embedding"), x => x.isNull || isnan(x))) &&
      exists(col("embedding"), x => x =!= 0f)

  private val MaxThreshold = 1.0 - 1e-8

  /** The streaming filter; layout and contracts mirror
    * `DocStream.nearDupFilter` — decisions in `_batch_id` partitions
    * (replay-idempotent), kept vectors appended to the bucket-partitioned
    * index, driver work bounded by the batch's own colliding ids, with
    * the same duplicate-storm defenses (exact-dup collapse on the vector
    * bytes + fail-open per-later-doc candidate cap).
    */
  def nearDupFilter(emb: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, threshold: Double, bits: Int = 8,
      dim: Int = 64, idCol: String = "vec_id",
      embCol: String = "embedding",
      maxCandidates: Int = 64): DataStreamWriter[Row] = {
    require(threshold <= MaxThreshold,
      s"threshold must be <= $MaxThreshold so identical vectors always match")
    BatchSink.stream(emb, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      graft.functions.GraftFunctions.register(spark)
      val b0 = bucketed(batch, idCol, embCol, bits, dim)
      // duplicate-storm pre-collapse (DocStream.collapse on the vector
      // itself as the signature): one rep per distinct eligible vector
      val (repB0, members) = DocStream.collapse(
        b0.withColumn("sig", when(collapsible, col("embedding"))))
      val b = repB0.drop("sig").localCheckpoint()
      val p = probed(b, bits)

      // the probe set bounds the index read: ≤ batch × (bits+1) codes,
      // each a partition directory of the index
      val touched = p.select("probe").distinct()
        .collect().map(_.getLong(0)).toSeq
      val indexPath = new org.apache.hadoop.fs.Path(indexDir)
      val fs = indexPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val crossMatch: Map[Long, Long] =
        if (fs.exists(indexPath) && touched.nonEmpty) {
          spark.read.schema(b.schema).parquet(indexDir)
            .filter(col("bucket").isin(touched: _*))
            .select(col("doc_id").as("old_id"), col("embedding").as("old_emb"),
              col("bucket").as("probe"))
            .join(p.select(col("doc_id").as("new_id"),
              col("embedding").as("new_emb"), col("probe")), Seq("probe"))
            // self-match guard: on crash-replay the batch's own kept
            // vectors are already indexed at cosine 1.0 — same
            // corruption as DocStream without it, and the same
            // documented cost: same-id cross-batch redelivery is
            // indistinguishable from replay, so it re-reports kept and
            // duplicates index entries (healed by compaction)
            .filter(col("old_id") =!= col("new_id"))
            .filter(expr("graft_cosine(new_emb, old_emb)") >= threshold)
            .groupBy("new_id").agg(min("old_id").as("matched"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        } else Map.empty
      // within-batch pairs over reps only, capped per later doc — the
      // same fail-open driver-row bound as DocStream.collidingPairs
      val pairs = p.select(col("doc_id").as("d1"),
          col("embedding").as("e1"), col("probe"))
        .join(b.select(col("doc_id").as("d2"), col("embedding").as("e2"),
          col("bucket").as("probe")), Seq("probe"))
        .filter(col("d1") < col("d2"))
        .filter(expr("graft_cosine(e1, e2)") >= threshold)
        .select("d1", "d2").distinct()
        .withColumn("_rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("d2").orderBy("d1")))
        .filter(col("_rn") <= maxCandidates)
        .select("d1", "d2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val folded = DocStream.greedyFold(crossMatch, pairs)

      BatchSink.writeBatch(
        DocStream.expandMembers(DocStream.decisions(b, folded), members),
        outDir, batchId)
      val dropped = folded.collect { case (id, false, _) => id }
      // anti-join, not an isin literal list — same plan-size rationale
      // as DocStream (review r10)
      val keptEntries =
        if (dropped.isEmpty) b
        else {
          import spark.implicits._
          b.join(broadcast(dropped.toDF("doc_id")), Seq("doc_id"), "left_anti")
        }
      if (!keptEntries.isEmpty)
        keptEntries.write.mode("append").partitionBy("bucket").parquet(indexDir)
    }
  }

  /** BATCH twin with identical semantics, the spec's oracle: the same
    * collapse, d6's exact candidate pairs (`DedupOps.embeddingNearDups`)
    * over the reps, the same capped shared greedy fold.
    */
  def greedyKeepNearDups(emb: DataFrame, threshold: Double, bits: Int = 8,
      dim: Int = 64, idCol: String = "vec_id",
      embCol: String = "embedding", maxCandidates: Int = 64): DataFrame = {
    require(threshold <= MaxThreshold,
      s"threshold must be <= $MaxThreshold so identical vectors always match")
    val (repB0, members) = DocStream.collapse(
      bucketed(emb, idCol, embCol, bits, dim)
        .withColumn("sig", when(collapsible, col("embedding"))))
    val b = repB0.drop("sig").localCheckpoint()
    val pairs = graft.operators.DedupOps.embeddingNearDups(
        b.select(col("doc_id").as("vec_id"), col("embedding")),
        threshold, bits = bits, dim = dim)
      .select("d1", "d2")
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("d2").orderBy("d1")))
      .filter(col("_rn") <= maxCandidates)
      .select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    DocStream.expandMembers(
      DocStream.decisions(b, DocStream.greedyFold(Map.empty, pairs)), members)
  }
}
