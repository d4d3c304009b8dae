package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.{Artifacts, BatchSink}
import graft.operators.DedupOps

/** STREAMING near-duplicate dedup over a document stream — the in-flight
  * twin of the batch MinHash-LSH family (`DedupOps.minHashLsh`, d4): a
  * continuously-ingesting training pipeline must decide, as documents
  * arrive, whether each is a near-dup of anything already kept, without
  * re-scanning the corpus per batch.
  *
  * Semantics (GREEDY, batching-invariant): a document is KEPT iff it has
  * no LSH band collision with an earlier-KEPT document at MinHash
  * signature-estimate ≥ `threshold`; earlier = smaller `doc_id` within a
  * micro-batch, earlier batch across batches. Candidate generation is a
  * pure function of the signatures — a colliding pair surfaces whether
  * its docs share a micro-batch (self-join) or not (index join) — and a
  * dropped doc's match is always the SMALLEST earlier-kept collider, so
  * neither the kept set nor the attribution depends on how the stream is
  * chopped into batches (DedupStreamSpec streams the same files
  * one-per-trigger and all-at-once and asserts identical output, equal
  * to the batch twin `greedyKeepNearDups`).
  *
  * Similarity is the standard unbiased MinHash ESTIMATE (fraction of
  * agreeing signature positions): the index then stores fixed-size
  * signatures instead of shingle sets — `bands` rows × (k+1) longs per
  * kept doc (~2 KB at k=32, b=8), invariant to document length. The
  * batch pair-finder (d4) verifies EXACT Jaccard; use it for offline
  * audits of the streaming decisions.
  *
  * DUPLICATE-STORM safety (review r10): a crawl micro-batch re-emitting
  * one page 10⁵ times would make every pair search O(B²) and the driver
  * fold collect B²/2 rows. Two defenses: (1) exact-dup PRE-COLLAPSE —
  * only one representative per distinct signature enters banding, the
  * index join, and the fold, and member verdicts are synthesized exactly
  * (see `collapse`); (2) a per-later-doc candidate CAP bounding driver
  * rows for near-identical (distinct-signature) storms (see
  * `collidingPairs`; fail-open, default 64).
  *
  * Scale design, mirroring `EventStream.dedupStreamMinBy`'s bucketed
  * sink: the index is a parquet directory hash-partitioned on
  * `_bucket = pmod(hash(band_key), nBuckets)`, with `nBuckets` stored
  * on first use (`CorpusStream.persistedBuckets`); a batch's band keys
  * determine its touched buckets, the candidate join reads ONLY those
  * buckets (partition pruning at file-listing time), and kept docs'
  * entries are APPENDED — entries are immutable, no rewrite, per-batch
  * cost O(entries in touched buckets), not O(corpus). Driver-side work
  * is the greedy fold over the batch's own COLLIDING ids (never the
  * batch, never the corpus — docs without collisions are kept
  * distributed-side); that bound is the same class as d4's pair
  * collection. Crash replay: decisions land in `_batch_id` partitions
  * through `BatchSink.writeBatch` (idempotent);
  * a replayed index append can duplicate entries, which is harmless —
  * candidates are de-duplicated per (new, old) pair, and the
  * cross-batch match EXCLUDES self-pairs, so a replayed batch that
  * finds its own already-indexed entries reproduces its original
  * decisions rather than matching kept docs against themselves — and a
  * periodic compaction can drop exact-duplicate rows. The append goes
  * through `Artifacts.append` (the stream is the index's one writer).
  */
object DocStream {

  /** Per-doc (doc_id, sig) for one batch; docs with fewer than `n` words
    * have no shingles and surface with a null sig (trivially novel — no
    * band key, no collisions — matching `minHashLsh`, which emits no
    * pairs for them).
    */
  private def signatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(DedupOps.minHashSignatures(
        DedupOps.shingles(docs, idCol, textCol, n), k)
        .select(col("doc_id").cast("long").as("doc_id"), col("sig")),
        Seq("doc_id"), "left")

  /** Flat band entries for signed docs: (doc_id, sig, band_key, _bucket).
    * `band_key` serializes (band index, band values) — the LSH bucket
    * identity — and `_bucket` hash-partitions the persisted index so a
    * batch prunes to its touched buckets.
    */
  private def bandEntries(sigs: DataFrame, k: Int, bands: Int,
      nBuckets: Int): DataFrame = {
    val r = k / bands
    sigs.filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until bands).map(b =>
          concat_ws(":", (lit(b) +: (b * r until (b + 1) * r)
            .map(i => col("sig")(i))): _*)): _*)))
      .toDF("doc_id", "sig", "_pos", "band_key")
      .drop("_pos")
      .withColumn("_bucket", pmod(hash(col("band_key")), lit(nBuckets)))
  }

  /** MinHash estimate between two signature columns: fraction of
    * agreeing positions — the unbiased Jaccard estimator.
    */
  private def estimate(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v)).cast("double") / k

  /** DUPLICATE-STORM pre-collapse: split signed docs into one
    * REPRESENTATIVE per distinct signature (the smallest doc_id) plus the
    * remaining (doc_id, rep_id) members. Only representatives enter
    * banding, candidate joins, and the driver fold — a crawl micro-batch
    * re-emitting one page 10⁵ times contributes ONE rep, not O(B²)
    * colliding pairs.
    *
    * This is EXACTLY semantics-preserving, not an approximation: a doc's
    * collision set and every estimate it participates in are pure
    * functions of its signature, so group members g2..gm (ids above rep
    * g1) see precisely g1's colliders plus g1 itself at estimate 1.0
    * (identical sigs share all band keys, and 1.0 ≥ any threshold ≤ 1).
    * Hence under the uncollapsed greedy each member is ALWAYS dropped,
    * matching g1 when g1 is kept, else g1's own match m — m is the
    * smallest earlier-kept collider of the shared signature, and no kept
    * collider between m and the member can be smaller than m.
    * `expandMembers` synthesizes exactly those verdicts. Null-sig
    * (too-short) docs are never collapsed: they have no collisions, and
    * collapsing them would wrongly drop identical short docs.
    */
  private[graft] def collapse(sigs: DataFrame): (DataFrame, DataFrame) = {
    val keyed = sigs.withColumn("_sig_key",
      when(col("sig").isNotNull,
        concat_ws(",", col("sig").cast("array<string>"))))
    val reps = keyed.filter(col("_sig_key").isNotNull)
      .groupBy("_sig_key").agg(min("doc_id").as("rep_id"))
    val withRep = keyed.join(reps, Seq("_sig_key"), "left")
    val repSigs = withRep
      .filter(col("rep_id").isNull || col("doc_id") === col("rep_id"))
      .select(sigs.columns.map(col): _*)
    val members = withRep
      .filter(col("rep_id").isNotNull && col("doc_id") =!= col("rep_id"))
      .select("doc_id", "rep_id")
    (repSigs, members)
  }

  /** Rejoin collapsed members to their representative's verdict: every
    * member is dropped, matching the rep when the rep was kept, else the
    * rep's own match (see `collapse` for why this equals the uncollapsed
    * greedy).
    */
  private[graft] def expandMembers(repDecisions: DataFrame,
      members: DataFrame): DataFrame =
    repDecisions.unionByName(
      members.join(repDecisions.select(col("doc_id").as("rep_id"),
          col("kept").as("_rk"), col("matched_id").as("_rm")),
        Seq("rep_id"))
        .select(col("doc_id"), lit(false).as("kept"),
          when(col("_rk"), col("rep_id")).otherwise(col("_rm"))
            .as("matched_id")))

  /** Distinct (earlier, later) colliding pairs at estimate ≥ threshold
    * within one entries set, keeping at most `maxCandidates` SMALLEST
    * earlier colliders per later doc — the bound on driver rows for a
    * near-identical storm that pre-collapse (exact dups only) cannot
    * shrink. The cap FAILS OPEN: if all of a doc's `maxCandidates`
    * smallest earlier colliders were themselves dropped while some
    * larger-id collider beyond the cap was kept, the doc is kept rather
    * than dropped — over-keeping is recoverable by the batch auditor
    * (d4) where over-dropping is not. With the default cap the window
    * only binds when one doc has >maxCandidates DISTINCT-signature
    * colliders in a single micro-batch. Caveat: a fail-open keep is not
    * replay-stable (on crash-replay the same colliders surface through
    * the uncapped cross-batch path), so size maxCandidates above the
    * worst expected per-doc distinct-collider count; the default only
    * binds under adversarial near-identical storms.
    */
  private[graft] def collidingPairs(entries: DataFrame, k: Int,
      threshold: Double, maxCandidates: Int): DataFrame =
    entries.as("a")
      .join(entries.as("b"),
        col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(first(estimate(col("a.sig"), col("b.sig"), k)).as("est"))
      .filter(col("est") >= threshold)
      .withColumn("_rn",
        row_number().over(Window.partitionBy("d2").orderBy("d1")))
      .filter(col("_rn") <= maxCandidates)
      .select("d1", "d2")

  /** The greedy fold, driver-side over the COLLIDING ids only:
    * `crossMatch` maps an id to its smallest earlier-batch kept match,
    * `pairs` are within-batch (earlier, later) collisions. Returns
    * (id, kept, match) for every id involved in either — docs involved
    * in neither are kept by construction and never reach the driver.
    * Shared with `EmbedStream` (same semantics, different candidate
    * generator).
    */
  private[streaming] def greedyFold(crossMatch: Map[Long, Long],
      pairs: Seq[(Long, Long)]): Seq[(Long, Boolean, Long)] = {
    val byLater = pairs.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val involved = (crossMatch.keys ++ pairs.flatMap(p => Seq(p._1, p._2)))
      .toSeq.distinct.sorted
    val kept = scala.collection.mutable.HashSet.empty[Long]
    involved.map { id =>
      val within = byLater.getOrElse(id, Seq.empty).filter(kept)
      val earliest = (crossMatch.get(id).toSeq ++ within).sorted.headOption
      earliest match {
        case Some(m) => (id, false, m)
        case None => kept += id; (id, true, -1L)
      }
    }
  }

  /** Join the driver-decided collider verdicts back over the batch —
    * every uninvolved doc is kept with no match; the folded relation is
    * collider-sized, so the join broadcasts.
    */
  private[streaming] def decisions(sigs: DataFrame,
      folded: Seq[(Long, Boolean, Long)]): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val foldedDf = folded.toDF("doc_id", "_kept", "_matched")
    sigs.select("doc_id")
      .join(broadcast(foldedDf), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_kept"), lit(true)).as("kept"),
        when(col("_matched") >= 0, col("_matched")).as("matched_id"))
  }

  /** The streaming filter. Decisions land in `outDir` as parquet rows
    * (doc_id, kept, matched_id — the smallest earlier kept doc that
    * claimed a dropped one, null for kept docs) in `_batch_id`
    * partitions; kept docs' band entries are appended to the `indexDir`
    * bucket layout. Start with `.trigger(...)​.start()` like any writer;
    * DedupStreamSpec drives it with AvailableNow.
    */
  def nearDupFilter(docs: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, threshold: Double, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 32, bands: Int = 8,
      nBuckets: Int = 64, maxCandidates: Int = 64): DataStreamWriter[Row] = {
    require(threshold <= 1.0,
      "threshold > 1 matches nothing and would break exact-dup collapse")
    val nB = CorpusStream.persistedBuckets(docs.sparkSession, indexDir, nBuckets)
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      // one signature pass per batch; localCheckpoint because it feeds
      // the collapse, the decisions join, and (via reps) everything else
      val sigs = signatures(batch, idCol, textCol, n, k).localCheckpoint()
      // duplicate-storm safety: only one rep per distinct signature
      // reaches banding, the index join, and the driver fold
      val (repSigs0, members) = collapse(sigs)
      val repSigs = repSigs0.localCheckpoint()
      val entries = bandEntries(repSigs, k, bands, nB).localCheckpoint()

      // cross-batch matches: smallest INDEXED (= earlier kept) doc
      // sharing a band bucket at estimate >= threshold — the read is
      // partition-pruned to the batch's own buckets
      val stored = Artifacts.readTouched(Artifacts.readIfPresent(spark, indexDir),
        "_bucket", entries.select("_bucket"))
      val crossMatch: Map[Long, Long] = stored.fold(Map.empty[Long, Long]) { idx =>
        idx.select(col("doc_id").as("old_id"), col("sig").as("old_sig"),
            col("band_key"))
          .join(entries.select(col("doc_id").as("new_id"), col("sig"),
            col("band_key")), Seq("band_key"))
          // a doc never matches ITSELF: on crash-replay (index append
          // landed, checkpoint commit did not) the re-executed batch
          // finds its own kept docs' entries in the index at estimate
          // 1.0 — without this guard every previously-kept doc would
          // be rewritten as dropped-matching-itself, permanently
          // corrupting the replayed decisions (review r10). The cost
          // (r10 advice): a LEGITIMATE cross-batch redelivery of the
          // same doc_id is indistinguishable from replay, so it is
          // also suppressed — the redelivered doc reports kept again
          // and re-appends duplicate index entries (harmless to
          // decisions; healed by `Compaction` with
          // dropExactDuplicates). Upstreams that re-emit ids across
          // batches get at-least-once kept records, not a dup report
          .filter(col("old_id") =!= col("new_id"))
          .groupBy("new_id", "old_id")
          .agg(first(estimate(col("sig"), col("old_sig"), k)).as("est"))
          .filter(col("est") >= threshold)
          .groupBy("new_id").agg(min("old_id").as("matched"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val pairs = collidingPairs(entries, k, threshold, maxCandidates)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val folded = greedyFold(crossMatch, pairs)

      BatchSink.writeBatch(expandMembers(decisions(repSigs, folded), members),
        outDir, batchId)
      val dropped = folded.collect { case (id, false, _) => id }
      // anti-join, not an isin literal list: a duplicate-heavy batch
      // can drop most of its docs, and embedding that many literals
      // in the plan is the same plan-size cap searchPrunedDf's doc
      // warns about; the dropped relation is collider-bounded, so it
      // broadcasts (review r10)
      val keptEntries =
        if (dropped.isEmpty) entries
        else {
          import spark.implicits._
          entries.join(broadcast(dropped.toDF("doc_id")),
            Seq("doc_id"), "left_anti")
        }
      if (!keptEntries.isEmpty) Artifacts.append(keptEntries, indexDir, "_bucket")
    }
  }

  /** BATCH twin of `nearDupFilter` with identical greedy semantics over
    * one DataFrame: the same collapse, the same band keys, the same
    * estimator, the same capped fold. A single-batch stream reproduces
    * this exactly, and so does any other batching (the semantics are
    * batching-invariant) — DedupStreamSpec's oracle. Driver work is
    * O(capped colliding DISTINCT-signature pairs), the d4-class bound;
    * uninvolved docs and exact-dup group members never leave the
    * executors.
    */
  def greedyKeepNearDups(docs: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, k: Int = 32, bands: Int = 8,
      maxCandidates: Int = 64): DataFrame = {
    require(threshold <= 1.0,
      "threshold > 1 matches nothing and would break exact-dup collapse")
    val sigs = signatures(docs, idCol, textCol, n, k).localCheckpoint()
    val (repSigs0, members) = collapse(sigs)
    val repSigs = repSigs0.localCheckpoint()
    val entries = bandEntries(repSigs, k, bands, nBuckets = 64)
    val pairs = collidingPairs(entries, k, threshold, maxCandidates)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    expandMembers(decisions(repSigs, greedyFold(Map.empty, pairs)), members)
  }
}
