package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-size context-window PACKING of per-document token sequences —
  * the artifact a pretraining dataloader reads (GPT-style packed
  * shards, public folklore: documents concatenated in order, split at
  * fixed window boundaries, boundary offsets kept so the loader can
  * mask cross-document attention). sp15 reports which windows a
  * document touches; this MATERIALIZES the windows.
  *
  * Semantics (exact integer arithmetic end to end): per shard,
  * documents concatenate in doc_id order; a document whose shard
  * prefix-sum offset is `o` with `n` tokens occupies global positions
  * [o, o + n) and touches windows [o div W, (o + n − 1) div W]. Each
  * touched window receives the document's id slice covering that
  * window's position range, at within-window start `max(o, w·W) − w·W`.
  * Zero-token documents touch no window (and contribute 0 to every
  * prefix sum, so dropping them is exact).
  *
  * Scale: one prefix-sum window per shard (shard count grows with the
  * corpus — the sp15 argument), the explode adds one row per boundary
  * straddle (≤ total_tokens/W extra rows corpus-wide), and the
  * (shard, window) group-by is one evenly-keyed shuffle whose groups
  * are W-bounded — no state ever exceeds one window's tokens.
  *
  * Deliberately NO streaming face: a window's contents depend on the
  * shard-wide prefix sum, so any later document shifts every window
  * after it — there is no per-row-pure or bounded-state form (unlike
  * tokenization, which streams because it is per-document). Production
  * packing is a per-release batch step over a FROZEN document set;
  * re-packing a grown corpus is a new release (`saveWindows` to a new
  * store, the `Artifacts.publish` swap), not an append.
  */
object ContextPacking {

  /** `ids`: (doc_id, ids ARRAY<INT>) — `BpeTrainer.docTokenIds`' shape.
    * Returns one row per non-empty (shard, window_id): the ordered
    * window token sequence, the document-boundary map (position order),
    * and the fill counters. `nShards` is the doc_id → shard modulus.
    */
  def packedWindows(ids: DataFrame, w: Long,
      nShards: Int = 8): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    ids
      .select(col("doc_id"), pmod(col("doc_id"), lit(nShards)).as("shard"),
        col("ids"), size(col("ids")).cast("bigint").as("n"))
      .withColumn("offset", coalesce(sum("n").over(win), lit(0L)))
      .filter(col("n") > 0)
      .withColumn("window_id", explode(sequence(
        expr(s"`offset` div $w"), expr(s"(`offset` + n - 1) div $w"))))
      .withColumn("gs", greatest(col("offset"), col("window_id") * w))
      .withColumn("ge",
        least(col("offset") + col("n"), (col("window_id") + 1) * w))
      .select(col("shard"), col("window_id"), col("doc_id"),
        (col("gs") - col("window_id") * w).as("wstart"),
        (col("ge") - col("gs")).as("wlen"),
        slice(col("ids"), (col("gs") - col("offset") + 1).cast("int"),
          (col("ge") - col("gs")).cast("int")).as("piece_ids"))
      .groupBy("shard", "window_id")
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum("wlen").as("n_tokens"),
        // wstart is unique within a window (documents occupy disjoint
        // contiguous runs), so the struct sort restores position order
        array_sort(collect_list(struct(col("wstart"), col("doc_id"),
          col("wlen"), col("piece_ids")))).as("ps"))
      .select(col("shard"), col("window_id"), col("n_docs"),
        col("n_tokens"),
        expr(s"(n_tokens * 1000000) div $w").as("fill_e6"),
        flatten(transform(col("ps"), p => p("piece_ids")))
          .as("window_ids"),
        transform(col("ps"), p => struct(p("doc_id").as("doc_id"),
          p("wstart").as("wstart"), p("wlen").as("wlen"))).as("bounds"))
  }

  /** GREEDY WHOLE-DOCUMENT packing — the no-split alternative to
    * `packedWindows` (used when cross-document attention contamination
    * must be zero WITHOUT masking): per shard, documents are taken in
    * doc_id order and each goes ENTIRELY into the current window if it
    * fits, else opens a new one; a document longer than W overflows
    * its own window alone (the greedy rule isolates it naturally —
    * anything after an over-full window cannot fit). The price is
    * padding (windows close under-full); `packedWindows` is the
    * zero-padding twin. Returns the per-document assignment map
    * (doc_id, shard, n_tokens, window_id) a shard writer consumes.
    *
    * Implementation note — the justified `mapPartitions` case: the
    * assignment is a genuinely SEQUENTIAL fold (each document's window
    * depends on the running fill, which no prefix-sum can express
    * because the fill RESETS data-dependently), so it runs as one
    * ordered fold per shard: `repartition(shard)` guarantees a shard's
    * rows share a partition, the within-partition sort orders them,
    * and the fold keeps O(1) state, resetting at shard boundaries
    * (several shards may hash-share a partition). Parallelism = shard
    * count, which scales with the corpus (`nShards` is the knob); the
    * per-shard cost is one pass over its documents.
    */
  def packGreedy(ids: DataFrame, w: Long, nShards: Int = 8): DataFrame =
    packGreedyCounts(ids.select(col("doc_id"),
      size(col("ids")).cast("bigint").as("n_tokens")), w, nShards)

  /** `packGreedy` from a (doc_id, n_tokens) COUNTS relation — the
    * cheaper face when sequences are not already materialized
    * (assignment only needs lengths; `BpeTrainer.docTokenCounts` prices
    * a document without building its id arrays).
    */
  def packGreedyCounts(counts: DataFrame, w: Long,
      nShards: Int = 8): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    counts.select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards)).as("shard"),
        col("n_tokens").cast("bigint").as("n"))
      .filter(col("n") > 0)
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var win = 0L
        var fill = 0L
        it.map { case (doc, shard, n) =>
          if (shard != curShard) { curShard = shard; win = 0L; fill = n }
          else if (fill + n <= w) fill += n
          else { win += 1; fill = n }
          (doc, shard, n, win)
        }
      }
      .toDF("doc_id", "shard", "n_tokens", "window_id")
  }

  /** MATERIALIZE the greedy assignment as the same dataloader artifact
    * `packedWindows` emits — (shard, window_id, n_docs, n_tokens,
    * fill_e6, ordered window_ids, boundary structs) — so the no-split
    * policy can feed `saveWindows`/`loadWindows`, the sp17 manifest,
    * and the composed release exactly as the split policy does
    * (VERDICT r16 #2). Windows hold WHOLE documents in doc_id order
    * (wstart = running sum of the window's preceding doc lengths), so
    * every bounds entry covers its document completely — no boundary
    * straddles, ever; the price is fill_e6 < 10⁶ on every window the
    * greedy rule closes early (an oversize document's lone window
    * reads > 10⁶ — it overflows alone by construction).
    *
    * Scale: the assignment is `packGreedy`'s per-shard fold; the
    * materialization adds one (shard, window_id)-keyed shuffle whose
    * groups are W-bounded (oversize docs aside) — the same shape as
    * `packedWindows`' group-by. `loadWindows`' integrity checks hold
    * on this store by construction (per-shard window ids are the
    * contiguous fold outputs 0..n−1; n_tokens = Σ wlen).
    */
  def packGreedyWindows(ids: DataFrame, w: Long,
      nShards: Int = 8): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "window_id").orderBy("doc_id")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // pinned: consumed TWICE (the fold's counts and the
    // materialization join) — without this the caller's id lineage
    // (typically the per-token docTokenIds chain, the dominant cost)
    // recomputes once per consumer
    val pinned = ids.localCheckpoint()
    packGreedy(pinned, w, nShards)
      .join(pinned.select(col("doc_id"), col("ids")), Seq("doc_id"))
      .withColumn("wstart", coalesce(sum("n_tokens").over(win), lit(0L)))
      .groupBy("shard", "window_id")
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        array_sort(collect_list(struct(col("wstart"), col("doc_id"),
          col("n_tokens").as("wlen"), col("ids")))).as("ps"))
      .select(col("shard"), col("window_id"), col("n_docs"),
        col("n_tokens"),
        expr(s"(n_tokens * 1000000) div $w").as("fill_e6"),
        flatten(transform(col("ps"), p => p("ids"))).as("window_ids"),
        transform(col("ps"), p => struct(p("doc_id").as("doc_id"),
          p("wstart").as("wstart"), p("wlen").as("wlen"))).as("bounds"))
  }

  /** Persist a packed-window frame in the DATALOADER layout: one shard
    * per partition directory, so a training rank reading its own shard
    * touches only that shard's files (partition pruning — the
    * IvfPq cell-store discipline at the data tier). This is the
    * handoff artifact: (window_id, ordered ids, boundary structs, fill)
    * per shard, written once per packing run.
    */
  def saveWindows(packed: org.apache.spark.sql.DataFrame,
      dir: String): Unit =
    packed.write.mode("overwrite").partitionBy("shard").parquet(dir)

  /** Read a persisted packed-window store — with the fail-loud
    * integrity checks a loader needs before it trusts the layout:
    * within every shard, window ids must be the contiguous 0..n−1 (a
    * partially-written or filtered store would silently skip training
    * data) and every window's token count must match its boundary
    * lengths. Both checks are one aggregate over the store; the
    * returned frame is the pruned-readable parquet.
    */
  def loadWindows(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val df = spark.read.parquet(dir)
    val bad = df.groupBy("shard")
      .agg(count(lit(1)).as("n"),
        // distinct, not raw count: a duplicated window_id compensating
        // a gap (ids {0,1,2,2,4}) would make (count, lo, hi) look
        // contiguous while window 3 is silently missing — exactly the
        // skipped-training-data case this check exists for; requiring
        // n == n_distinct additionally rejects the duplicate itself
        countDistinct(col("window_id")).as("nd"),
        min("window_id").as("lo"), max("window_id").as("hi"),
        sum(when(col("n_tokens") =!=
          aggregate(col("bounds"), lit(0L), (a, b) => a + b("wlen")), 1L)
          .otherwise(0L)).as("mismatched"))
      .filter(col("lo") =!= 0L || col("hi") =!= col("nd") - 1L ||
        col("n") =!= col("nd") || col("mismatched") > 0L)
      .collect()
    require(bad.isEmpty,
      s"corrupt window store at $dir: non-contiguous window ids or " +
        s"boundary/token mismatches in shards ${bad.map(_.get(0)).mkString(",")}")
    df
  }
}
