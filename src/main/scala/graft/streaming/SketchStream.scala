package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.BatchSink
import graft.operators.{DedupOps, Sketches}

/** STREAMING distinct-cardinality — the t10 HyperLogLog maintained as
  * a NATIVE stateful aggregation over a document stream: per
  * micro-batch, each document's 3-gram shingles project to
  * (bucket, rho) pairs and fold into the running registers via
  * `groupBy(bucket).max(rho)`.
  *
  * Why this is the sketch's natural streaming form:
  *   - per-bucket max is idempotent and commutative, so the final
  *     registers are BATCHING-INVARIANT (any chopping of the stream
  *     yields the same state) and REPLAY-SAFE (a crash re-delivering a
  *     micro-batch re-inserts grams as no-ops) — with no `_batch_id`
  *     machinery, no watermark, and no distinct pass;
  *   - state is EXACTLY ≤ 256 rows forever, regardless of stream
  *     length — the rare unbounded-input stateful aggregation that
  *     needs no eviction policy at all (contrast EventStream's
  *     watermark-bounded windows);
  *   - the registers are a mergeable summary: two streams' states (or
  *     a stream's and a batch backfill's) combine by the same max —
  *     `Sketches.registerTable` densifies and `Sketches.estimate`
  *     prices any of them identically to the batch t10 entry.
  *
  * The caller attaches the sink (`outputMode("complete")` — the result
  * is a ≤ 256-row table, so complete mode's full rewrite is the cheap
  * option, not a scale concern).
  */
object SketchStream {

  /** The streaming register aggregation for a document stream:
    * (bucket, rho) with one row per touched bucket. Works unchanged on
    * a batch DataFrame (the spec's equivalence lever).
    */
  def registerQuery(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    Sketches.gramRegisters(DedupOps.shingles(docs, idCol, textCol, n))
      .groupBy("bucket").agg(org.apache.spark.sql.functions.max("rho").as("rho"))

  /** STREAMING count-min (t11's sketch over a document stream). Unlike
    * the HLL's idempotent max, count-min counters are SUMS — a naive
    * stateful aggregation would double-count on crash replay. The
    * streaming form therefore lands PER-BATCH PARTIAL counters in
    * `_batch_id` partitions via dynamic partition overwrite (a
    * replayed batch overwrites its own partial — idempotent), and the
    * sketch is the cell-wise SUM of the partials at read time
    * (`mergedCounters`): additivity is exactly what makes that merge
    * correct. Per-batch output ≤ depth·width rows; read cost grows
    * with batch count until `Compaction.compactSketch` folds committed
    * partials into the `_batch_id = −1` BASE partition — replay-safe:
    * the newest id is never folded (it may still replay) and absorbed
    * ids are recorded as marker rows the reader honors even if a crash
    * left their partitions on disk.
    */
  def counterStream(docs: DataFrame, outDir: String, checkpointDir: String,
      textCol: String = "text", depth: Int = 4, width: Int = 1024)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      import org.apache.spark.sql.functions._
      // empty tokens excluded — the shared tokenization convention
      // (Bm25.postings / QualityModel / t11; ADVICE r11)
      BatchSink.writeBatch(Sketches.cmCounters(
          batch.select(explode(split(col(textCol), " ")).as("tok"))
            .filter(col("tok") =!= ""),
          depth, width),
        outDir, batchId)
    }

  /** The stream's current sketch: cell-wise sum over the base plus all
    * live batch partials — interchangeable with a batch
    * `Sketches.cmCounters` over the same corpus (SketchStreamSpec pins
    * it). Partials already absorbed into the base (marker rows r = −1
    * listing their batch ids — `Compaction.compactSketch`) are excluded
    * even if a crash left their partitions on disk, so the compaction
    * crash window can never double-count.
    */
  def mergedCounters(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // an output dir with no data files yet (before the first non-empty
    // batch commits) reads as the EMPTY sketch, not an
    // unable-to-infer-schema crash (review r12)
    val raw =
      try spark.read.parquet(dir)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          spark.range(0).selectExpr("CAST(0 AS INT) AS r",
            "CAST(0 AS BIGINT) AS idx", "CAST(0 AS BIGINT) AS c")
      }
    val cells =
      if (raw.columns.contains("_batch_id")) {
        val folded = raw.filter(col("r") === -1)
          .select(col("idx").as("_folded_id")).distinct()
        raw.filter(col("r") >= 0)
          .join(folded, col("_batch_id") === col("_folded_id"), "left_anti")
      } else raw
    cells.groupBy("r", "idx").agg(sum("c").as("c"))
      .select("r", "idx", "c")
  }

  /** STREAMING per-day distinct-user sketch — the engagement (DAU)
    * dashboard maintained continuously: each event projects to
    * (day, bucket, rho) and folds into per-day HLL registers by the
    * SAME idempotent grouped max as the vocabulary sketch — so the
    * state is batching-invariant and replay-safe with no `_batch_id`
    * machinery, and is EXACTLY ≤ active-days × 256 rows (the day key
    * grows by one group per day, not with event volume).
    * `Sketches.registerTableBy`/`estimateBy` price the result
    * identically to a batch per-day sketch (SketchStreamSpec pins
    * register equality). Exact DAU stays the batch e14 entry; this is
    * the always-on approximate face a 100 TB event stream can afford.
    */
  def engagementRegisterStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    Sketches.gramRegistersBy(
        events.select(
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("g"),
          col("user_id").cast("string").as("shingle")),
        Seq("g"))
      .groupBy("g", "bucket").agg(max("rho").as("rho"))
  }

  /** GROUP-SCALABLE read of a GROUPED partial-partition store
    * (`partitionBy("g", "_batch_id")` subtrees): ONE partitioned read
    * of the whole tree with `mergedCounters`' marker/crash-window
    * semantics applied PER GROUP inside the plan — a group-keyed
    * anti-join of live cells against each group's r = −1 marker rows.
    * The per-group driver listing + `unionByName` this replaces built
    * a plan linear in group count (a 3-year daily-keyed stream =
    * ~1,100 unioned subplans); here the plan is one scan + one
    * anti-join + one aggregate whatever the group count, Spark's
    * partition discovery carries `g` as a partition column (pruned
    * scans stay available to callers filtering on it), and escaped
    * partition values round-trip correctly (the manual listing's
    * `stripPrefix` did not unescape). Semantics are otherwise
    * `mergedCounters` verbatim: absorbed `_batch_id`s excluded per
    * group even through a compaction crash window, empty/nonexistent
    * store reads as the empty sketch.
    */
  def mergedCountersBy(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // Partition-column TYPE INFERENCE must be off for this read: a
    // numeric-looking group value ('007') would otherwise be inferred
    // as int 7 and read back as '7' — group keys must round-trip
    // VERBATIM (the manual listing this reader replaced preserved the
    // raw directory name). With inference off EVERY partition column
    // reads as string, so `_batch_id` is cast back explicitly below.
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    // The flip lives on a FORKED session, not the caller's: inference
    // is a session conf, not a reader option, and toggling it on the
    // shared session would leak to any concurrent query in the window
    // (its partition columns would silently read as strings). A
    // `newSession()` shares the SparkContext (same files, same
    // executors) but owns its conf, so the flip is invisible outside
    // this read; the frames it yields compose with caller frames
    // because plans bind to the context, not the session.
    val reader = spark.newSession()
    // `newSession()` builds its SessionState from builder-time initial
    // options, NOT the caller's runtime conf — a runtime-set SQL conf
    // on the caller (session time zone, ANSI mode) would silently not
    // govern this read. Copy the caller's runtime conf onto the fork
    // first so the ONLY divergence is the intended inference flip.
    spark.conf.getAll.foreach { case (k, v) =>
      try reader.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () } // static/immutable confs
    }
    reader.conf.set(inferKey, "false")
    val raw =
      try {
        val df = reader.read.parquet(dir)
        if (df.columns.contains("_batch_id"))
          df.withColumn("_batch_id", col("_batch_id").cast("bigint"))
        else df
      } catch {
        case _: org.apache.spark.sql.AnalysisException =>
          spark.range(0).selectExpr("CAST('' AS STRING) AS g",
            "CAST(0 AS INT) AS r", "CAST(0 AS BIGINT) AS idx",
            "CAST(0 AS BIGINT) AS c")
      }
    val cells =
      if (raw.columns.contains("_batch_id")) {
        val folded = raw.filter(col("r") === -1)
          .select(col("g").as("_folded_g"), col("idx").as("_folded_id"))
          .distinct()
        raw.filter(col("r") >= 0)
          .join(folded, col("g") === col("_folded_g") &&
            col("_batch_id") === col("_folded_id"), "left_anti")
      } else raw
    cells.groupBy("g", "r", "idx").agg(sum("c").as("c"))
      .select("g", "r", "idx", "c")
  }

  /** TIME-TRAVEL read of a partial-partition store: the sketch AS OF
    * batch `upTo` — fold only the partials with `_batch_id` ≤ `upTo`.
    * The `_batch_id` layout makes every historical prefix of the
    * stream a first-class readable state for free (what a
    * snapshot-isolation table format calls an as-of query): auditing
    * "what did the monitor know when it fired at batch k" replays
    * exactly, because later batches live in partitions the read never
    * touches. Only valid on an UNCOMPACTED store — compaction folds
    * absorbed batches into the base irreversibly, collapsing history
    * by design — so marker rows make this throw rather than return a
    * silently wrong prefix.
    */
  def countersAsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String, upTo: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw =
      try spark.read.parquet(dir)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          spark.range(0).selectExpr("CAST(0 AS INT) AS r",
            "CAST(0 AS BIGINT) AS idx", "CAST(0 AS BIGINT) AS c",
            "CAST(0 AS BIGINT) AS _batch_id")
      }
    if (raw.columns.contains("_batch_id") &&
        raw.filter(col("r") === -1).limit(1).count() > 0)
      throw new IllegalStateException(
        "as-of reads require an uncompacted store: compaction has " +
          "folded absorbed batches into the base, collapsing history")
    val cells =
      if (raw.columns.contains("_batch_id"))
        raw.filter(col("_batch_id") <= upTo && col("r") >= 0)
      else raw
    cells.groupBy("r", "idx").agg(sum("c").as("c"))
      .select("r", "idx", "c")
  }

  /** STREAMING quantile sketch (t14's log2 histogram over a document
    * stream). Histogram counts are SUMS like the count-min cells, so
    * the streaming form is the SAME partial-partition machine: each
    * batch lands its ≤64-bucket histogram as a `_batch_id` partial in
    * the generic (r, idx, c) cell shape (r = 0, idx = bucket — marker
    * rows use r = −1, so the v≤0 bucket's idx = −1 never collides),
    * replay overwrites itself, `mergedCounters` is the reader and
    * `Compaction.compactSketch` folds committed partials UNCHANGED.
    * One compaction machine, three sketches (CM, histogram, and any
    * future additive cell sketch).
    */
  def histStream(docs: DataFrame, outDir: String, checkpointDir: String,
      textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      import org.apache.spark.sql.functions._
      val hist = Sketches.logHistogram(
          batch.selectExpr(s"CAST(size(split($textCol, ' ')) AS BIGINT) AS v"))
        .select(lit(0).as("r"), col("bucket").cast("long").as("idx"),
          col("cnt").as("c"))
      BatchSink.writeBatch(hist, outDir, batchId)
    }

  /** The stream's current histogram in `Sketches.histQuantiles` shape —
    * `mergedCounters` plus the cell→bucket projection, so everything
    * written there (compaction markers, crash-window exclusions,
    * empty-dir behavior) holds verbatim.
    */
  def mergedHistogram(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    mergedCounters(spark, dir)
      .select(org.apache.spark.sql.functions.col("idx").cast("int").as("bucket"),
        org.apache.spark.sql.functions.col("c").as("cnt"))

  /** GROUPED streaming histogram — t16's per-source quantile sketch
    * maintained continuously. Layout is the key design move: each
    * group's partials live under their own `g=<group>/` subtree
    * (partitionBy("g", "_batch_id")), so every group's store IS a
    * plain (r, idx, c) sketch directory and the whole single-sketch
    * machine — `mergedCounters`' replay/marker semantics and
    * `Compaction.compactSketch`'s fold — applies PER GROUP verbatim,
    * with zero new cell logic. Groups are a small dimension by
    * construction (the registerTableBy argument); per-batch state is
    * ≤64 buckets × touched groups.
    */
  def histStreamBy(docs: DataFrame, outDir: String, checkpointDir: String,
      keyCol: String = "source", textCol: String = "text")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    BatchSink.stream(docs, checkpointDir) { (batch, batchId) =>
      import org.apache.spark.sql.functions._
      val hist = Sketches.logHistogramBy(
          batch.selectExpr(s"$keyCol AS g",
            s"CAST(size(split($textCol, ' ')) AS BIGINT) AS v"),
          Seq("g"))
        .select(col("g"), lit(0).as("r"), col("bucket").cast("long").as("idx"),
          col("cnt").as("c"))
      BatchSink.writeBatch(hist, outDir, batchId, "g")
    }

  /** Current per-group histograms: the single-read `mergedCountersBy`
    * plus the cell→bucket projection — `Sketches.histQuantilesBy`
    * consumes the result exactly as it consumes the batch
    * `logHistogramBy`, and the plan stays one scan whatever the group
    * count.
    */
  def mergedHistogramBy(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    mergedCountersBy(spark, dir)
      .select(col("g"), col("idx").cast("int").as("bucket"),
        col("c").as("cnt"))
  }
}
