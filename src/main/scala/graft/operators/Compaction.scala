package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for append-mode partitioned parquet sinks.
  *
  * Every continuously-appending layout in this library — the streaming
  * dedup indexes (`DocStream`/`EmbedStream`, one file per touched bucket
  * per micro-batch), the streaming dedup sink (`EventStream`), an IVF
  * index grown by `IvfIndex.appendToSaved` — accretes files per
  * partition over time. At 100 TB that is the classic operational
  * failure mode: listing cost and per-file open overhead grow linearly
  * with batch count until reads are dominated by metadata, not data.
  *
  * `compact` rewrites ONLY the partitions whose data-file count exceeds
  * `maxFiles` — a threshold-gated, incremental maintenance pass, not a
  * table rewrite: the reader is handed the hot partition paths directly
  * (with `basePath` preserving the partition column), so cold
  * partitions are never read, never rewritten, and never even
  * file-listed — discovery walks only the hot directories plus the one
  * top-level status listing the threshold check itself performs (the
  * spec pins cold files' mtimes). Hot partitions are rewritten through
  * dynamic partition overwrite into one file per partition
  * (`repartition` on the partition column: each value hashes to exactly
  * one task).
  *
  * CRASH WINDOW (r10 advice): dynamic partition overwrite stages the
  * new files, then commits by DELETING each target partition and
  * RENAMING the staged one in — concurrent, not atomic. A crash inside
  * that commit window can leave a hot partition's only copy under the
  * job's hidden staging directory (`.spark-staging-<jobId>/` beneath
  * `dir`) — and unlike the streaming sinks, compaction CANNOT
  * regenerate the data by replay; the staged files are then the data.
  * Recovery after a mid-commit crash: inspect `dir` for
  * `.spark-staging-*` remnants and move the staged partition
  * directories into place (or restore the partition from the source
  * that fed the sink) BEFORE trusting reads or re-running compaction.
  * Readers during a normal run are safe (they see old files until the
  * swap); the exposure is a writer crash mid-commit, the same window a
  * Hive dynamic-overwrite carries. A transactional table format closes
  * it at 100 TB; this layout trades that for plain-parquet operability
  * and documents the step instead.
  *
  * `dropExactDuplicates` additionally collapses byte-identical rows —
  * the documented healing pass for a crash-REPLAYED streaming index
  * append (`DocStream`: "a replayed index append can duplicate entries,
  * which is harmless ... a periodic compaction can drop exact-duplicate
  * rows").
  *
  * Single-writer contract (same as every sink here): run compaction when
  * no writer is appending to the affected partitions — a concurrent
  * append into a partition being rewritten would be silently dropped by
  * the overwrite-at-commit. The appends go through `Artifacts.append`,
  * which also assumes one writer per dir (it clears `<dir>/_temporary`).
  */
object Compaction {

  /** Partition subdirectories of `dir` (layout `col=value`) with more
    * than `maxFiles` data files: (value string, file count).
    */
  private[graft] def hotPartitions(spark: SparkSession, dir: String,
      partitionCol: String, maxFiles: Int): Seq[(String, Int)] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
      .map { s =>
        val n = fs.listStatus(s.getPath)
          .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
        (s.getPath.getName.stripPrefix(partitionCol + "="), n)
      }
      .filter(_._2 > maxFiles)
  }

  /** Compact the hot partitions of one partitioned parquet directory.
    * Returns the partition values rewritten (empty = nothing exceeded
    * the threshold — the call cost one directory listing, zero jobs).
    */
  def compact(spark: SparkSession, dir: String, partitionCol: String,
      maxFiles: Int = 4, dropExactDuplicates: Boolean = false): Seq[String] = {
    val hot = hotPartitions(spark, dir, partitionCol, maxFiles).map(_._1)
    if (hot.isEmpty) return Seq.empty
    // read ONLY the hot partition directories — basePath keeps the
    // partition column in the schema; cold partitions are not even
    // file-listed (r10 advice: a whole-directory read would run full
    // partition discovery over every cold partition before pruning)
    val rows = spark.read.option("basePath", dir)
      .parquet(hot.map(v => s"$dir/$partitionCol=$v"): _*)
    val deduped = if (dropExactDuplicates) rows.distinct() else rows
    graft.BatchSink.overwritePartitions(
      deduped.repartition(col(partitionCol)), dir, partitionCol)
    hot
  }

  /** Compact a persisted IVF index grown by `IvfIndex.appendToSaved`:
    * the cell-partitioned assignment and the id-bucketed pointer store,
    * each under its own threshold check.
    */
  def compactIvf(spark: SparkSession, dir: String,
      maxFiles: Int = 4): Seq[String] =
    compact(spark, s"$dir/assigned", "cell", maxFiles) ++
      compact(spark, s"$dir/by_id", "_idb", maxFiles).map("by_id:" + _)

  /** Fold committed count-min BATCH PARTIALS (the `_batch_id`
    * partitions `SketchStream.counterStream` lands) into one BASE
    * partition (`_batch_id = −1`), so the sketch's read cost stops
    * growing with batch count. Additivity makes the fold exact; the
    * design burden is replay- and crash-safety:
    *
    *   - the HIGHEST batch id on disk is never folded: under
    *     structured streaming it is the only batch whose foreachBatch
    *     effect may precede its checkpoint commit — a failure replays
    *     exactly that batch, and the replay's dynamic overwrite must
    *     find its own partition, not a base that silently absorbed it
    *     (which would double-count);
    *   - the base records WHICH ids it has absorbed as marker rows
    *     (r = −1, idx = batch id, c = 0), written in the SAME
    *     dynamic-overwrite commit as the folded cells. Readers
    *     (`SketchStream.mergedCounters`) exclude any on-disk partition
    *     named by a marker, so the crash window between base write and
    *     partial deletion double-counts NOTHING; a re-run skips
    *     already-absorbed ids (idempotent) and merely retries the
    *     deletes.
    *
    * The one remaining window is dynamic overwrite's own non-atomic
    * commit on the base partition itself — the same documented
    * `compact` window, same `.spark-staging-*` recovery. Single-writer
    * contract: run while the stream is stopped or between its commits.
    *
    * Returns the batch ids newly folded by this call.
    */
  def compactSketch(spark: SparkSession, dir: String): Seq[Long] = {
    import spark.implicits._
    val BaseId = -1L
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    val onDisk = fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_batch_id="))
      .map(_.getPath.getName.stripPrefix("_batch_id=").toLong)
    val real = onDisk.filter(_ >= 0L)
    if (real.isEmpty) return Seq.empty
    val baseExists = onDisk.contains(BaseId)
    val base =
      if (baseExists)
        spark.read.option("basePath", dir).parquet(s"$dir/_batch_id=$BaseId")
          .select("r", "idx", "c")
      else
        spark.range(0).selectExpr("CAST(0 AS INT) AS r",
          "CAST(0 AS BIGINT) AS idx", "CAST(0 AS BIGINT) AS c")
    val folded: Set[Long] = base.filter(col("r") === -1)
      .select("idx").collect().map(_.getLong(0)).toSet
    // partials a previous crash left on disk after they were absorbed:
    // invisible to readers (markers), but retry their deletion below
    val leftover = real.filter(folded)
    val candidates = real.filter(id => id < real.max && !folded(id)).sorted
    if (candidates.nonEmpty) {
      val candRows = spark.read.option("basePath", dir)
        .parquet(candidates.map(id => s"$dir/_batch_id=$id"): _*)
        .select("r", "idx", "c")
      val cells = base.filter(col("r") >= 0).unionByName(candRows)
        .groupBy("r", "idx").agg(sum("c").as("c"))
        .select(col("r").cast("int").as("r"), col("idx").cast("long").as("idx"),
          col("c").cast("long").as("c"))
      val markers = (folded ++ candidates).toSeq.sorted.toDF("idx")
        .select(lit(-1).cast("int").as("r"), col("idx").cast("long").as("idx"),
          lit(0L).as("c"))
      graft.BatchSink.writeBatch(cells.unionByName(markers).repartition(1),
        dir, BaseId)
    }
    (candidates ++ leftover).distinct.foreach { id =>
      fs.delete(new Path(path, s"_batch_id=$id"), true); ()
    }
    candidates
  }
}
