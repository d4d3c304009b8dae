package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, max}

/** The one owner of the on-disk artifact protocol: durable model
  * artifacts publish by rename and self-heal a crashed swap, every
  * append clears what a crashed append left, append-only logs number
  * rows by `seq`, and every "read it if it is there" goes through one
  * presence rule. Session stores use `tempArtifactDir` instead — the
  * scratch-volume lifecycle a serving tier's local cache has.
  */
object Artifacts {

  /** A fresh scratch directory, removed at JVM exit. */
  def tempArtifactDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
      }
      rm(dir.toFile)
    }
    dir.toString
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace `dir` with what `write` puts at the path it is given.
    *
    * Stage-then-swap: an `overwrite` straight onto `dir` is
    * delete-then-write, leaving a window the length of the write job in
    * which a concurrent reader sees a missing or partial artifact. The
    * job runs against `dir.staging`; the visible dir is then replaced by
    * two renames (metadata ops). Two renames are not one atomic swap:
    * between retiring live and publishing staging, live briefly does
    * not exist, and a crash in that gap strands the old artifact at
    * `dir.retired`. Readers call `recoverRetired` first, so the race
    * degrades to a read of the OLD artifact and the crash self-heals.
    *
    * Such a reader can rename `.retired` back to live inside the swap
    * window, which makes the publish rename fail with the destination
    * present. That live is the artifact just retired, not a competing
    * writer: retire it again and retry once. A second failure is a real
    * filesystem problem and throws with staging intact; the next
    * publish clears that stale staging before it writes.
    */
  def publish(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val live = new Path(dir)
    val staging = new Path(dir + ".staging")
    val retired = new Path(dir + ".retired")
    val fs = fsOf(spark, live)
    fs.delete(staging, true)
    write(staging.toString)
    def retire(): Unit = {
      fs.delete(retired, true)
      require(fs.rename(live, retired), s"could not retire $dir")
    }
    if (fs.exists(live)) retire()
    if (!fs.rename(staging, live)) {
      if (fs.exists(live)) retire()
      require(fs.rename(staging, live), s"could not publish $staging to $dir")
    }
    fs.delete(retired, true)
    ()
  }

  /** Crash recovery for `publish`'s two-rename swap: if live is missing
    * and `dir.retired` exists, rename it back, so readers keep the old
    * artifact until the next successful publish. One existence check on
    * a healthy dir.
    */
  def recoverRetired(spark: SparkSession, dir: String): Unit = {
    val live = new Path(dir)
    val retired = new Path(dir + ".retired")
    val fs = fsOf(spark, live)
    // two concurrent recoveries can both pass the check; the loser's
    // rename fails because the winner (or a racing publish) already
    // restored live — only throw if live is STILL missing
    if (!fs.exists(live) && fs.exists(retired) && !fs.rename(retired, live))
      require(fs.exists(live), s"could not restore $retired to $dir")
  }

  /** Spark's reader skips these (`_temporary`, `_SUCCESS`, `.crc`), but
    * not partition dirs such as `_seq=3`.
    */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  private def hasDataFile(fs: FileSystem, p: Path): Boolean =
    fs.listStatus(p).exists { s =>
      val name = s.getPath.getName
      !hidden(name) &&
        (if (s.isDirectory) hasDataFile(fs, s.getPath) else name.endsWith(".parquet"))
    }

  /** `dir` as a parquet frame, or None unless it holds at least one
    * parquet data file (searched recursively, stopping at the first).
    * A directory created by a write that crashed before its first file
    * reads as absent, not as a schema-inference failure.
    */
  def readIfPresent(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (fs.exists(p) && hasDataFile(fs, p)) Some(spark.read.parquet(dir))
    else None
  }

  /** `store` filtered to the buckets named by the one-column frame
    * `buckets` (collected once; a partition filter, so untouched buckets
    * are pruned at listing), or None without evaluating `store` when it
    * names none. An optional store passes `readIfPresent`; a required
    * one passes `Some(spark.read.parquet(dir))`, so a missing one throws.
    */
  def readTouched(store: => Option[DataFrame], bucketCol: String,
      buckets: DataFrame): Option[DataFrame] = {
    val named = buckets.distinct().collect().map(_.get(0)).toSeq
    if (named.isEmpty) None
    else store.map(_.filter(col(bucketCol).isin(named: _*)))
  }

  /** Append `rows` to `dir`, partitioned by `partitionCols`. One writer
    * per dir: a `<dir>/_temporary` can only be a crashed append's, and is
    * deleted first — Hadoop's v1 committer would otherwise publish its
    * committed task output (`_temporary/0/task_*`) at the next commit.
    */
  def append(rows: DataFrame, dir: String, partitionCols: String*): Unit = {
    remove(rows.sparkSession, s"$dir/_temporary")
    rows.write.mode("append").partitionBy(partitionCols: _*).parquet(dir)
  }

  /** Append `rows` to the log at `logDir` behind a leading `seq` column,
    * one past the log's largest (1 on an absent or empty log). A
    * read-modify-write through `append`: one writer per log.
    */
  def appendToLog(rows: DataFrame, logDir: String): Unit = {
    val seq = readIfPresent(rows.sparkSession, logDir)
      .fold(0L)(_.agg(coalesce(max("seq"), lit(0L))).first().getLong(0)) + 1
    append(rows.select(lit(seq).as("seq") +: rows.columns.map(col): _*), logDir)
  }

  /** Delete `dir` and everything under it; absent is fine. */
  def remove(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    fsOf(spark, p).delete(p, true)
    ()
  }
}
