package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Artifacts

/** Table-lifecycle DDL surface (SURVEY §2.1 S10/S11):
  * CTAS (`create table security as select * from ...`, dp_demo.sql:250)
  * and `truncate table if exists` (dp_demo.sql:16-19), over
  * parquet-backed tables addressed by directory path — consistent with
  * the Pipeline's table layout.
  */
object Ddl {

  /** CTAS: materialize a query result as a new table and hand back the
    * re-read (snapshot semantics — later source mutations don't leak).
    */
  def ctas(df: DataFrame, path: String): DataFrame = {
    df.write.mode("errorifexists").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Warehouse-resize analogue (`alter warehouse dp_wh set
    * warehouse_size=large` before the heavy unload and back to `small`
    * after it — reference dp_demo.sql:111-113,145). Spark has no
    * warehouse object: compute sizing is the session's parallelism, so
    * the T-shirt size maps onto `spark.sql.shuffle.partitions`, the
    * session-scoped parallelism knob that is safe to flip at runtime
    * (executor COUNT belongs to the cluster manager — at 100 TB that is
    * dynamic allocation policy, not per-statement DDL). The prior value
    * is restored when `body` completes, matching the reference's paired
    * resize-back, and the resize intent is recorded as a task_history
    * row when a metrics path is supplied — the same place the
    * reference's resize shows up in monitoring views (through
    * `Artifacts.append`: one writer per path).
    */
  val warehouseSizes: Map[String, Int] = Map(
    "xsmall" -> 8, "small" -> 16, "medium" -> 32, "large" -> 64, "xlarge" -> 128)

  private def partitionsFor(size: String): Int =
    warehouseSizes.getOrElse(size.toLowerCase,
      throw new IllegalArgumentException(
        s"unknown warehouse_size '$size' (one of ${warehouseSizes.keys.toSeq.sorted.mkString(", ")})"))

  def withWarehouseSize[T](spark: SparkSession, size: String,
      taskHistoryPath: Option[String] = None,
      clock: Clock = SystemClock)(body: => T): T = {
    val partitions = partitionsFor(size)
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    val scheduled = clock.now()
    spark.conf.set(key, partitions.toString)
    // monitoring rows are written AFTER the fact with the actual outcome
    // (a body that throws records FAILED, not a pre-declared SUCCEEDED),
    // and the resize-back gets its own row — the reference issues two
    // explicit ALTERs (dp_demo.sql:111-113,145) and both show up in
    // task_history
    var bodyError: Throwable = null
    try body
    catch { case e: Throwable => bodyError = e; throw e }
    finally {
      spark.conf.set(key, prior)
      taskHistoryPath.foreach { p =>
        // the monitoring write must never out-rank the failure it
        // records: an exception here (unwritable path, disk full) is
        // suppressed onto the body's original error rather than
        // replacing it (ADVICE r8). When the body succeeded, a
        // monitoring failure still surfaces — nothing is being masked.
        try {
          val state = if (bodyError == null) "SUCCEEDED" else "FAILED"
          val done = clock.now()
          Artifacts.append(Metrics.taskHistoryRow(spark,
              s"alter_warehouse_size_$size", state, scheduled, done, 0L)
            .unionByName(Metrics.taskHistoryRow(spark,
              "alter_warehouse_size_restore", "SUCCEEDED", done, done, 0L)), p)
        } catch {
          case we: Throwable =>
            if (bodyError != null) bodyError.addSuppressed(we) else throw we
        }
      }
    }
  }

  /** Statement-scoped `alter warehouse … set warehouse_size=<size>`
    * (dp_demo.sql:111,145) for whole-script replay: unlike the
    * bracket-scoped `withWarehouseSize`, each resize is its own
    * statement and the paired resize-back arrives as a later statement,
    * so this form sets the parallelism mapping immediately and leaves
    * restoration to that later statement. Monitoring parity: one
    * SUCCEEDED task_history-shaped row per resize when a path is given
    * (kept in its own directory — the pipeline's task_history is
    * `_batch_id`-partitioned and must not be mixed with unpartitioned
    * appends).
    */
  def setWarehouseSize(spark: SparkSession, size: String,
      taskHistoryPath: Option[String] = None,
      clock: Clock = SystemClock): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", partitionsFor(size).toString)
    taskHistoryPath.foreach { p =>
      val now = clock.now()
      Artifacts.append(Metrics.taskHistoryRow(spark,
        s"alter_warehouse_size_$size", "SUCCEEDED", now, now, 0L), p)
    }
  }

  /** TRUNCATE IF EXISTS: keep the table's schema, drop every row. A
    * no-op when the table does not exist or holds no data file (the
    * `if exists` branch; `Artifacts.readIfPresent`'s rule).
    * Implemented as an overwrite with an empty plan of the same schema.
    * Single-writer semantics: same-path overwrite deletes the old files
    * before committing new ones, so a CONCURRENT reader holding the old
    * file list can fail mid-scan — the parquet commit protocol does not
    * make in-place overwrite reader-atomic. (Reader-atomic truncate needs
    * write-to-new-dir + pointer swap, i.e. a table format's metadata
    * indirection; the pipeline runs truncate only at setup,
    * dp_demo.sql:16-19, where no readers exist.)
    */
  def truncate(spark: SparkSession, path: String): Unit =
    Artifacts.readIfPresent(spark, path).foreach { table =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], table.schema)
        .write.mode("overwrite").parquet(path)
    }
}
