package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-surface operators (SURVEY §2.1 S3/S4/S12): the reference's
  * external stage is a directory of JSON files queryable before load.
  */
object Stage {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)

  /** Whether the stage holds a `.json` file, so a `*.json` glob read
    * has something to match.
    */
  private def hasJsonFiles(spark: SparkSession, stageDir: String): Boolean = {
    val f = fs(spark, stageDir)
    f.exists(new Path(stageDir)) &&
      f.listStatus(new Path(stageDir)).exists(s => s.isFile && s.getPath.getName.endsWith(".json"))
  }

  /** S4 — `list @stage` (dp_setup.sql:25, dp_demo.sql:36): name, size,
    * last_modified. Driver-side listing like Snowflake's; at cloud scale
    * this is one LIST call per prefix, not a data scan.
    */
  def list(spark: SparkSession, stageDir: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, stageDir)
    val rows =
      if (!f.exists(new Path(stageDir))) Seq.empty
      else f.listStatus(new Path(stageDir)).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
        .map(s => (s.getPath.getName, s.getLen, new java.sql.Timestamp(s.getModificationTime)))
    rows.toDF("name", "size", "last_modified").orderBy("name")
  }

  /** S3 — `select $1 from @stage` (dp_demo.sql:122): query files in place,
    * one variant document per line as positional column `$1`. Distributed
    * read: `spark.read.text` scans the files on executors. An empty (or
    * absent) stage yields an empty result, matching `select $1 from
    * @stage` on an empty stage rather than erroring on an unmatched glob.
    */
  def scanDollar1(spark: SparkSession, stageDir: String): DataFrame = {
    import spark.implicits._
    val raw =
      if (hasJsonFiles(spark, stageDir)) spark.read.textFile(s"$stageDir/*.json").toDF("raw")
      else Seq.empty[String].toDF("raw")
    raw.select(try_parse_json(col("raw")).as("$1"))
  }

  /** The stage as ONE relation for verbatim-statement replay
    * (SnowflakeDialect): Snowflake's `@stage` exposes the positional
    * document column AND file metadata on the same table reference
    * (`select $1 ...`, `select ... metadata$filename from @stage`,
    * dp_demo.sql:118-131), so the dialect layer maps a stage reference
    * to a view over this scan. Columns are named literally `$1` and
    * `metadata$filename` (back-quoted in rewritten SQL). Same
    * distributed text scan as `scanDollar1`; the filename rides the
    * file-source `_metadata` column, not a per-row UDF.
    */
  def scanRelation(spark: SparkSession, stageDir: String): DataFrame = {
    import spark.implicits._
    if (hasJsonFiles(spark, stageDir))
      spark.read.textFile(s"$stageDir/*.json")
        .select(try_parse_json(col("value")).as("$1"),
          col("_metadata.file_name").as("metadata$filename"))
    else Seq.empty[String].toDF("raw")
      .select(try_parse_json(col("raw")).as("$1"),
        col("raw").as("metadata$filename"))
  }

  /** S12 — `rm @stage/<name>` (dp_setup.sql:120-122, dp_demo.sql:13,295).
    * Returns true if the file existed and was deleted.
    */
  def rm(spark: SparkSession, stageDir: String, fileName: String): Boolean =
    fs(spark, stageDir).delete(new Path(s"$stageDir/$fileName"), false)
}
