package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `Artifacts`' on-disk protocol on small local frames, with no
  * streaming query: the stage-then-swap publish, the recovery of a
  * crashed swap, the `seq` log and the presence rule.
  */
class ArtifactsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("graft_artifacts").resolve("a").toString

  private def exists(path: String): Boolean = new File(path).exists()

  private def xs(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("x").as[Long].collect().toSeq.sorted

  private def publishXs(dir: String, rows: Long*): Unit =
    Artifacts.publish(spark, dir)(rows.toDF("x").write.parquet(_))

  private def seqs(dir: String): Seq[(Long, String)] =
    Artifacts.readIfPresent(spark, dir).get.select("seq", "v")
      .as[(Long, String)].collect().toSeq.sorted

  test("publish onto an absent and onto an existing dir leaves no .staging or .retired") {
    val dir = newDir()
    publishXs(dir, 1L, 2L)
    assert(xs(dir) === Seq(1L, 2L))
    publishXs(dir, 3L)
    assert(xs(dir) === Seq(3L))
    assert(!exists(dir + ".staging") && !exists(dir + ".retired"))
  }

  test("a stranded .retired with live missing is restored") {
    val dir = newDir()
    publishXs(dir, 7L)
    assert(new File(dir).renameTo(new File(dir + ".retired")))
    Artifacts.recoverRetired(spark, dir)
    assert(xs(dir) === Seq(7L))
    assert(!exists(dir + ".retired"))
  }

  test("recoverRetired on a healthy dir changes nothing") {
    val dir = newDir()
    publishXs(dir, 5L)
    val before = new File(dir).list().toSet
    Artifacts.recoverRetired(spark, dir)
    assert(new File(dir).list().toSet === before)
    assert(xs(dir) === Seq(5L))
    assert(!exists(dir + ".retired"))
  }

  test("appendToLog numbers rows 1, then 2, and restarts at 1 after remove") {
    val log = newDir()
    Artifacts.appendToLog(Seq("a").toDF("v"), log)
    Artifacts.appendToLog(Seq("b").toDF("v"), log)
    assert(seqs(log) === Seq((1L, "a"), (2L, "b")))
    assert(spark.read.parquet(log).columns.toSeq === Seq("seq", "v"))
    Artifacts.remove(spark, log)
    assert(Artifacts.readIfPresent(spark, log).isEmpty)
    Artifacts.appendToLog(Seq("c").toDF("v"), log)
    assert(seqs(log) === Seq((1L, "c")))
  }

  test("a log dir holding only _temporary/ reads as None and appends from seq 1") {
    val log = newDir()
    // what a first write that crashed mid-task leaves behind: a task
    // attempt's file under _temporary, which Spark's reader skips
    Seq("x").toDF("v").write.parquet(s"$log/_temporary/0/_temporary/attempt_0")
    assert(Artifacts.readIfPresent(spark, log).isEmpty)
    Artifacts.appendToLog(Seq("a").toDF("v"), log)
    assert(seqs(log) === Seq((1L, "a")))
  }

  // a job that died after committing a task but before committing
  // itself: the v1 committer's committed-task dir under _temporary/0
  private def plantCommittedTask(dir: String, rows: org.apache.spark.sql.DataFrame,
      partitionCols: String*): Unit =
    rows.write.partitionBy(partitionCols: _*)
      .parquet(s"$dir/_temporary/0/task_202601010000_0001_m_000000")

  test("a crashed append's committed task output is not published by the next append") {
    val log = newDir()
    Artifacts.appendToLog(Seq("a").toDF("v"), log)
    plantCommittedTask(log, Seq((9L, "orphan")).toDF("seq", "v"))
    Artifacts.appendToLog(Seq("b").toDF("v"), log)
    assert(seqs(log) === Seq((1L, "a"), (2L, "b")))
    // the same for a partitioned append
    val idx = newDir()
    Artifacts.append(Seq((1L, 0)).toDF("x", "b"), idx, "b")
    plantCommittedTask(idx, Seq((9L, 0), (9L, 1)).toDF("x", "b"), "b")
    Artifacts.append(Seq((2L, 1)).toDF("x", "b"), idx, "b")
    assert(spark.read.parquet(idx).select("x", "b").as[(Long, Int)]
      .collect().toSeq.sorted === Seq((1L, 0), (2L, 1)))
  }

  private def buckets(values: Int*) = values.toDF("b")

  test("readTouched over an empty touched set does not read the store") {
    var read = false
    val got = Artifacts.readTouched({ read = true; None }, "b", buckets())
    assert(got.isEmpty && !read)
  }

  test("readTouched over an absent store or one holding only _temporary/ is None") {
    val dir = newDir()
    assert(Artifacts.readTouched(Artifacts.readIfPresent(spark, dir), "b",
      buckets(1)).isEmpty)
    plantCommittedTask(dir, Seq((9L, 1)).toDF("x", "b"), "b")
    assert(Artifacts.readTouched(Artifacts.readIfPresent(spark, dir), "b",
      buckets(1)).isEmpty)
  }

  test("readTouched returns only the touched buckets' rows and never scans an untouched bucket") {
    val dir = newDir()
    Artifacts.append(Seq((10L, 1), (11L, 1), (20L, 2), (30L, 3)).toDF("x", "b"),
      dir, "b")
    // corrupt bucket 3's only data file: a scan of it would throw
    new File(s"$dir/b=3").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.write(f.toPath, "not parquet".getBytes))
    intercept[Exception](spark.read.parquet(dir).collect())
    val got = Artifacts.readTouched(Artifacts.readIfPresent(spark, dir), "b",
      buckets(1, 2, 2, 1)).get
    assert(got.select("x", "b").as[(Long, Int)].collect().toSeq.sorted ===
      Seq((10L, 1), (11L, 1), (20L, 2)))
  }

  test("a log holding only a zero-row file appends from seq 1") {
    val log = newDir()
    Seq.empty[(Long, String)].toDF("seq", "v").write.parquet(log)
    Artifacts.appendToLog(Seq("a").toDF("v"), log)
    assert(seqs(log) === Seq((1L, "a")))
  }

  test("a _seq=-partitioned log reads as present") {
    val log = newDir()
    BatchSink.overwritePartitions(
      Seq((3L, "a")).toDF("seq", "v").withColumn("_seq", col("seq")), log, "_seq")
    // the data sits only under `_seq=3/`, a name a flat `_`-prefix
    // filter would skip
    assert(new File(log).list().toSeq.filterNot(_.startsWith(".")).forall(_.startsWith("_")))
    assert(seqs(log) === Seq((3L, "a")))
  }
}
