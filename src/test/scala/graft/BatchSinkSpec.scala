package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `BatchSink`'s replay contract on small local frames, with no
  * streaming query: a replayed batch replaces exactly its own
  * partitions, and nothing else under the sink changes.
  */
class BatchSinkSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("graft_sink").resolve("out").toString

  /** Every data file under `dir/sub`: relative path → its bytes. */
  private def files(dir: String, sub: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir, sub)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  private def rows(dir: String, cols: String*): Seq[String] =
    spark.read.parquet(dir).select(cols.map(col): _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  test("writing batch 0 twice leaves one copy") {
    val dir = newDir()
    val df = Seq(1L, 2L, 3L).toDF("x")
    BatchSink.writeBatch(df, dir, 0L)
    BatchSink.writeBatch(df, dir, 0L)
    assert(rows(dir, "_batch_id", "x") === Seq("0|1", "0|2", "0|3"))
  }

  test("batch 1 adds a partition and leaves batch 0 byte-identical") {
    val dir = newDir()
    BatchSink.writeBatch(Seq(1L, 2L).toDF("x"), dir, 0L)
    val batch0 = files(dir, "_batch_id=0")
    assert(batch0.nonEmpty)
    BatchSink.writeBatch(Seq(3L).toDF("x"), dir, 1L)
    assert(files(dir, "_batch_id=0") === batch0)
    assert(rows(dir, "_batch_id", "x") === Seq("0|1", "0|2", "1|3"))
  }

  test("replaying (g=a, batch 0) leaves (g=b, batch 0) untouched") {
    val dir = newDir()
    BatchSink.writeBatch(Seq(("a", 1L), ("b", 2L)).toDF("g", "x"), dir, 0L, "g")
    val b0 = files(dir, "g=b")
    BatchSink.writeBatch(Seq(("a", 10L)).toDF("g", "x"), dir, 0L, "g")
    assert(files(dir, "g=b") === b0)
    assert(rows(dir, "g", "_batch_id", "x") === Seq("a|0|10", "b|0|2"))
  }

  // Dynamic partition overwrite replaces only partitions the frame has
  // rows for, so emptying a partition takes an explicit delete — the
  // reason EventStream.dedupStreamMinBy and compactSink remove a
  // `_bucket` dir whose rows all expired.
  test("overwritePartitions with an empty frame deletes nothing") {
    val dir = newDir()
    BatchSink.overwritePartitions(
      Seq((0, 1L), (1, 2L)).toDF("_bucket", "x"), dir, "_bucket")
    val before = files(dir, "")
    BatchSink.overwritePartitions(
      Seq.empty[(Int, Long)].toDF("_bucket", "x"), dir, "_bucket")
    assert(files(dir, "") === before)
    assert(rows(dir, "_bucket", "x") === Seq("0|1", "1|2"))
  }
}
