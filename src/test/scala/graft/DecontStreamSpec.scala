package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DecontStream

/** Streaming decontamination: a training-doc stream filtered against a
  * static test-set gram index must reproduce the batch twin's verdicts
  * under any chopping, and catch exactly the planted leaks.
  */
class DecontStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val leak = "alpha bravo charlie delta echo fox golf hotel"
  private val testDocs = Seq(
    (9000L, s"$leak india juliet"),
    (9001L, "kilo lima mike nov oscar papa quebec romeo sierra"))
  // train doc 1 embeds test doc 9000's leading 8-gram; 2 and 3 are clean
  private val trainDocs = Seq(
    (1L, s"intro words $leak closing words here"),
    (2L, "totally unrelated text with nothing shared at all beyond words"),
    (3L, "another clean document of ordinary training content right here"))

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  test("stream verdicts equal the batch twin under any chopping; planted leak caught") {
    val indexDir = Files.createTempDirectory("graft_dc_idx").toString + "/idx"
    DecontStream.buildGramIndex(testDocs.toDF("doc_id", "text"), indexDir)

    val expected = DecontStream
      .decontaminateBatch(trainDocs.toDF("doc_id", "text"), indexDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(expected === Set((1L, 1L, false), (2L, 0L, true), (3L, 0L, true)))

    def run(files: Seq[Seq[(Long, String)]], onePer: Boolean) = {
      val srcDir = Files.createTempDirectory("graft_dc_src").toString
      val base = Files.createTempDirectory("graft_dc").toString
      files.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(s"$srcDir/f$i")
        new java.io.File(s"$srcDir/f$i").listFiles()
          .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      }
      val src0 = spark.readStream.schema(docSchema)
      val src = (if (onePer) src0.option("maxFilesPerTrigger", "1") else src0)
        .option("latestFirst", "false").parquet(s"$srcDir/*")
      val q = DecontStream.decontaminateFilter(src, indexDir,
          s"$base/out", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$base/out")
        .select("doc_id", "n_hits", "clean").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    }
    assert(run(Seq(trainDocs), onePer = false) === expected)
    assert(run(Seq(trainDocs.take(1), trainDocs.drop(1)), onePer = true)
      === expected)
  }

  test("a filter over a missing gram index throws instead of passing every document as clean") {
    val base = Files.createTempDirectory("graft_dc_missing").toString
    val srcDir = s"$base/src"
    trainDocs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$srcDir/f0")
    val q = DecontStream.decontaminateFilter(
        spark.readStream.schema(docSchema).parquet(s"$srcDir/*"),
        s"$base/no_index", s"$base/out", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("no_index")),
      s"the failure must name the missing index: $e")
    assert(!new java.io.File(s"$base/out").exists(),
      "no verdict may be written without the index")
  }
}
