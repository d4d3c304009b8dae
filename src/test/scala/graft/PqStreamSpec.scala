package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PqIndex
import graft.streaming.PqStream

/** Streaming PQ-encoding parity: vectors streamed against frozen
  * codebooks — one micro-batch or chopped — must produce exactly the
  * codes the batch encoder produces, and crash replay must be
  * invisible (the ClusterStreamSpec contract at the compression
  * family).
  */
class PqStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    .select("vec_id", "embedding")

  private lazy val books = PqIndex.fit(emb, m = 4, k = 4, iters = 2)

  private lazy val rows: Seq[(Long, Array[Float])] =
    emb.collect().toSeq.sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def results(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("vec_id", "c0", "c1", "c2", "c3", "err2").collect()
      .map(_.toString).toSet

  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def run(files: Seq[Seq[(Long, Array[Float])]], onePer: Boolean) = {
    val srcDir = Files.createTempDirectory("graft_pqs_src").toString
    val base = Files.createTempDirectory("graft_pqs").toString
    files.zipWithIndex.foreach { case (rs, i) =>
      rs.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src0 = spark.readStream.schema(schema)
    val src = (if (onePer) src0.option("maxFilesPerTrigger", "1") else src0)
      .option("latestFirst", "false").parquet(s"$srcDir/*")
    val q = PqStream.encode(src, books, s"$base/out", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (base, results(spark.read.parquet(s"$base/out")))
  }

  test("streamed encoding equals batch encoding under any chopping") {
    val expected = results(PqIndex.encode(emb, books))
    assert(expected.size === rows.size)
    assert(run(Seq(rows), onePer = false)._2 === expected,
      "single-batch stream diverged from batch encoding")
    assert(run(Seq(rows.take(100), rows.slice(100, 350), rows.drop(350)),
      onePer = true)._2 === expected,
      "chopped stream diverged from batch encoding")
    // at-least-once delivery within a batch: duplicates collapse
    assert(run(Seq(rows ++ rows.take(7)), onePer = false)._2 === expected,
      "duplicated vectors leaked extra rows")
  }

  test("crash replay overwrites its own batch partition") {
    val (base, first) = run(Seq(rows.take(50)), onePer = false)
    // simulate replay of batch 0: re-run the same foreachBatch body
    BatchSink.writeBatch(
      PqIndex.encode(rows.take(50).toDF("vec_id", "embedding"), books),
      s"$base/out", 0L)
    assert(results(spark.read.parquet(s"$base/out")) === first,
      "replayed batch must overwrite its own partition, not append")
  }

  test("the streamed codes ARE the served tier: ADC over them matches ad-hoc search") {
    val (base, _) = run(Seq(rows), onePer = false)
    val streamedCodes = spark.read.parquet(s"$base/out").drop("_batch_id")
    val queries = graft.operators.KMeans.quantized(emb)
      .filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("qv"))
    val viaStream = PqIndex.adcTopK(streamedCodes, queries, books, k = 5)
      .collect().map(_.toString).toSeq
    val adHoc = PqIndex.adcTopK(PqIndex.encode(emb, books), queries, books, k = 5)
      .collect().map(_.toString).toSeq
    assert(viaStream === adHoc)
  }
}
