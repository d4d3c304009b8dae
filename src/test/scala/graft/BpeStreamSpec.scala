package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BpeTrainer
import graft.streaming.BpeStream

/** Streaming BPE-pricing parity: documents streamed against a frozen
  * merge list must carry exactly the token counts the batch apply
  * computes, the apply face must agree arithmetically with the
  * trainer's own final state, and crash replay must be invisible.
  */
class BpeStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val pat = graft.queries.TextQueries.BpePat
  private val K = 8

  private lazy val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    .select("doc_id", "text")

  private lazy val pieces = docs
    .select(explode(expr(s"regexp_extract_all(text, '$pat', 0)")).as("piece"))
    .groupBy("piece").agg(count(lit(1)).as("wf"))

  private lazy val merges = BpeTrainer.mergeList(pieces, K)

  test("one provable merge: 'aaaa'/'aaab' price as 2 and 3 tokens") {
    val tiny = Seq((0L, "aaaa"), (1L, "aaab")).toDF("doc_id", "text")
    val tinyPieces = tiny
      .select(explode(expr(s"regexp_extract_all(text, '$pat', 0)")).as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("wf"))
    // the only pair with count > 1 is (a, a); one merge must pick it,
    // and left-to-right non-overlapping replacement gives aa|aa and
    // aa|a|b
    val m1 = BpeTrainer.mergeList(tinyPieces, 1)
    assert(m1 === Seq(("a", "a")))
    val got = BpeTrainer.docTokenCounts(tiny, m1, pat)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0L, 1L, 2L), (1L, 1L, 3L)))
  }

  test("the apply face agrees with the trainer's state on the whole corpus") {
    // Σ per-doc n_tokens via the FROZEN merge fold must equal
    // Σ wf · n_tokens via the trainer's final state — the identity that
    // makes serving-time pricing trustworthy without the trainer
    val viaDocs = BpeTrainer.docTokenCounts(docs, merges, pat)
      .agg(sum("n_tokens")).first().getLong(0)
    val viaState = BpeTrainer.tokenLengths(pieces, K)
      .join(pieces, Seq("piece"))
      .agg(sum(col("wf") * col("n_tokens"))).first().getLong(0)
    assert(viaDocs === viaState)
  }

  test("streamed pricing equals batch pricing under chopping, and replay is invisible") {
    val rows = docs.collect().toSeq.sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1)))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def run(files: Seq[Seq[(Long, String)]], onePer: Boolean) = {
      val srcDir = Files.createTempDirectory("graft_bpes_src").toString
      val base = Files.createTempDirectory("graft_bpes").toString
      files.zipWithIndex.foreach { case (rs, i) =>
        rs.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(s"$srcDir/f$i")
        new java.io.File(s"$srcDir/f$i").listFiles()
          .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      }
      val src0 = spark.readStream.schema(schema)
      val src = (if (onePer) src0.option("maxFilesPerTrigger", "1") else src0)
        .option("latestFirst", "false").parquet(s"$srcDir/*")
      val q = BpeStream.tokenCounts(src, merges, pat, s"$base/out", s"$base/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (base, spark.read.parquet(s"$base/out")
        .select("doc_id", "n_pieces", "n_tokens")
        .collect().map(_.toString).toSet)
    }
    val expected = BpeTrainer.docTokenCounts(docs, merges, pat)
      .collect().map(_.toString).toSet
    assert(run(Seq(rows), onePer = false)._2 === expected)
    assert(run(Seq(rows.take(40), rows.slice(40, 110), rows.drop(110)),
      onePer = true)._2 === expected)
    // replay: re-run batch 0's body over the same out dir
    val (base, first) = run(Seq(rows.take(30)), onePer = false)
    BatchSink.writeBatch(
      BpeTrainer.docTokenCounts(rows.take(30).toDF("doc_id", "text"), merges, pat),
      s"$base/out", 0L)
    assert(spark.read.parquet(s"$base/out")
      .select("doc_id", "n_pieces", "n_tokens")
      .collect().map(_.toString).toSet === first)
  }

  test("byte-level stream over the SAVED t32-shape artifact prices with batch bit-parity") {
    // the full shipped-tokenizer lifecycle at the byte alphabet:
    // train byte-level → saveMerges → loadMerges → stream CHOPPED
    // against the loaded artifact — per-doc counts must equal the
    // batch pricing under the trainer-held list, bit for bit
    val byteMerges = BpeTrainer.mergeList(pieces, K, byteLevel = true)
    val artDir = Files.createTempDirectory("graft_bpes_art").toString + "/m"
    BpeTrainer.saveMerges(
      BpeTrainer.trainMerges(pieces, K, byteLevel = true), artDir)
    val loaded = BpeTrainer.loadMerges(spark, artDir)
    assert(loaded === byteMerges, "artifact round-trip changed the merges")

    val rows = docs.collect().toSeq.sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1)))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val srcDir = Files.createTempDirectory("graft_bpes_b_src").toString
    val base = Files.createTempDirectory("graft_bpes_b").toString
    Seq(rows.take(60), rows.slice(60, 150), rows.drop(150)).zipWithIndex
      .foreach { case (rs, i) =>
        rs.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(s"$srcDir/f$i")
        new java.io.File(s"$srcDir/f$i").listFiles()
          .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      }
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = BpeStream.tokenCounts(src, loaded, pat, s"$base/out",
        s"$base/ck", byteLevel = true)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id", "n_pieces", "n_tokens")
      .collect().map(_.toString).toSet
    val batch = BpeTrainer.docTokenCounts(docs, byteMerges, pat,
        byteLevel = true)
      .collect().map(_.toString).toSet
    assert(streamed === batch, "byte-level stream diverged from batch pricing")
    // sanity that the byte alphabet is actually in force: byte counts
    // differ from the char-level pricing somewhere on this corpus, or
    // at minimum the merge symbols are hex pairs
    assert(byteMerges.forall { case (a, b) =>
      (a + b).matches("[0-9A-F]+") }, "merges are not byte-level symbols")
  }

  test("streamed token-ID sequences equal the batch face per doc, bit for bit, from loaded artifacts") {
    // the continuous-tokenization tier end to end: train → save BOTH
    // artifacts (merge table + induced vocabulary) → load from disk →
    // stream CHOPPED → per-doc integer id sequences must equal
    // BpeTrainer.docTokenIds' batch output exactly
    val byteMerges = BpeTrainer.mergeList(pieces, K, byteLevel = true)
    val art = Files.createTempDirectory("graft_bpes_ids_art").toString
    BpeTrainer.saveMerges(
      BpeTrainer.trainMerges(pieces, K, byteLevel = true), s"$art/m")
    BpeTrainer.saveVocab(spark, byteMerges, s"$art/v")
    val loadedM = BpeTrainer.loadMerges(spark, s"$art/m")
    val loadedV = BpeTrainer.loadVocab(spark, s"$art/v")
    assert(loadedV === BpeTrainer.byteVocab(loadedM),
      "shipped vocab diverged from the one its merges induce")

    val rows = docs.collect().toSeq.sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1)))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val srcDir = Files.createTempDirectory("graft_bpes_ids_src").toString
    val base = Files.createTempDirectory("graft_bpes_ids").toString
    Seq(rows.take(55), rows.slice(55, 140), rows.drop(140)).zipWithIndex
      .foreach { case (rs, i) =>
        rs.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(s"$srcDir/f$i")
        new java.io.File(s"$srcDir/f$i").listFiles()
          .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      }
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = BpeStream.tokenIds(src, loadedM, loadedV, pat, s"$base/out",
        s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id", "ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
    val batch = BpeTrainer.docTokenIds(docs, byteMerges, pat)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
    assert(streamed === batch,
      "streamed id sequences diverged from the batch face")
    // the chop really exercised multiple batches
    assert(spark.read.parquet(s"$base/out")
      .select("_batch_id").distinct().count() >= 3L)
    // replay batch 0's body — the kept ids are unchanged
    BatchSink.writeBatch(BpeTrainer.docTokenIdsWith(
        rows.take(55).toDF("doc_id", "text"), loadedM, loadedV, pat),
      s"$base/out", 0L)
    val replayed = spark.read.parquet(s"$base/out")
      .select("doc_id", "ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
    assert(replayed === batch, "replaying batch 0 changed the stored ids")
  }
}
