package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches
import graft.streaming.SketchStream

/** The streaming HLL's two load-bearing claims: (1) the final
  * registers equal the batch computation under ANY chopping of the
  * stream, including replayed (duplicated) input — per-bucket max is
  * idempotent; (2) the streamed registers price to the identical
  * estimate as the batch t10 path on the same corpus.
  */
class SketchStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def registersOf(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("streamed registers equal batch under chopping and replayed input") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200).cache()
    val expected = registersOf(SketchStream.registerQuery(docs))
    assert(expected.nonEmpty)

    val rows = docs.as[(Long, String)].collect().toSeq
    // three waves plus wave 0 WRITTEN AGAIN (simulated redelivery):
    // max-idempotence must absorb the duplicates
    val waves = Seq(rows.take(70), rows.slice(70, 140), rows.drop(140),
      rows.take(70))
    val srcDir = Files.createTempDirectory("graft_hll_src").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = SketchStream.registerQuery(src)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_regs")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = registersOf(spark.table("hll_regs"))
    assert(streamed === expected,
      "streamed registers diverge from the batch fold")
  }

  test("streamed count-min: merged partials equal batch counters; replay overwrites, never double-counts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200).cache()
    val batchCounters = Sketches.cmCounters(
        docs.select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= ""))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

    val rows = docs.as[(Long, String)].collect().toSeq
    val waves = Seq(rows.take(70), rows.slice(70, 140), rows.drop(140))
    val srcDir = Files.createTempDirectory("graft_cm_src").toString
    val base = Files.createTempDirectory("graft_cm").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = SketchStream.counterStream(src, s"$base/out", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def merged() = SketchStream.mergedCounters(spark, s"$base/out")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged() === batchCounters,
      "merged streamed partials diverge from the batch sketch")
    // crash replay: re-write batch 0's partial (dynamic overwrite of
    // its own partition) — the merge must be unchanged, not doubled
    BatchSink.writeBatch(Sketches.cmCounters(
        waves.head.toDF("doc_id", "text")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")),
      s"$base/out", 0L)
    assert(merged() === batchCounters, "replayed partial double-counted")
    // one-sidedness survives the merge: estimate >= true count
    val trueCnt = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.cmEstimate(
        SketchStream.mergedCounters(spark, s"$base/out"),
        trueCnt.keySet.toSeq.toDF("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(trueCnt.forall { case (t, c) => est(t) >= c },
      "count-min one-sided guarantee violated after merge")
  }

  test("compactSketch folds committed partials; replay, crash leftovers, and re-runs stay exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200).cache()
    val batchCounters = Sketches.cmCounters(
        docs.select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= ""))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = docs.as[(Long, String)].collect().toSeq
    val waves = Seq(rows.take(70), rows.slice(70, 140), rows.drop(140))
    val srcDir = Files.createTempDirectory("graft_cmc_src").toString
    val base = Files.createTempDirectory("graft_cmc").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = SketchStream.counterStream(src, s"$base/out", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def merged() = SketchStream.mergedCounters(spark, s"$base/out")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def partsOnDisk() = new java.io.File(s"$base/out").listFiles()
      .filter(_.getName.startsWith("_batch_id=")).map(_.getName).toSet

    // fold: batches 0 and 1 are committed history; 2 (the newest) must
    // stay live — it is the only batch a crash could still replay
    val folded = graft.operators.Compaction.compactSketch(spark, s"$base/out")
    assert(folded === Seq(0L, 1L))
    assert(partsOnDisk() === Set("_batch_id=-1", "_batch_id=2"))
    assert(merged() === batchCounters, "compacted+live diverges from batch sketch")

    // crash replay of the un-folded newest batch: dynamic overwrite of
    // its own partition — merge unchanged, never doubled
    BatchSink.writeBatch(Sketches.cmCounters(
        waves(2).toDF("doc_id", "text")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")),
      s"$base/out", 2L)
    assert(merged() === batchCounters, "replayed live partial double-counted")

    // crash window: an ABSORBED partial resurrected on disk (base write
    // committed, delete did not) — the base's marker rows keep it
    // invisible to readers, and a re-run only retries the delete
    Sketches.cmCounters(
        waves.head.toDF("doc_id", "text")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= ""))
      .withColumn("_batch_id", lit(0L))
      .write.mode("append").partitionBy("_batch_id").parquet(s"$base/out")
    assert(partsOnDisk().contains("_batch_id=0"))
    assert(merged() === batchCounters, "marker exclusion failed: leftover counted")
    val refold = graft.operators.Compaction.compactSketch(spark, s"$base/out")
    assert(refold.isEmpty, "re-run re-folded an absorbed id")
    assert(partsOnDisk() === Set("_batch_id=-1", "_batch_id=2"),
      "re-run did not retry the leftover delete")
    assert(merged() === batchCounters)

    // the estimates the sketch exists for survive the whole lifecycle
    val trueCnt = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.cmEstimate(
        SketchStream.mergedCounters(spark, s"$base/out"),
        trueCnt.keySet.toSeq.toDF("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(trueCnt.forall { case (t, c) => est(t) >= c },
      "one-sided guarantee violated after compaction")
  }

  test("mergedCounters on a not-yet-written output dir is the empty sketch, not a crash") {
    val dir = Files.createTempDirectory("graft_cm_empty").toString
    val m = SketchStream.mergedCounters(spark, dir)
    assert(m.count() === 0L)
    assert(m.columns.toSeq === Seq("r", "idx", "c"))
  }

  test("Sketches.cmCounters reproduces t11's inline estimates (anti-drift pin)") {
    val sf = "/root/testdata/sf0.001"
    val t11 = SparkEntry.queries("t11_heavy_hitters")(spark, sf)
      .select("tok", "cm_estimate").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val occ = Tables.load(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    val viaOps = Sketches.cmEstimate(Sketches.cmCounters(occ),
        t11.keySet.toSeq.toDF("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaOps === t11)
  }

  test("streamed registers price to the batch t10 estimate") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // registerQuery skips the distinct pass t10's scaffolding takes;
    // identical registers either way is the no-distinct-needed claim
    val viaStream = Sketches.estimate(
      Sketches.registerTable(SketchStream.registerQuery(docs))).collect().head
    val t10 = SparkEntry.queries("t10_distinct_sketch")(
      spark, "/root/testdata/sf0.001").collect().head
    assert(viaStream.getDouble(1) === t10.getDouble(1), "sum_inv differs")
    assert(viaStream.getDouble(3) === t10.getDouble(3), "estimate differs")
  }

  test("streamed histogram: merged partials equal batch; quantiles match t14; compaction folds it too") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200).cache()
    val vals = docs.selectExpr("CAST(size(split(text, ' ')) AS BIGINT) AS v")
    val batchHist = Sketches.logHistogram(vals)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    val rows = docs.as[(Long, String)].collect().toSeq
    val waves = Seq(rows.take(70), rows.slice(70, 140), rows.drop(140))
    val srcDir = Files.createTempDirectory("graft_hist_src").toString
    val base = Files.createTempDirectory("graft_hist").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = SketchStream.histStream(src, s"$base/out", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def merged() = SketchStream.mergedHistogram(spark, s"$base/out")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(merged() === batchHist,
      "merged streamed histogram diverges from the batch sketch")
    // quantile answers from the streamed state equal the batch path
    val qs = Seq((1, 2), (9, 10), (99, 100))
    def quant(h: org.apache.spark.sql.DataFrame) =
      Sketches.histQuantiles(h, qs).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(quant(SketchStream.mergedHistogram(spark, s"$base/out"))
      === quant(Sketches.logHistogram(vals)))
    // the shared compaction machine folds histogram partials unchanged
    val folded = graft.operators.Compaction.compactSketch(spark, s"$base/out")
    assert(folded.nonEmpty, "expected at least one partial folded")
    assert(merged() === batchHist, "compaction changed the histogram")
  }

  test("grouped streamed histogram: per-source partials equal batch; per-group compaction applies verbatim") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text").limit(200).cache()
    val batchBy = Sketches.logHistogramBy(
        docs.selectExpr("source AS g",
          "CAST(size(split(text, ' ')) AS BIGINT) AS v"), Seq("g"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

    val rows = docs.as[(Long, String, String)].collect().toSeq
    val waves = Seq(rows.take(70), rows.slice(70, 140), rows.drop(140))
    val srcDir = Files.createTempDirectory("graft_histby_src").toString
    val base = Files.createTempDirectory("graft_histby").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = SketchStream.histStreamBy(src, s"$base/out", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def merged() = SketchStream.mergedHistogramBy(spark, s"$base/out")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(merged() === batchBy,
      "grouped streamed histogram diverges from the batch sketch")
    // grouped quantile answers equal the batch per-source path (t16's)
    val qs = Seq((1, 2), (9, 10))
    def quant(h: org.apache.spark.sql.DataFrame) =
      Sketches.histQuantilesBy(h, Seq("g"), qs).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2)) -> r.getInt(4)).toMap
    assert(quant(SketchStream.mergedHistogramBy(spark, s"$base/out")
        .select(col("g"), col("bucket"), col("cnt")))
      === quant(Sketches.logHistogramBy(
        docs.selectExpr("source AS g",
          "CAST(size(split(text, ' ')) AS BIGINT) AS v"), Seq("g"))))
    // each group subtree is a plain sketch store: compaction per group
    val g0 = merged().keys.map(_._1).head
    val folded = graft.operators.Compaction.compactSketch(spark, s"$base/out/g=$g0")
    assert(folded.nonEmpty, "expected the group's partials folded")
    assert(merged() === batchBy, "per-group compaction changed the histogram")
  }

  test("streamed per-day engagement registers equal batch under chopping and replayed input") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"))
    val batchRegs = SketchStream.engagementRegisterStream(ev)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val srcDir = Files.createTempDirectory("graft_eng_src").toString
    // three waves WITH OVERLAP (wave 0 re-delivered) — idempotent max
    // must absorb the replay
    Seq(ev.filter(pmod(col("event_id"), lit(3)) === 0),
        ev.filter(pmod(col("event_id"), lit(3)) === 1),
        ev.filter(pmod(col("event_id"), lit(3)) === 0),
        ev.filter(pmod(col("event_id"), lit(3)) === 2))
      .zipWithIndex.foreach { case (w, i) =>
        w.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/f$i")
        new java.io.File(s"$srcDir/f$i").listFiles()
          .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      }
    val evSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", LongType)))
    val src = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = SketchStream.engagementRegisterStream(src)
      .writeStream.format("memory").queryName("eng_regs")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("eng_regs").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(streamed === batchRegs)
    assert(streamed.nonEmpty)
    // the priced estimates stay within the error envelope of true DAU:
    // tiny per-day cardinalities sit in HLL's SMALL-RANGE regime, where
    // the correct estimator is linear counting over the exposed
    // empty_registers (the engine deliberately ships raw components —
    // ln() is not bit-portable — so the ln happens HERE, spec-side)
    val est = Sketches.estimateBy(
        Sketches.registerTableBy(
          SketchStream.engagementRegisterStream(ev), Seq("g")), Seq("g"))
      .collect().map { r =>
        val m = r.getAs[Int]("m").toDouble
        val empty = r.getAs[Long]("empty_registers").toDouble
        val lc = if (empty > 0) m * math.log(m / empty)
          else r.getAs[Double]("hll_estimate")
        r.getAs[String]("g") -> lc
      }.toMap
    val truth = ev.select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("g"), col("user_id")).distinct()
      .groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (g, t) =>
      assert(math.abs(est(g) - t) / t < 0.25, s"day $g est=${est(g)} true=$t")
    }
  }

  test("as-of reads replay every historical prefix exactly; compaction makes them refuse") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(200).cache()
    val rows = docs.as[(Long, String)].collect().toSeq
    val waves = Seq(rows.take(70), rows.slice(70, 140), rows.drop(140))
    val srcDir = Files.createTempDirectory("graft_asof_src").toString
    val base = Files.createTempDirectory("graft_asof").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = SketchStream.counterStream(src, s"$base/out", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def cm(ws: Seq[Seq[(Long, String)]]): Map[(Int, Long), Long] =
      Sketches.cmCounters(
          ws.flatten.toDF("doc_id", "text")
            .select(explode(split(col("text"), " ")).as("tok"))
            .filter(col("tok") =!= ""))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def asOf(k: Long): Map[(Int, Long), Long] =
      SketchStream.countersAsOf(spark, s"$base/out", k)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // each prefix of the stream is a first-class readable state
    assert(asOf(0) === cm(waves.take(1)))
    assert(asOf(1) === cm(waves.take(2)))
    assert(asOf(2) === cm(waves))
    // compaction collapses history by design: as-of must refuse, not
    // return a silently wrong prefix
    assert(graft.operators.Compaction.compactSketch(spark, s"$base/out").nonEmpty)
    intercept[IllegalStateException] {
      SketchStream.countersAsOf(spark, s"$base/out", 1)
    }
  }
}
