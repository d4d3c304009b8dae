package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KMeans
import graft.streaming.ClusterStream

/** Streaming cluster-routing parity: vectors streamed against a frozen
  * k-means fit — one micro-batch or chopped — must land exactly where
  * the batch assignment puts them, and crash replay must be invisible.
  */
class ClusterStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    .select("vec_id", "embedding")

  private lazy val cents = KMeans.fit(emb, k = 4, iters = 2)

  private lazy val rows: Seq[(Long, Array[Float])] =
    emb.collect().toSeq.sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def results(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
    df.select("vec_id", "cluster", "dist2").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def run(files: Seq[Seq[(Long, Array[Float])]], onePer: Boolean) = {
    val srcDir = Files.createTempDirectory("graft_cs_src").toString
    val base = Files.createTempDirectory("graft_cs").toString
    files.zipWithIndex.foreach { case (rs, i) =>
      rs.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src0 = spark.readStream.schema(schema)
    val src = (if (onePer) src0.option("maxFilesPerTrigger", "1") else src0)
      .option("latestFirst", "false").parquet(s"$srcDir/*")
    val q = ClusterStream.route(src, cents, s"$base/out", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (base, results(spark.read.parquet(s"$base/out")))
  }

  test("streamed routing equals batch assignment under any chopping") {
    val expected = results(KMeans.assign(KMeans.quantized(emb), cents))
    assert(expected.size === rows.size)
    assert(run(Seq(rows), onePer = false)._2 === expected,
      "single-batch stream diverged from batch assignment")
    assert(run(Seq(rows.take(100), rows.slice(100, 350), rows.drop(350)),
      onePer = true)._2 === expected,
      "chopped stream diverged from batch assignment")
    // at-least-once delivery within a batch: duplicates collapse
    assert(run(Seq(rows ++ rows.take(7)), onePer = false)._2 === expected,
      "duplicated vectors leaked extra rows")
  }

  test("a shifted stream flags drift and a rebaseline clears it") {
    // baseline on the fit corpus → routing the SAME corpus sits at
    // ratio ≈ 1 (unflagged); a +5-per-dim shifted slice multiplies the
    // mean assigned dist2 far past the 1.25 threshold (flagged); a
    // refit-on-the-shift rebaseline + restart routes the shifted slice
    // unflagged again — the IvfAppendSpec drift arc at the plain
    // k-means tier
    val monitor = Files.createTempDirectory("graft_cs_mon").toString
    ClusterStream.writeBaseline(emb, cents, monitor)

    def routeOnce(rs: Seq[(Long, Array[Float])], cs: Seq[Array[Long]]): Unit = {
      val srcDir = Files.createTempDirectory("graft_cs_drift_src").toString
      val base = Files.createTempDirectory("graft_cs_drift").toString
      rs.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f0")
      val src = spark.readStream.schema(schema).parquet(s"$srcDir/*")
      val q = ClusterStream.route(src, cs, s"$base/out", s"$base/ck",
          monitorDir = Some(monitor))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    routeOnce(rows, cents)
    val ok = ClusterStream.driftStatus(spark, monitor)
    assert(ok.exists(d => !d.flagged && math.abs(d.ratio - 1.0) < 0.05),
      s"in-distribution batch should sit near ratio 1: $ok")

    val shifted = rows.map { case (id, v) => (id + 100000L, v.map(_ + 5.0f)) }
    routeOnce(shifted, cents)
    val bad = ClusterStream.driftStatus(spark, monitor)
    assert(bad.exists(_.flagged), s"shifted batch must flag: $bad")

    val newCents = ClusterStream.rebaseline(
      shifted.toDF("vec_id", "embedding"), k = 4, iters = 2, monitor)
    assert(ClusterStream.driftStatus(spark, monitor).isEmpty,
      "rebaseline must clear the stale drift log")
    routeOnce(shifted, newCents)
    val cleared = ClusterStream.driftStatus(spark, monitor)
    assert(cleared.exists(d => !d.flagged),
      s"post-rebaseline shifted batch must not flag: $cleared")
  }

  test("a degenerate (zero) baseline cannot mask drift: positive-distance batches flag") {
    // a 1-vector corpus fits perfectly: baseline mean_dist2 = 0; the
    // shifted batch then has d > 0 against a zero denominator — the
    // monitor must flag, not record a green ratio-0 row forever
    val monitor = Files.createTempDirectory("graft_cs_zero").toString
    val one = Seq((1L, Array.fill(64)(1.0f)))
    val oneCents = KMeans.fit(one.toDF("vec_id", "embedding"), k = 1, iters = 1)
    ClusterStream.writeBaseline(one.toDF("vec_id", "embedding"), oneCents, monitor)
    val base = Files.createTempDirectory("graft_cs_zero_out").toString
    val srcDir = Files.createTempDirectory("graft_cs_zero_src").toString
    Seq((2L, Array.fill(64)(9.0f))).toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$srcDir/f0")
    val src = spark.readStream.schema(schema).parquet(s"$srcDir/*")
    val q = ClusterStream.route(src, oneCents, s"$base/out", s"$base/ck",
        monitorDir = Some(monitor))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val d = ClusterStream.driftStatus(spark, monitor)
    assert(d.exists(r => r.flagged && r.meanDist2 > 0.0),
      s"zero-baseline drift must flag: $d")
  }

  test("crash replay overwrites its own batch partition") {
    val (base, first) = run(Seq(rows.take(50)), onePer = false)
    // simulate replay of batch 0: re-run the same foreachBatch body
    BatchSink.writeBatch(
      KMeans.assign(KMeans.quantized(rows.take(50).toDF("vec_id", "embedding")),
        cents),
      s"$base/out", 0L)
    assert(results(spark.read.parquet(s"$base/out")) === first,
      "replaying batch 0 changed the stored rows")
  }
}
