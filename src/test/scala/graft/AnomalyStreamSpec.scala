package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.AnomalyStream

/** Streaming anomaly detection (AnomalyStream) — the e11 twin on the
  * shared partial-partition machine: chopping-invariant, replay-safe,
  * and bit-identical to the batch entry over the delivered events.
  */
class AnomalyStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private val evSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType)))

  test("streamed daily counts fold to e11's exact flags; replay never double-counts") {
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"))
    val srcDir = Files.createTempDirectory("graft_anom_src").toString
    val base = Files.createTempDirectory("graft_anom").toString
    (0 until 3).foreach { i =>
      ev.filter(pmod(col("event_id"), lit(3)) === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = AnomalyStream.dailyCountStream(src, s"$base/out", s"$base/ck")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "day", "c", "dev2", "thr", "is_anomaly")
      .collect()
      .map(r => (r.getString(0), r.getAs[java.time.LocalDateTime](1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5))).toSet

    val streamed = rows(AnomalyStream.flags(spark, s"$base/out"))
    val batch = rows(SparkEntry.queries("e11_count_anomalies")(spark, sf))
    assert(streamed === batch)
    assert(streamed.nonEmpty)

    // crash replay of wave 0's partial: dynamic overwrite of its own
    // partitions — the fold must be unchanged, not doubled
    val daily = ev.filter(pmod(col("event_id"), lit(3)) === 0)
      .groupBy(col("event_type").as("g"),
        expr("CAST(datediff(date_trunc('day', ts), DATE '1970-01-01') AS BIGINT)")
          .as("idx"))
      .agg(count(lit(1)).as("c"))
      .select(col("g"), lit(0).as("r"), col("idx"), col("c"))
    BatchSink.writeBatch(daily, s"$base/out", 0L, "g")
    assert(rows(AnomalyStream.flags(spark, s"$base/out")) === batch,
      "replayed partial double-counted")
  }

  test("flags on a not-yet-written store is the empty report, not a crash") {
    val empty = Files.createTempDirectory("graft_anom_empty").toString + "/out"
    assert(AnomalyStream.flags(spark, empty).count() === 0)
  }

  test("streamed leaderboard equals e13's batch top spenders; replay never double-counts") {
    import graft.streaming.LeaderboardStream
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"))
    val srcDir = Files.createTempDirectory("graft_lead_src").toString
    val base = Files.createTempDirectory("graft_lead").toString
    (0 until 3).foreach { i =>
      ev.filter(pmod(col("event_id"), lit(3)) === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    val src = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = LeaderboardStream.spendStream(src, s"$base/out", s"$base/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("day"), r.getAs[Int]("rnk"),
        r.getAs[Long]("user_id"), r.getAs[Double]("sum_value"),
        r.getAs[Long]("n_events"))).toSet
    val streamed = rows(LeaderboardStream.topSpenders(spark, s"$base/out"))
    val batch = rows(SparkEntry.queries("e13_daily_top_users")(spark, sf)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("rnk"), col("user_id"), col("sum_value"), col("n_events")))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // replay wave 0's partial: the leaderboard must not move
    val agg = ev.filter(pmod(col("event_id"), lit(3)) === 0)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("g"),
        col("user_id").as("idx"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
        count(lit(1)).as("n"))
    BatchSink.writeBatch(
      agg.select(col("g"), lit(0).as("r"), col("idx"), col("cents").as("c"))
        .unionByName(agg.select(col("g"), lit(1).as("r"), col("idx"),
          col("n").as("c"))),
      s"$base/out", 0L, "g")
    assert(rows(LeaderboardStream.topSpenders(spark, s"$base/out")) === batch)
  }
}
