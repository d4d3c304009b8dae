package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Event-time streaming parity: the SAME transforms run (a) as batch
  * plans (oracle-checked via e1/e2) and (b) under a streaming file
  * source with Trigger.AvailableNow — results must agree.
  */
class StreamingSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Stage the events parquet into a temp dir (a streaming source needs
    * a directory it can list).
    */
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft_events").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(dir, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("readEvents tolerates a not-yet-populated source directory (define-then-deliver)") {
    val empty = Files.createTempDirectory("graft_ev_empty").toString
    // must not throw at definition (review r12: the schema probe used
    // to crash on an empty dir); the stream falls back to the current
    // micros layout
    val df = graft.streaming.EventStream.readEvents(spark, empty)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("windowed agg with watermark: streaming result equals the batch plan") {
    val q = EventStream.windowedAgg(EventStream.readEvents(spark, eventsDir))
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("win_agg")
      .select("window_start", "event_type", "n", "sum_value").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = EventStream.windowedAgg(Tables.load(spark, sf, "events"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("flatMapGroupsWithState sessionization equals batch window-function sessions") {
    val q = EventStream
      .sessionize(spark, EventStream.readEvents(spark, eventsDir), gapMinutes = 60)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // parity INCLUDES sum_value: the stateful path accumulates exact
    // DECIMAL(18,2) like the batch plan, so the doubles are bit-identical
    val streamed = spark.table("sessions")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet

    val all = EventStream.sessionizeBatch(Tables.load(spark, sf, "events"), 60)
    // the stateful path emits sessions only once CLOSED; each user's
    // final session is still open when the stream drains.
    val lastPerUser = all.groupBy("user_id")
      .agg(max("session_start").as("session_start"))
    val expected = all.join(lastPerUser,
        Seq("user_id", "session_start"), "left_anti")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty)
  }

  test("streaming SCD2 closed versions equal the e10 batch entry's closed rows") {
    val q = EventStream
      .scd2Stream(spark, EventStream.readEvents(spark, eventsDir))
      .writeStream.format("memory").queryName("scd2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("scd2")
      .select("user_id", "version_idx", "state", "valid_from", "valid_to",
        "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))).toSet
    // the batch entry emits the open tail too (is_current = 1, null
    // valid_to); the stream keeps it in state — compare closed rows
    val expected = SparkEntry.queries("e10_scd2_intervals")(spark, sf)
      .filter(col("is_current") === 0)
      .select(col("user_id"), col("version_idx"), col("state"),
        col("valid_from").cast("timestamp"),
        col("valid_to").cast("timestamp"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))).toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty)
  }

  test("streaming SCD2 carries the open version across delivery waves") {
    import org.apache.spark.sql.SaveMode
    val dir = Files.createTempDirectory("graft_scd2_waves").toString
    val ckpt = Files.createTempDirectory("graft_scd2_ckpt").toString
    val out = Files.createTempDirectory("graft_scd2_out").toString
    val ev = Tables.load(spark, sf, "events")
    val cut = "2024-01-15 00:00:00"
    // the memory sink cannot recover a checkpoint; a parquet sink can —
    // closed versions accumulate in `out` across the two runs
    def run(): Set[(Long, Long, String, java.sql.Timestamp, java.sql.Timestamp, Long)] = {
      val q = EventStream
        .scd2Stream(spark, EventStream.readEvents(spark, dir))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out)
        .select("user_id", "version_idx", "state", "valid_from", "valid_to",
          "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))).toSet
    }
    ev.filter(col("ts") < lit(cut)).coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir)
    val wave1 = run()
    ev.filter(col("ts") >= lit(cut)).coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir)
    val wave2 = run()
    val expected = SparkEntry.queries("e10_scd2_intervals")(spark, sf)
      .filter(col("is_current") === 0)
      .select(col("user_id"), col("version_idx"), col("state"),
        col("valid_from").cast("timestamp"),
        col("valid_to").cast("timestamp"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5))).toSet
    // versions straddling the wave boundary close in wave 2 with the
    // SAME version_idx/n_events the batch plan assigns — state carried
    assert(wave2 === expected)
    assert(wave1.nonEmpty && wave1.subsetOf(wave2) && (wave2 -- wave1).nonEmpty)
  }

  test("streaming funnel emits each stage exactly once, matching the batch min-qualifying times") {
    import org.apache.spark.sql.types._
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"))
    // time-split waves — the funnel's documented in-order delivery
    // contract (cross-batch event-time order)
    val dir = Files.createTempDirectory("graft_funnel_src").toString
    val cut = "2024-01-15 00:00:00"
    Seq(ev.filter(col("ts") < lit(cut)), ev.filter(col("ts") >= lit(cut)))
      .zipWithIndex.foreach { case (w, i) =>
        w.coalesce(1).write.mode("overwrite").parquet(s"$dir/f$i")
        new java.io.File(s"$dir/f$i").listFiles()
          .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      }
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType)))
    val src = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$dir/*")
    val q = EventStream.funnelStream(spark, src)
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("funnel").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2))).toSet

    // batch truth: e8's min-qualifying chain
    def stage(prev: org.apache.spark.sql.DataFrame, tcol: String,
        typ: String, out: String) =
      ev.join(prev, "user_id")
        .filter(col("event_type") === typ && col("ts") > col(tcol) &&
          col("ts") <= col(tcol) + expr("INTERVAL 24 HOURS"))
        .groupBy("user_id").agg(min("ts").as(out))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = stage(s1, "t1", "view", "t2")
    val s3 = stage(s2, "t2", "click", "t3")
    val s4 = stage(s3, "t3", "purchase", "t4")
    val expected =
      s1.collect().map(r => (r.getLong(0), 1, r.getTimestamp(1))).toSet ++
      s2.collect().map(r => (r.getLong(0), 2, r.getTimestamp(1))).toSet ++
      s3.collect().map(r => (r.getLong(0), 3, r.getTimestamp(1))).toSet ++
      s4.collect().map(r => (r.getLong(0), 4, r.getTimestamp(1))).toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty)
    // exactly-once: no (user, stage) appears twice
    val keys = spark.table("funnel").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(keys.length === keys.distinct.length)
  }

  test("native session_window sessionization equals the window-function sessions, boundaries included") {
    import spark.implicits._
    // full-table parity: the engine-native face must reproduce
    // sessionizeBatch (e2's oracle shape) row for row
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val events = Tables.load(spark, sf, "events")
    val native = rows(EventStream.sessionizeNative(events, gapMinutes = 60))
    val batch = rows(EventStream.sessionizeBatch(events, gapMinutes = 60))
    assert(native === batch)
    assert(native.nonEmpty)

    // boundary pin: the twins compare MILLISECOND-truncated timestamps,
    // so the true edges are: merge at exactly gap AND at gap+999µs
    // (sub-ms truncated away), split at gap+1ms — the edges the
    // ms-truncated window key and 1ms gap widening exist for
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def plusMicros(us: Long) = {
      // setNanos replaces the WHOLE sub-second fraction, so compute it
      // from the absolute instant (t0 sits on a whole second)
      val totalUs = t0.getTime * 1000L + us
      val t = new java.sql.Timestamp(totalUs / 1000L)
      t.setNanos(((totalUs % 1000000L) * 1000L).toInt)
      t
    }
    val gapUs = 60L * 60000000L
    val edge = Seq(
      (1L, t0, 1L, 1.0),                                // u1: s1
      (2L, plusMicros(gapUs), 1L, 1.0),                 // u1: exactly gap → s1
      (3L, plusMicros(2 * gapUs + 999L), 1L, 1.0),      // u1: gap+999µs later → s1
      (4L, t0, 2L, 1.0),                                // u2: s1
      (5L, plusMicros(gapUs + 1000L), 2L, 1.0))         // u2: gap+1ms → s2
      .toDF("event_id", "ts", "user_id", "value")
    val nativeEdge = rows(EventStream.sessionizeNative(edge, gapMinutes = 60))
    val batchEdge = rows(EventStream.sessionizeBatch(edge, gapMinutes = 60))
    assert(batchEdge.count(_._1 == 1L) === 1, "u1 must be one merged session")
    assert(batchEdge.count(_._1 == 2L) === 2, "u2 must split at gap+1ms")
    assert(nativeEdge === batchEdge,
      "native boundary semantics diverged from the window-function twin")

    // streaming execution of the native form (complete mode recomputes
    // per trigger — no watermark dependence; the state-store-native
    // session merge is what runs)
    val q = EventStream
      .sessionizeNative(EventStream.readEvents(spark, eventsDir), gapMinutes = 60)
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(rows(spark.table("native_sessions")) === batch,
      "streamed native session_window diverged from batch")
  }

  test("stream-stream interval join emits exactly the batch plan's rows") {
    val ev = EventStream.readEvents(spark, eventsDir)
    val q = EventStream.intervalJoin(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), windowMinutes = 240)
      .writeStream.format("memory").queryName("ivj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def tup(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "view_id", "click_id", "view_ts", "click_ts", "click_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getDouble(5))).toSet
    val streamed = tup(spark.table("ivj"))
    val batchEv = Tables.load(spark, sf, "events")
    val batch = tup(EventStream.intervalJoin(
      batchEv.filter(col("event_type") === "view"),
      batchEv.filter(col("event_type") === "click"), windowMinutes = 240))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("SALTED stream-stream interval join: streaming equals batch on 90%-skewed users") {
    import org.apache.spark.sql.types._
    // the SaltingSpec skew fixture, streamed: user 1 owns 90% of both
    // sides, so the join state for the hot user is keyed over (user,
    // salt) buckets — parity proves salting changed only the physical
    // distribution, in STREAMING execution too (VERDICT r9 #4)
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def mkTs(sec: Int) = new java.sql.Timestamp(base + sec * 1000L)
    import spark.implicits._
    val views = (0 until 600).map { i =>
      val u = if (i < 540) 1L else (i % 20 + 2).toLong
      (i.toLong, u, mkTs(i * 12), 0.0)
    }.toDF("event_id", "user_id", "ts", "value")
    val clicks = (0 until 200).map { i =>
      val u = if (i < 180) 1L else (i % 20 + 2).toLong
      ((10000 + i).toLong, u, mkTs(i * 36 + 30), i.toDouble)
    }.toDF("event_id", "user_id", "ts", "value")

    val viewsDir = Files.createTempDirectory("graft_skew_v").toString
    val clicksDir = Files.createTempDirectory("graft_skew_c").toString
    views.write.mode("overwrite").parquet(viewsDir)
    clicks.write.mode("overwrite").parquet(clicksDir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))

    val q = EventStream.intervalJoinSalted(
        spark.readStream.schema(schema).parquet(viewsDir),
        spark.readStream.schema(schema).parquet(clicksDir),
        windowMinutes = 10, salts = 8)
      .writeStream.format("memory").queryName("ivj_salted")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    def tup(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "view_id", "click_id", "view_ts", "click_ts", "click_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getDouble(5))).toSet
    val streamed = tup(spark.table("ivj_salted"))
    // parity against BOTH batch forms: the salted twin (same function,
    // batch execution) and the unsalted original
    val batchSalted = tup(EventStream.intervalJoinSalted(
      views, clicks, windowMinutes = 10, salts = 8))
    val batchPlain = tup(EventStream.intervalJoin(
      views, clicks, windowMinutes = 10))
    assert(streamed === batchSalted)
    assert(streamed === batchPlain)
    assert(streamed.nonEmpty)
    // the hot user genuinely dominates the joined output (skew is real)
    assert(streamed.count(_._1 == 1L) > streamed.size / 2)

    // HOT-SET form, streamed: the hot set is a static relation fed from
    // outside (the out-of-band deployment shape), salt assignment is a
    // stream-static broadcast join, and only the hot user's state
    // spreads over (user, salt) buckets — same rows out
    val qh = EventStream.intervalJoinSaltedHotSet(
        spark.readStream.schema(schema).parquet(viewsDir),
        spark.readStream.schema(schema).parquet(clicksDir),
        windowMinutes = 10, salts = 8, hotUsers = Seq(1L).toDF("user_id"))
      .writeStream.format("memory").queryName("ivj_salted_hot")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    qh.awaitTermination()
    assert(tup(spark.table("ivj_salted_hot")) === batchPlain)
  }

  test("min-by streaming dedup: surviving VALUES independent of delivery order") {
    import org.apache.spark.sql.streaming.Trigger
    // two conflicting versions of every event: the original file and a
    // variant whose value is shifted — whichever arrives first, the
    // surviving row must be the deterministic min-by row, i.e. exactly
    // the batch twin's output over the union.
    val variantDir = Files.createTempDirectory("graft_ev_variant").toString
    // raw read (ts stays a nanos long) so the variant file has the same
    // physical shape the streaming source expects
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("value", col("value") + 1000.0)
      .write.mode("overwrite").parquet(variantDir)

    def run(first: String, second: String): Set[(Long, java.sql.Timestamp, Long, String, Double, String)] = {
      val srcDir = Files.createTempDirectory("graft_ev_src").toString
      val sink = Files.createTempDirectory("graft_ev_sink").toString + "/out"
      val ckpt = Files.createTempDirectory("graft_ev_ckpt").toString
      def deliver(from: String, name: String): Unit = {
        val f = new java.io.File(from)
        val files = if (f.isDirectory) f.listFiles.filter(_.getName.endsWith(".parquet")).toSeq
          else Seq(f)
        files.zipWithIndex.foreach { case (p, i) =>
          Files.copy(p.toPath, Paths.get(srcDir, s"$name$i.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
        }
        val q = EventStream
          .dedupStreamMinBy(EventStream.readEvents(spark, srcDir), sink, ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      deliver(first, "a")   // run 1: only the first version visible
      deliver(second, "b")  // run 2: the second version arrives later
      spark.read.parquet(sink).collect().map(r => (
        r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Double]("value"), r.getAs[String]("props"))).toSet
    }

    val origFirst = run(s"$sf/events.parquet", variantDir)
    val variantFirst = run(variantDir, s"$sf/events.parquet")
    assert(origFirst === variantFirst, "delivery order changed surviving values")

    val orig = Tables.load(spark, sf, "events")
    val union = orig.unionByName(orig.withColumn("value", col("value") + 1000.0))
    val batchTwin = EventStream.dedupBatch(union)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .collect().map(r => (
        r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        r.getAs[Double]("value"), r.getAs[String]("props"))).toSet
    assert(origFirst === batchTwin, "stream sink != batch twin full rows")
    assert(origFirst.nonEmpty)
  }

  test("bucketed min-by sink: a later micro-batch leaves untouched buckets' files unmodified") {
    val nBuckets = 8
    val srcDir = Files.createTempDirectory("graft_ev_bsrc").toString
    val sink = Files.createTempDirectory("graft_ev_bsink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_ev_bckpt").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def runOnce(): Unit = {
      val q = EventStream.dedupStreamMinBy(
        EventStream.readEvents(spark, srcDir), sink, ckpt, nBuckets = nBuckets)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // batch 1: the full events file
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(srcDir, "a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    runOnce()

    // (file name, mtime) per bucket directory — identical sets prove the
    // bucket's files were neither replaced nor modified in place
    def bucketFiles(): Map[Int, Set[(String, Long)]] = {
      val root = new java.io.File(sink)
      root.listFiles.filter(f => f.isDirectory && f.getName.startsWith("_bucket="))
        .map { d =>
          d.getName.stripPrefix("_bucket=").toInt ->
            d.listFiles.filter(_.getName.endsWith(".parquet"))
              .map(f => (f.getName, f.lastModified)).toSet
        }.toMap
    }
    val before = bucketFiles()

    // batch 2: conflicting (strictly smaller) versions of 3 ids only
    val smallIds = Seq(1L, 2L, 3L)
    import spark.implicits._
    val touchedBuckets = smallIds.toDF("id")
      .select(pmod(hash(col("id")), lit(nBuckets)).as("b"))
      .collect().map(_.getInt(0)).toSet
    assert(before.keySet.diff(touchedBuckets).nonEmpty,
      "fixture degenerate: every bucket touched, pruning unobservable")
    val b2 = Files.createTempDirectory("graft_ev_b2").toString
    spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id").isin(smallIds: _*))
      .withColumn("value", col("value") - 1e9)
      .coalesce(1).write.mode("overwrite").parquet(b2)
    new java.io.File(b2).listFiles.filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (p, i) =>
        Files.copy(p.toPath, Paths.get(srcDir, s"b$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
    runOnce()

    val after = bucketFiles()
    before.foreach { case (b, files) =>
      if (touchedBuckets.contains(b))
        assert(after(b) !== files, s"touched bucket $b was not rewritten")
      else
        assert(after(b) === files, s"untouched bucket $b was rewritten")
    }
    // and the merge itself is still correct: the new min survives for a
    // touched id, the original row survives for an untouched one
    val sinkDf = spark.read.parquet(sink)
    val orig = Tables.load(spark, sf, "events")
    val origRow = EventStream.dedupBatch(orig)
      .filter(col("event_id") === 1L).select("value").head.getDouble(0)
    assert(sinkDf.filter(col("event_id") === 1L).select("value").head.getDouble(0)
      === origRow - 1e9)
    val untouchedId = orig.select("event_id").distinct()
      .withColumn("b", pmod(hash(col("event_id")), lit(nBuckets)))
      .filter(!col("b").isin(touchedBuckets.toSeq: _*))
      .select("event_id").head.getLong(0)
    val origUntouched = EventStream.dedupBatch(orig)
      .filter(col("event_id") === untouchedId).select("value").head.getDouble(0)
    assert(sinkDf.filter(col("event_id") === untouchedId)
      .select("value").head.getDouble(0) === origUntouched)
  }

  test("min-by sink retention evicts rows older than the event-time horizon") {
    val srcDir = Files.createTempDirectory("graft_ev_rsrc").toString
    val sink = Files.createTempDirectory("graft_ev_rsink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_ev_rckpt").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(srcDir, "a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val retentionMs = 10L * 24 * 3600 * 1000 // 10 days of a ~30-day spread
    val q = EventStream.dedupStreamMinBy(
      EventStream.readEvents(spark, srcDir), sink, ckpt,
      retentionMs = Some(retentionMs))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val orig = Tables.load(spark, sf, "events")
    val maxTs = orig.agg(max(col("ts"))).head.getTimestamp(0)
    val cutoff = new java.sql.Timestamp(maxTs.getTime - retentionMs)
    val expected = EventStream.dedupBatch(orig)
      .filter(col("ts") >= lit(cutoff))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val kept = spark.read.parquet(sink)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(kept === expected)
    assert(kept.nonEmpty, "retention evicted everything — fixture degenerate")
    assert(kept.size < orig.select("event_id").distinct().count(),
      "retention evicted nothing — fixture degenerate")
  }

  test("bucketed sink converges to the batch twin across many overlapping micro-batches") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    // four overlapping slices with distinct value shifts: slice i holds
    // ids where (id + i) % 3 == 0, value += i·10⁴ — every id appears in
    // 1-2 slices, so merges constantly revisit buckets
    def slice(i: Int) = raw
      .filter(pmod(col("event_id") + i, lit(3)) === 0)
      .withColumn("value", col("value") + i * 10000.0)

    def run(order: Seq[Int]): Set[(Long, Double)] = {
      val srcDir = Files.createTempDirectory("graft_ev_msrc").toString
      val sink = Files.createTempDirectory("graft_ev_msink").toString + "/out"
      val ckpt = Files.createTempDirectory("graft_ev_mckpt").toString
      order.foreach { i =>
        val stage = Files.createTempDirectory(s"graft_ev_m$i").toString
        slice(i).coalesce(1).write.mode("overwrite").parquet(stage)
        new java.io.File(stage).listFiles.filter(_.getName.endsWith(".parquet"))
          .foreach(p => Files.copy(p.toPath, Paths.get(srcDir, s"s$i.parquet"),
            StandardCopyOption.REPLACE_EXISTING))
        val q = EventStream.dedupStreamMinBy(
          EventStream.readEvents(spark, srcDir), sink, ckpt, nBuckets = 8)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      spark.read.parquet(sink).select("event_id", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    }

    val fwd = run(Seq(0, 1, 2, 3))
    val rev = run(Seq(3, 2, 1, 0))
    assert(fwd === rev, "delivery order changed the converged sink")

    val ev = Tables.load(spark, sf, "events")
    val union = (0 until 4).map(i => ev
        .filter(pmod(col("event_id") + i, lit(3)) === 0)
        .withColumn("value", col("value") + i * 10000.0))
      .reduce(_.unionByName(_))
    val twin = EventStream.dedupBatch(union).select("event_id", "value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(fwd === twin, "converged sink != batch twin over the slice union")
    assert(fwd.nonEmpty)
  }

  test("compactSink sweeps expired rows from cold buckets, deleting fully-expired ones") {
    val srcDir = Files.createTempDirectory("graft_ev_csrc").toString
    val sink = Files.createTempDirectory("graft_ev_csink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_ev_cckpt").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(srcDir, "a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // ingest WITHOUT retention: the sink holds every id
    val q = EventStream.dedupStreamMinBy(
      EventStream.readEvents(spark, srcDir), sink, ckpt, nBuckets = 4)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // 1-hour horizon on a ~30-day spread: only the last hour's ids
    // survive, so with 4 buckets some buckets expire COMPLETELY —
    // exercising the delete branch dynamic overwrite cannot cover
    val retentionMs = 3600L * 1000
    EventStream.compactSink(spark, sink, retentionMs)

    val orig = Tables.load(spark, sf, "events")
    val maxTs = orig.agg(max(col("ts"))).head.getTimestamp(0)
    val cutoff = new java.sql.Timestamp(maxTs.getTime - retentionMs)
    val expected = EventStream.dedupBatch(orig)
      .filter(col("ts") >= lit(cutoff))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val kept = spark.read.parquet(sink)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(kept === expected)
    assert(kept.nonEmpty, "compaction swept everything — fixture degenerate")
    // fully-expired buckets are gone from the directory
    val liveBuckets = spark.read.parquet(sink)
      .select("_bucket").distinct().collect().map(_.getInt(0)).toSet
    val dirs = new java.io.File(sink).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("_bucket="))
      .map(_.getName.stripPrefix("_bucket=").toInt).toSet
    assert(dirs === liveBuckets, "expired bucket directories survived the sweep")
    assert(dirs.size < 4, "no bucket fully expired — delete branch not exercised")
  }

  test("retention merge deletes a touched bucket whose rows ALL expired") {
    import spark.implicits._
    // two ids landing in different buckets (nBuckets = 2)
    val byBucket = (1L to 20L).toDF("id")
      .select(col("id"), pmod(hash(col("id")), lit(2)).as("b"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val idA = byBucket.find(_._2 == 0).get._1
    val idB = byBucket.find(_._2 == 1).get._1

    val srcDir = Files.createTempDirectory("graft_ev_xsrc").toString
    val sink = Files.createTempDirectory("graft_ev_xsink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_ev_xckpt").toString
    val baseMs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val dayMs = 24L * 3600 * 1000

    def deliver(name: String, rows: Seq[(Long, Long)]): Unit = {
      val stage = Files.createTempDirectory(s"graft_ev_x$name").toString
      rows.toDF("event_id", "tsMs")
        .select(col("event_id"), (col("tsMs") * 1000000L).as("ts"),
          lit(1L).as("user_id"), lit("x").as("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      new java.io.File(stage).listFiles.filter(_.getName.endsWith(".parquet"))
        .foreach(p => Files.copy(p.toPath, Paths.get(srcDir, s"$name.parquet"),
          StandardCopyOption.REPLACE_EXISTING))
      val q = EventStream.dedupStreamMinBy(
        EventStream.readEvents(spark, srcDir), sink, ckpt, nBuckets = 2,
        retentionMs = Some(dayMs))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // batch 1: only idA, anchoring its own horizon — it survives
    deliver("a", Seq((idA, baseMs)))
    assert(spark.read.parquet(sink).select("event_id")
      .collect().map(_.getLong(0)).toSet === Set(idA))

    // batch 2 touches BOTH buckets: a replay of idA (still old) plus a
    // 10-days-newer idB. The horizon (maxTs − 1 day) expires EVERY row
    // of idA's bucket, so dynamic overwrite writes nothing there — the
    // stale pre-merge file must be deleted, not silently kept (the id
    // would resurrect with its old value otherwise).
    deliver("b", Seq((idA, baseMs + 3600 * 1000), (idB, baseMs + 10 * dayMs)))
    assert(spark.read.parquet(sink).select("event_id")
      .collect().map(_.getLong(0)).toSet === Set(idB),
      "expired bucket's stale rows survived the merge")
    val bucketDirs = new java.io.File(sink).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("_bucket="))
      .map(_.getName).toSet
    assert(bucketDirs === Set("_bucket=1"),
      "fully-expired touched bucket directory was not deleted")
  }

  test("streaming dedup drops replayed events within the watermark") {
    // an at-least-once upstream: the same file delivered twice
    val dupDir = Files.createTempDirectory("graft_events_dup").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(dupDir, "events_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(dupDir, "events_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = EventStream.dedupStream(EventStream.readEvents(spark, dupDir))
      .writeStream.format("memory").queryName("dedup_events")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("dedup_events")
    val source = Tables.load(spark, sf, "events")
    // every id exactly once, none lost — same set as the batch twin
    assert(streamed.count() === source.select("event_id").distinct().count())
    assert(streamed.groupBy("event_id").count()
      .filter(col("count") > 1).count() === 0)
    assert(streamed.select("event_id").exceptAll(
      EventStream.dedupBatch(source).select("event_id")).count() === 0)
  }

  test("bucketed min-by sink: a restart with a different nBuckets reads the stored count") {
    // the sink is laid out under the FIRST run's modulus; a restart
    // configured with another one must merge into the same buckets, or
    // an id already held gets a second row in another bucket
    val srcDir = Files.createTempDirectory("graft_ev_nbsrc").toString
    val sink = Files.createTempDirectory("graft_ev_nbsink").toString + "/out"
    val ckpt = Files.createTempDirectory("graft_ev_nbckpt").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def runOnce(nBuckets: Int): Unit =
      EventStream.dedupStreamMinBy(EventStream.readEvents(spark, srcDir), sink,
          ckpt, nBuckets = nBuckets)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(srcDir, "a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    runOnce(nBuckets = 64)
    val ids = spark.read.parquet(sink).select("event_id").distinct().count()
    // strictly smaller versions of 20 ids, streamed after a reconfiguration
    val b2 = Files.createTempDirectory("graft_ev_nb2").toString
    spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id").between(1L, 20L))
      .withColumn("value", col("value") - 1e9)
      .coalesce(1).write.mode("overwrite").parquet(b2)
    new java.io.File(b2).listFiles.filter(_.getName.endsWith(".parquet"))
      .foreach(p => Files.copy(p.toPath, Paths.get(srcDir, "b.parquet"),
        StandardCopyOption.REPLACE_EXISTING))
    runOnce(nBuckets = 2)

    val sinkDf = spark.read.parquet(sink)
    assert(sinkDf.count() === ids, "an id gained a second row or lost its row")
    assert(sinkDf.select("event_id").distinct().count() === ids)
    assert(sinkDf.filter(col("event_id").between(1L, 20L) && col("value") > -1e8)
      .isEmpty, "a touched id kept its old value")
  }
}
