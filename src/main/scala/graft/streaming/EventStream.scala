package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.{Artifacts, BatchSink}

/** Event-time streaming over the `events` table shape (builder brief:
  * "watermarks + windowed aggs; mapGroupsWithState/flatMapGroupsWithState
  * for custom state" — beyond the reference surface, which is arrival-
  * time micro-batch CDC only, SURVEY §2.10).
  *
  * Both transforms are written against plain Datasets, so the SAME code
  * runs in batch (for the DuckDB oracle) and under a streaming source
  * (StreamingSpec runs them with readStream + AvailableNow and asserts
  * parity with the batch result).
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // physical TIMESTAMP(NANOS) read as long
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of an events parquet directory (the pipe-shaped
    * source for event-time processing). SCHEMA-ADAPTIVE on `ts` like
    * `Tables.load` (the generator has shipped TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) layouts across rounds): the physical type is
    * probed from the files already present — a streaming source needs
    * its schema fixed at definition, and every caller populates the
    * directory before defining the stream — and either path lands the
    * same session-zone TimestampType micros.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Probe failure (empty / not-yet-populated directory — the
    // define-stream-then-deliver lifecycle) falls back to the CURRENT
    // generator layout (micros read as TIMESTAMP_NTZ); a nanos-era
    // directory populated after definition would need the eventSchema
    // path — deliver one file first to disambiguate (review r12).
    // only the empty/missing-dir analysis error falls back; a genuine
    // read failure (permissions, corrupt footer, IO) must propagate at
    // definition time, not silently lock the stream to the micros
    // layout (ADVICE r11)
    val probed =
      try spark.read.parquet(dir).schema("ts").dataType
      catch {
        case _: org.apache.spark.sql.AnalysisException => TimestampNTZType
      }
    probed match {
      case LongType =>
        spark.readStream.schema(eventSchema).parquet(dir)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case physical =>
        val sch = StructType(eventSchema.map(f =>
          if (f.name == "ts") f.copy(dataType = physical) else f))
        spark.readStream.schema(sch).parquet(dir)
          .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling 1-day windows per event type with a 1-day watermark:
    * count + exact decimal sum. Works on batch DataFrames too (the
    * watermark call is a no-op in batch), which is what the e1 oracle
    * entry uses. At scale: one shuffle on (window, event_type), partial
    * aggregation map-side, state bounded by the watermark.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, value: Double)
  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, sum_value: Double)
  // state keeps the original Timestamps — a millis round trip would
  // truncate the micros the source carries — and accumulates the session
  // sum as exact DECIMAL (matching sessionizeBatch's DECIMAL(18,2) sum →
  // double cast bit-for-bit; a raw double accumulation can drift)
  final case class OpenSession(start: Timestamp, end: Timestamp, n: Long, sum: BigDecimal)

  /** value → DECIMAL(18,2), the same conversion Spark's
    * `cast(value as decimal(18,2))` performs (HALF_UP at scale 2).
    */
  private def dec2(v: Double): BigDecimal =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)

  /** Sessionization with flatMapGroupsWithState: events of one user more
    * than `gapMinutes` apart belong to different sessions. A session is
    * emitted when the NEXT event (or batch) proves it closed; only the
    * latest open session per user lives in state — O(users) state, no
    * timeout dependence, deterministic under AvailableNow.
    */
  def sessionize(spark: SparkSession, events: DataFrame, gapMinutes: Int): Dataset[Session] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events.select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          // per-batch arrival order is not guaranteed: order by event time
          val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
          var open = state.getOption
          evs.foreach { e =>
            open match {
              case Some(s) if e.ts.getTime - s.end.getTime <= gapMs =>
                open = Some(OpenSession(s.start, e.ts, s.n + 1, s.sum + dec2(e.value)))
              case Some(s) =>
                closed += Session(user, s.start, s.end, s.n, s.sum.toDouble)
                open = Some(OpenSession(e.ts, e.ts, 1, dec2(e.value)))
              case None =>
                open = Some(OpenSession(e.ts, e.ts, 1, dec2(e.value)))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  final case class TypedEvent(
      event_id: Long, ts: Timestamp, user_id: Long, event_type: String)
  final case class OpenVersion(
      state: String, valid_from: Timestamp, idx: Long, n: Long)
  final case class ClosedVersion(
      user_id: Long, version_idx: Long, state: String,
      valid_from: Timestamp, valid_to: Timestamp, n_events: Long)

  /** Streaming SCD Type-2 — the in-flight twin of the e10 batch entry
    * (EventQueries): per user, consecutive events with the same
    * `event_type` extend the open version; a state CHANGE closes it
    * (valid_to = the changing event's ts) and emits the closed row.
    * Only the single open version per user lives in state — O(users),
    * no timeout dependence — and a version is emitted exactly once,
    * when the change that closes it arrives (the sessionize contract:
    * the open tail is in state, not in the output). Within-batch
    * ordering replays the batch plan's (ts, event_id) order at FULL
    * timestamp precision (getNanos refines the ms-truncated getTime),
    * so the stream's closed rows equal the batch entry's closed rows
    * whatever the micro-batch boundaries (StreamingSpec pins it).
    */
  def scd2Stream(spark: SparkSession, events: DataFrame): Dataset[ClosedVersion] = {
    import spark.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenVersion, ClosedVersion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[TypedEvent], state: GroupState[OpenVersion]) =>
          val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedVersion]
          var open = state.getOption
          evs.foreach { e =>
            open match {
              case Some(v) if v.state == e.event_type =>
                open = Some(v.copy(n = v.n + 1))
              case Some(v) =>
                closed += ClosedVersion(user, v.idx, v.state, v.valid_from, e.ts, v.n)
                open = Some(OpenVersion(e.event_type, e.ts, v.idx + 1, 1))
              case None =>
                open = Some(OpenVersion(e.event_type, e.ts, 1L, 1))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  final case class FunnelEvent(
      event_id: Long, ts: Timestamp, user_id: Long, event_type: String)
  final case class FunnelState(
      t1: Option[Timestamp], t2: Option[Timestamp],
      t3: Option[Timestamp], t4: Option[Timestamp])
  final case class StageReached(user_id: Long, stage: Int, ts: Timestamp)

  /** Streaming funnel — e8's stateful twin: per user, the four stages
    * (signup → view → click → purchase, each within 24 h of the
    * previous stage's time) tracked in O(users) state; a StageReached
    * row is emitted EXACTLY ONCE per (user, stage), when the first
    * qualifying event arrives. Conversion counts are then a trivial
    * downstream aggregation of the emitted rows.
    *
    * Ordering contract: within a batch, events are replayed in
    * (ts, event_id) order at full precision (the scd2Stream
    * discipline); ACROSS batches the source must deliver in event-time
    * order (time-partitioned files, the pipe layout) — the batch
    * plan's min-over-all-events semantics can't be replayed if a later
    * batch may carry an EARLIER qualifying event, because the stage
    * was already emitted (a watermark-delayed variant would buffer
    * one lateness horizon before emitting; this face takes the
    * in-order contract instead, and the spec feeds time-split waves).
    */
  def funnelStream(spark: SparkSession, events: DataFrame): Dataset[StageReached] = {
    import spark.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageReached](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[StageReached]
          var st = state.getOption.getOrElse(FunnelState(None, None, None, None))
          // full microsecond precision (getTime is millis-truncated;
          // the batch plan compares micros timestamps)
          def us(t: Timestamp): Long =
            (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
          val dayUs = 24L * 3600L * 1000000L
          def within(prev: Timestamp, ts: Timestamp): Boolean =
            us(ts) > us(prev) && us(ts) <= us(prev) + dayUs
          evs.foreach { e =>
            (e.event_type, st) match {
              case ("signup", FunnelState(None, _, _, _)) =>
                st = st.copy(t1 = Some(e.ts)); out += StageReached(user, 1, e.ts)
              case ("view", FunnelState(Some(t1), None, _, _)) if within(t1, e.ts) =>
                st = st.copy(t2 = Some(e.ts)); out += StageReached(user, 2, e.ts)
              case ("click", FunnelState(_, Some(t2), None, _)) if within(t2, e.ts) =>
                st = st.copy(t3 = Some(e.ts)); out += StageReached(user, 3, e.ts)
              case ("purchase", FunnelState(_, _, Some(t3), None)) if within(t3, e.ts) =>
                st = st.copy(t4 = Some(e.ts)); out += StageReached(user, 4, e.ts)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming exact dedup: drop events whose `event_id` was already
    * seen, with state bounded by the event-time watermark — the
    * in-flight analogue of the d1 content-hash dedup for a continuously
    * ingesting training pipeline (an at-least-once upstream can replay
    * events; this makes the downstream exactly-once per id within the
    * lateness horizon). At scale: state is a per-key store partitioned
    * by id — one shuffle, size bounded by ids seen within the watermark,
    * not by stream history.
    */
  def dedupStream(events: DataFrame, idCol: String = "event_id"): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming dedup with DETERMINISTIC surviving VALUES — the
    * value-level twin of `dedupBatch` (where `dedupStream` guarantees
    * only the id set): a foreachBatch merge in which each micro-batch
    * is first reduced to its per-id min-by row, then merged with the
    * sink's existing rows under the SAME ordering. The final sink row
    * per id therefore equals the batch twin's min-by row over every
    * delivered version, regardless of replay order or micro-batch
    * boundaries — StreamingSpec pins full-row equality across reversed
    * delivery orders.
    *
    * The sink itself is the dedup state, laid out as a parquet
    * directory hash-partitioned on `_bucket = pmod(hash(id), nBuckets)`,
    * with `nBuckets` stored on first use (`CorpusStream.persistedBuckets`),
    * so the per-batch merge is FILE-PRUNED the way a keyed MERGE INTO
    * on Delta/Iceberg prunes data files: the batch's ids determine the
    * touched buckets, the merge reads ONLY those buckets
    * (`Artifacts.readTouched`: partition pruning on the filter; schema
    * inference reads one file footer), and dynamic partition overwrite
    * rewrites ONLY those buckets — untouched bucket files are never
    * scanned or replaced (StreamingSpec asserts their file lists and
    * mtimes are unchanged across a later micro-batch). Per-batch cost is therefore
    * O(ids in touched buckets), not O(all ids ever seen): with ids
    * hashing uniformly over `nBuckets`, a batch touching b buckets
    * rewrites ~b/nBuckets of the sink however large the id history
    * grows. `localCheckpoint` materializes the merge before the
    * overwrite — the lineage must not read the directory being
    * replaced. At scale, swap the directory layout for a transactional
    * table and this loop becomes MERGE INTO with the same pruning; the
    * bucket count plays the role of the table's file granularity.
    *
    * `retentionMs` bounds the SINK by an event-time horizon, the merge-
    * side analogue of `dedupStream`'s watermark-bounded state: at merge
    * time, surviving rows whose event time falls more than the horizon
    * before the batch's max event time are dropped from the touched
    * buckets (a later replay of such an id would re-insert it — the
    * same contract watermark state eviction gives). Untouched buckets
    * keep their expired rows until next touched, exactly as file-pruned
    * MERGE leaves cold files to a periodic compaction sweep. Horizon
    * arithmetic is millisecond-precision (`Timestamp.getTime`); events
    * within 1 ms of the cutoff may fall either side of it.
    */
  def dedupStreamMinBy(events: DataFrame, sinkDir: String, checkpointDir: String,
      idCol: String = "event_id", nBuckets: Int = 64,
      retentionMs: Option[Long] = None): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val nB = CorpusStream.persistedBuckets(events.sparkSession, sinkDir, nBuckets)
    // append mode: the query has no stateful operator, and for such a
    // query Spark treats Update and Append alike
    BatchSink.stream(events.withWatermark("ts", "1 day"), checkpointDir) { (batch, _) =>
      val sess = batch.sparkSession
      val newMin = dedupBatch(batch, idCol)
        .withColumn("_bucket", pmod(hash(col(idCol)), lit(nB)))
      // the touched-bucket set is bounded by nBuckets — a metadata-
      // sized collect, same class as Pipeline's file listings
      val merged = Artifacts.readTouched(Artifacts.readIfPresent(sess, sinkDir),
          "_bucket", newMin.select("_bucket"))
        .fold(newMin)(stored => dedupBatch(stored.unionByName(newMin), idCol))
      // horizon anchored at the batch's max event time — the
      // foreachBatch stand-in for the stream's watermark
      val cutoff = retentionMs.flatMap { ms =>
        Option(batch.agg(max(col("ts"))).head.getTimestamp(0))
          .map(t => new Timestamp(t.getTime - ms))
      }
      rewriteBuckets(merged, sinkDir, cutoff)
    }
  }

  /** Rewrite the buckets `rows` holds in the `_bucket`-partitioned
    * `sinkDir`, keeping the rows at or after `cutoff` (all of them when
    * None). Dynamic partition overwrite only rewrites buckets present
    * in what it writes, so a bucket whose rows ALL fall before the
    * cutoff would keep its stale files (the dropped ids would
    * resurrect with their old values): such buckets are deleted
    * outright. `rows` is materialized first — its lineage may read the
    * buckets being replaced.
    */
  private def rewriteBuckets(rows: DataFrame, sinkDir: String,
      cutoff: Option[Timestamp]): Unit = {
    val live = cutoff.fold(lit(true))(c => coalesce(col("ts") >= lit(c), lit(false)))
    val flagged = rows.withColumn("_live", live).localCheckpoint()
    val buckets = flagged.groupBy("_bucket").agg(max("_live"))
      .collect().map(r => r.getInt(0) -> r.getBoolean(1))
    if (buckets.exists(_._2))
      BatchSink.overwritePartitions(
        flagged.filter(col("_live")).drop("_live"), sinkDir, "_bucket")
    buckets.filterNot(_._2).foreach { case (b, _) =>
      Artifacts.remove(rows.sparkSession, s"$sinkDir/_bucket=$b")
    }
  }

  /** Maintenance sweep for a `dedupStreamMinBy` sink: drop rows whose
    * event time (`ts`) falls more than `retentionMs` before the sink's
    * max event time, from EVERY bucket — the merge path prunes only
    * buckets it touches, so cold buckets keep expired rows until this
    * sweep runs (the VACUUM/compaction analogue for the directory
    * layout; on Delta/Iceberg this is the table's retention compaction
    * job). Only buckets actually holding expired rows are rewritten;
    * a bucket whose rows ALL expired is deleted outright — dynamic
    * partition overwrite cannot remove a partition it writes no rows
    * into, so relying on it alone would silently resurrect fully-
    * expired buckets.
    */
  def compactSink(spark: SparkSession, sinkDir: String, retentionMs: Long): Unit = {
    val df = spark.read.parquet(sinkDir)
    val maxTs = df.agg(max(col("ts"))).head.getTimestamp(0)
    if (maxTs != null) {
      val cutoff = new Timestamp(maxTs.getTime - retentionMs)
      Artifacts.readTouched(Some(df), "_bucket",
          df.filter(col("ts") < lit(cutoff)).select("_bucket"))
        .foreach(rewriteBuckets(_, sinkDir, Some(cutoff)))
    }
  }

  /** Event-time stream-stream interval join (view→click attribution
    * shape): each click joins the SAME user's views whose event time
    * falls within the `windowMinutes` before the click. Both inputs are
    * watermarked and the join condition bounds click_ts to
    * [view_ts, view_ts + window] — the two facts Structured Streaming
    * needs to EVICT join state: a buffered view can be dropped once the
    * click watermark passes view_ts + window, a buffered click once the
    * view watermark passes click_ts. State is bounded by events inside
    * the lateness+window horizon, not stream history. The same code
    * runs as a batch plan (watermark is a no-op; the join becomes an
    * equi-join on user_id with the range as join residual — one shuffle
    * per side, never a cartesian): the e5 oracle entry and
    * StreamingSpec's parity test share this exact function. At 100 TB
    * the shuffle keys on user_id; a skewed power-user key is handled
    * the same way as any skewed join (AQE skew split / salting).
    */
  def intervalJoin(views: DataFrame, clicks: DataFrame, windowMinutes: Int): DataFrame = {
    val v = views
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 day")
    val c = clicks
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", "1 day")
    v.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"), col("click_value"))
  }

  /** Skew-hardened twin of `intervalJoin`: the shuffle keys on
    * (user_id, salt) instead of user_id alone, so a power-user hot key
    * spreads over `salts` reducers — the explicit answer to the skew
    * note in `intervalJoin`'s doc when AQE's runtime skew split is not
    * enough (or not available). The interval predicate rides along as
    * the join residual of the salted equi-join
    * (`Salting.saltedJoinOn`), so the result is row-identical to the
    * unsalted join (SaltingSpec asserts it on 90 %-skewed data).
    *
    * Runs in BOTH modes, like `intervalJoin`: both inputs are
    * watermarked (a no-op in batch — the e6 oracle entry uses this same
    * function), and under a streaming source the join state is keyed per
    * (user, salt) bucket: a hot user's buffered rows spread over `salts`
    * state partitions, and eviction stays watermark-bounded exactly as
    * in the unsalted form — the salt equality rides the join key while
    * the time-range condition still gives the planner both eviction
    * facts (StreamingSpec proves streaming-vs-batch row equality on the
    * 90 %-skew fixture under Trigger.AvailableNow).
    */
  def intervalJoinSalted(views: DataFrame, clicks: DataFrame,
      windowMinutes: Int, salts: Int): DataFrame = {
    val v = views
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 day")
    val c = clicks
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", "1 day")
    graft.operators.Salting.saltedJoinOn(v, c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      salts)
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"), col("click_value"))
  }

  /** `intervalJoinSaltedHot` with the hot-user set supplied by the
    * caller — the STREAMING shape of hot-only salting: the hot set is a
    * static (or slowly-refreshed) relation derived out-of-band
    * (yesterday's counts, a control table — key skew moves far slower
    * than events), so salt assignment on both sides is a stream-static
    * broadcast join and the salted stream-stream join keeps its
    * watermark-bounded (user, salt) state. Row-identical to
    * `intervalJoin` whatever set is passed — salting any subset of keys
    * changes only the physical distribution (StreamingSpec proves
    * streaming-vs-batch parity on the 90 %-skew fixture).
    */
  def intervalJoinSaltedHotSet(views: DataFrame, clicks: DataFrame,
      windowMinutes: Int, salts: Int, hotUsers: DataFrame): DataFrame = {
    val v = views
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 day")
    val c = clicks
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", "1 day")
    graft.operators.Salting.saltedJoinOnHotSet(v, "user_id", c, "click_user",
      hotUsers,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      salts)
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"), col("click_value"))
  }

  /** Hot-key-only salted interval join — the scale refinement of
    * `intervalJoinSalted`, which replicates EVERY click `salts`× to
    * spread what is usually a handful of power users (VERDICT r9 #2: at
    * 100 TB with both sides large, 8× replication of the cold majority
    * is real shuffle volume). Per-user view counts pick the hot set
    * (`hotThreshold` rows or more); only hot users' views scatter and
    * only hot users' clicks replicate — the cold majority of both sides
    * flows through once, salt 0. Row-identical to `intervalJoin` (e7
    * shares e5/e6's oracle; SaltingSpec counts the replicated side to
    * pin the no-cold-replication contract). Batch-shaped: the hot-set
    * count is a batch aggregation over the view side — a streaming
    * deployment feeds a precomputed hot set into
    * `intervalJoinSaltedHotSet` instead, since key skew moves far
    * slower than events.
    */
  def intervalJoinSaltedHot(views: DataFrame, clicks: DataFrame,
      windowMinutes: Int, salts: Int, hotThreshold: Long): DataFrame = {
    val v = views
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val c = clicks
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    graft.operators.Salting.saltedJoinOnHot(v, "user_id", c, "click_user",
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      salts, hotThreshold)
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"), col("click_value"))
  }

  /** Batch twin of `dedupStream`. The surviving row is DETERMINISTIC —
    * min by every non-id column in schema order (event time first for
    * the events table) — where `dropDuplicates` would keep a partition-
    * order-dependent row. The stream twin keeps an arbitrary row (the
    * first to arrive), so stream/batch parity holds at the id-set
    * level; `dedupStreamMinBy` upgrades the stream side to full
    * value-level parity, and batch users get reproducible VALUES here.
    */
  def dedupBatch(events: DataFrame, idCol: String = "event_id"): DataFrame = {
    val others = events.columns.filter(_ != idCol).map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(others.toIndexedSeq: _*)
    events.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Batch-equivalent sessionization via window functions (lag → gap
    * flag → running session index → per-session agg) — the e2 oracle
    * shape; also used by StreamingSpec to check the stateful path.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > gapMinutes * 60000L)
          .cast("int"))
      .withColumn("session_idx", sum(col("new_session")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .drop("session_idx")
  }

  /** Sessionization via Spark's NATIVE `session_window` aggregation —
    * the third face of e2 (r10 verdict #8), sharing its oracle:
    * `sessionizeBatch` is the window-function form, `sessionize` the
    * custom-state exemplar (flatMapGroupsWithState, O(users) state),
    * and this one the engine-native form — codegen'd aggregation in
    * batch, session-window-aware state store when streamed, no
    * user-level state code at all. Prefer it when the builtin
    * semantics fit; keep FMGS for session logic the builtin can't
    * express (mid-session emission, custom merge rules).
    *
    * Boundary alignment: the twins compare MILLISECOND-truncated
    * timestamps (`unix_millis` / `getTime`), so an event up to
    * gap+999µs late still merges — the session key here is therefore
    * `session_window` over a ms-truncated copy of `ts` (aggregates
    * still read the original micro-precision `ts`, so session_start/end
    * stay bit-identical). Spark extends a session when the next event
    * lands AT or before the window end (`<=`, verified empirically —
    * an event exactly gap late merges), which is precisely the twins'
    * `diff <= gap`, so the gap maps 1:1. Both edges pinned in
    * StreamingSpec (merge at gap and gap+999µs, split at gap+1ms).
    */
  def sessionizeNative(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .groupBy(col("user_id"),
        session_window(timestamp_millis(unix_millis(col("ts"))),
          s"${gapMinutes * 60000L} milliseconds")
          .as("sw"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
}
