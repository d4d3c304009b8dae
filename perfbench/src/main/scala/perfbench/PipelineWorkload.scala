package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.pipeline.{CitibikeSource, Pipeline, PipelinePaths, Producer}
import graft.serve.SecureShare

/** backfill_trickle: one pipeline root, fed in two regimes.
  *
  * Set-up unloads every source day into a holding directory with the
  * producer, then runs trickle pulses as warm-up.
  *
  * Backfill: the earlier days, the backlog (dense in the generated
  * source), land in seeded order in equal chunks; each chunk is one
  * `runAvailableNow` trigger. Its figure is ingest rows per second.
  *
  * Trickle, after the backfill: the later days land one file per pulse,
  * in day order. A pulse runs one trigger, re-registers the secure view
  * and asks for one consumption report through the share, as the next
  * account of a seeded rotation. Its latency is freshness: from the
  * file landing to the report that counts that day's rows.
  *
  * A dashboard is served after the trickle.
  */
final class PipelineWorkload(spark: SparkSession, tracer: Tracer, o: Main.Opts,
    rng: scala.util.Random, res: Main.Result) {
  import Main._

  private val sfDir = o.data
  private val accounts = Seq("ACCT_PUB", "ACCT_NYCHA", "ACCT_JCHA")
  /** Backfill pulses and day files in each; the generated source makes
    * its first `backfillFiles * backfillPulses` days dense.
    */
  private val backfillPulses = 3
  private val backfillFiles = 15
  /** Trickle pulses in set-up, before the timed ones. */
  private val warmPulses = 3

  // ---- check reference, computed straight from the source (untimed) --

  /** day → program_id → trips of that day. */
  private val dayCounts: Map[String, Map[Int, Long]] =
    CitibikeSource.trips(spark, sfDir)
      .groupBy(date_format(col("starttime"), "yyyy-MM-dd").as("day"), col("program_id"))
      .count().collect()
      .groupBy(_.getString(0))
      .map { case (d, rows) => d -> rows.map(r => r.getInt(1) -> r.getLong(2)).toMap }
  private val days: IndexedSeq[String] = dayCounts.keys.toIndexedSeq.sorted
  private val programNames: Map[Int, String] =
    CitibikeSource.programs(spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
  private val filters: Map[String, String] =
    SecureShare.security(spark).collect().map(r => r.getString(1) -> r.getString(2)).toMap

  private def likeRegex(p: String): String =
    java.util.regex.Pattern.quote(p).replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q")

  private def tripsOf(ds: Iterable[String]): Long =
    ds.iterator.map(d => dayCounts.getOrElse(d, Map.empty).values.sum).sum

  /** The governed aggregate the report must return after `landed`. */
  def expectedReport(landed: Iterable[String], acct: String): Seq[(String, String, Long)] = {
    val re = likeRegex(filters(acct))
    landed.iterator.flatMap(d => dayCounts.getOrElse(d, Map.empty)).toSeq
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .map { case (p, n) => (programNames(p), acct, n) }
      .filter(_._1.matches(re))
      .sortBy(t => (-t._3, t._1))
  }

  private def fmtDay(d: String): String = { // yyyy-MM-dd → MM/dd/yyyy
    val Array(y, m, dd) = d.split("-"); s"$m/$dd/$y"
  }

  // ---- one pipeline instance ------------------------------------------

  final class Rig(val root: String) {
    val holding = s"$root/holding"
    val paths: PipelinePaths = PipelinePaths(s"$root/pipe")
    new File(paths.stage).mkdirs()
    val pipe = new Pipeline(spark, paths)
    val share: SecureShare.Share = {
      val s = SecureShare.createShare(s"perfbench_${new File(root).getName}")
      s.grantUsage("DATABASE", SecureShare.DemoDatabase)
      s.grantUsage("SCHEMA", s"${SecureShare.DemoDatabase}.${SecureShare.DemoSchema}")
      s.grantSelect("trips_secure_vw")
      s.addAccounts(accounts: _*)
      s
    }
    val landed = mutable.ArrayBuffer.empty[String]
    val landedNames = mutable.ArrayBuffer.empty[String]
    var landedBytes = 0L

    def dayFile(d: String): File = new File(holding, s"snowpipe_demo${d}_0.json")

    /** The producer's unload of days `first`..`last` into the holding
      * directory; returns (seconds, files, bytes).
      */
    def produce(first: String, last: String): (Double, Int, Long) = {
      val t0 = System.nanoTime()
      tracer.span("producer.unload", "setup") {
        Producer.streamData(spark, sfDir, holding, fmtDay(first), fmtDay(last))
      }
      val s = (System.nanoTime() - t0) / 1e9
      val (bytes, files) = dirUsage(holding)
      (s, files, bytes)
    }

    /** Land day files by rename, stamped with the land time. */
    def land(ds: Seq[String]): Unit = {
      val now = System.currentTimeMillis()
      ds.foreach { d =>
        val src = dayFile(d)
        val dst = new File(paths.stage, src.getName)
        landedBytes += src.length()
        Files.move(src.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
        dst.setLastModified(now)
        landedNames += dst.getName
      }
      landed ++= ds
    }

    /** Bytes the pipeline stores: raw + modelled + ops. */
    def storedBytes: Long =
      Seq("raw", "modelled", "ops").map(s => dirUsage(s"$root/pipe/$s")._1).sum
  }

  /** Bill the files and bytes the executed plan's scans read to the open
    * span.
    */
  private def noteScans(df: DataFrame): Unit = if (tracer.tracing) {
    val scans = Scans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def metric(s: FileSourceScanExec, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    tracer.note("files_read", scans.map(metric(_, "numFiles")).sum.toDouble)
    tracer.note("scan_bytes", scans.map(metric(_, "filesSize")).sum.toDouble)
  }

  private def reportRows(rows: Array[Row]): Seq[(String, String, Long)] =
    rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  private def register(rig: Rig, phase: String): Unit =
    tracer.span("serve.register", phase) {
      SecureShare.registerTripsSecureView(spark, rig.pipe)
    }

  private def report(rig: Rig, acct: String, phase: String): Seq[(String, String, Long)] = {
    spark.conf.set(GraftFunctions.AccountConfKey, acct)
    tracer.span(s"serve.report.$acct", phase) {
      val df = SecureShare.consumptionReport(spark, rig.share)
      val rows = df.collect()
      noteScans(df)
      reportRows(rows)
    }
  }

  /** Trigger wrapper: in traced runs, also records the files and bytes
    * the trigger left under the pipeline root (walked outside its span).
    */
  private def trigger(rig: Rig, phase: String): Unit = {
    val before = if (tracer.tracing) Some(written(rig)) else None
    tracer.span("pipe.trigger", phase)(rig.pipe.runAvailableNow())
    before.foreach { case (b0, f0) =>
      val (b1, f1) = written(rig)
      tracer.noteLast("files_written", (f1 - f0).toDouble)
      tracer.noteLast("bytes_on_disk", (b1 - b0).toDouble)
    }
  }

  /** In traced runs, read the backlog through `pipeStatus` after a
    * timed operation, outside its timing.
    */
  private def readBacklog(rig: Rig, phase: String): Unit =
    if (tracer.tracing) tracer.span("pipe.ops_read", phase) {
      tracer.note("pending_files", pendingFiles(rig).toDouble)
    }

  private def written(rig: Rig): (Long, Int) = {
    val parts = Seq("raw", "modelled", "ops", "checkpoint").map(s => dirUsage(s"${rig.root}/pipe/$s"))
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def pendingFiles(rig: Rig): Long =
    "\"pendingFileCount\":(\\d+)".r.findFirstMatchIn(rig.pipe.pipeStatus())
      .map(_.group(1).toLong).getOrElse(-1L)

  /** rows_affected per task over the terminal task_history rows. */
  private def taskRows(rig: Rig): Map[String, Long] =
    rig.pipe.taskHistory().filter(col("state") =!= "SCHEDULED")
      .groupBy("name").agg(sum("rows_affected")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** One trickle pulse; returns the freshness in ms and the report. */
  private def pulse(rig: Rig, day: String, acct: String, phase: String)
      : (Double, Seq[(String, String, Long)]) =
    tracer.span("bench.pulse", phase) {
      val t0 = System.nanoTime()
      tracer.span("stage.land", phase)(rig.land(Seq(day)))
      trigger(rig, phase)
      register(rig, phase)
      val rows = report(rig, acct, phase)
      (nowMs(t0), rows)
    }.tap(_ => readBacklog(rig, phase))

  private def checkReport(rows: Seq[(String, String, Long)], rig: Rig, acct: String): (Boolean, String) = {
    val want = expectedReport(rig.landed, acct)
    (rows == want, s"$acct report ${rows.take(3)} != expected ${want.take(3)}")
  }

  /** Whole-run checks, after the timed loop. */
  private def finalChecks(rig: Rig, taskRowsBefore: Map[String, Long]): Unit = {
    val want = tripsOf(rig.landed)
    val got = rig.pipe.trips().count()
    res.check("trips_count", got == want, s"trips $got != source $want")
    val dupStations = rig.pipe.stations().groupBy("station_id").count().filter(col("count") > 1).count()
    val dupPrograms = rig.pipe.programs().groupBy("program_id").count().filter(col("count") > 1).count()
    res.check("dimension_keys_unique", dupStations == 0 && dupPrograms == 0,
      s"duplicate keys: stations $dupStations programs $dupPrograms")
    val rows = taskRows(rig)
    res.check("task_history_push_trips", rows.getOrElse("push_trips", 0L) == want,
      s"task_history push_trips ${rows.getOrElse("push_trips", 0L)} != $want")
    val pending = pendingFiles(rig)
    res.check("pipe_status_no_backlog", pending == 0, s"pendingFileCount $pending")
    val loadedFiles = rig.pipe.copyHistory().count()
    res.fields("ops_tables") = Map(
      "task_rows_before" -> taskRowsBefore, "task_rows_after" -> rows,
      "files_loaded" -> loadedFiles, "pending_files" -> pending)
    res.fields("stored_bytes") = rig.storedBytes
    res.fields("landed_bytes") = rig.landedBytes
    // the final operational purge: every landed file was loaded, so none
    // may stay in the stage
    rig.pipe.purge()
    val left = Option(new File(rig.paths.stage).list()).map(_.toSet).getOrElse(Set.empty)
    val stale = rig.landedNames.filter(left)
    res.check("purge_empties_stage", stale.isEmpty, s"${stale.size} loaded files left in stage")
  }

  private def rotation(): IndexedSeq[String] = {
    val r = rng.shuffle(accounts).toIndexedSeq
    val k = rng.nextInt(r.size)
    r.drop(k) ++ r.take(k)
  }

  private def dashboard(rig: Rig, phase: String, want: Long, programs: Long): Op = {
    val t0 = System.nanoTime()
    try {
      val row = tracer.span("serve.dashboard", phase) {
        val df = rig.pipe.dashboard()
        val r = df.collect().head
        noteScans(df)
        r
      }
      val ms = nowMs(t0)
      val got = (row.getAs[Long]("trips_modelled"), row.getAs[Long]("trips_raw"),
        row.getAs[Long]("num_programs"), row.getAs[Long]("pending_file_count"))
      val ok = got == ((want, want, programs, 0L))
      Op("dashboard", ms, ok, tracer.tracing, if (ok) "" else s"dashboard $got")
    } catch { case e: Throwable => Op("dashboard", -1, ok = false, tracer.tracing, e.toString) }
  }

  /** Traced runs only: each account's report once traced and once not,
    * in alternating order, over the final tables. The pairs measure the
    * tracing overhead; the traced ones give each account's report cost.
    */
  private def servingBurst(rig: Rig): Unit = {
    val burst = mutable.ArrayBuffer.empty[Map[String, Any]]
    accounts.zipWithIndex.foreach { case (acct, k) =>
      Seq(k % 2 == 0, k % 2 != 0).foreach { traced =>
        tracer.setTracing(traced)
        val t0 = System.nanoTime()
        val rows = report(rig, acct, "burst")
        burst += Map("account" -> acct, "traced" -> traced, "ms" -> nowMs(t0),
          "ok" -> (rows == expectedReport(rig.landed, acct)))
      }
    }
    tracer.setTracing(o.trace)
    res.fields("serving_burst") = burst.toSeq
    res.check("burst_reports", burst.forall(_("ok") == true), "a burst report was wrong")
  }

  private def programsOf(ds: Iterable[String]): Long =
    ds.iterator.flatMap(d => dayCounts.getOrElse(d, Map.empty).keys).toSet.size.toLong

  // ---- backfill_trickle -----------------------------------------------

  def run(): Unit = {
    // the backlog is the earliest days (dense in the generated source),
    // landed in seeded order; the trickle is the later days, in day order
    val chunks = rng.shuffle(days.take(backfillFiles * backfillPulses)).grouped(backfillFiles).toSeq
    val trickleDays = days.drop(backfillFiles * backfillPulses)
    val rot = rotation()

    val t0 = System.nanoTime()
    val rig = new Rig(s"${o.work}/pipeline")
    val producer = rig.produce(days.head, days.last)
    // warm-up pulses, so the timed ones run warmer code: the first
    // trigger of a JVM takes several times a warm one, and later ones
    // keep getting faster for a while. The warm dashboard comes early,
    // since the pulse after a dashboard is slow.
    def warmPulse(i: Int): Double = {
      val acct = rot(i % rot.size)
      val (ms, rows) = pulse(rig, trickleDays(i), acct, "setup")
      val (ok, why) = checkReport(rows, rig, acct)
      res.check(s"warm_pulse_$i", ok, why)
      ms
    }
    val first = warmPulse(0)
    val warmDash = dashboard(rig, "setup", tripsOf(rig.landed), programsOf(rig.landed))
    res.check("warm_dashboard", warmDash.ok, warmDash.detail)
    val warm = first +: (1 until warmPulses).map(warmPulse)
    res.setupS += (System.nanoTime() - t0) / 1e9
    res.fields("warm_pulse_ms") = warm
    // the ops-table baseline of the per-layer row counts; untraced runs
    // skip the read, which would slow the first timed pulse
    val before = if (o.trace) taskRows(rig) else Map.empty[String, Long]
    Main.startTimedPart(res)

    // backfill: the backlog lands in equal chunks, one trigger each
    val tFirst = System.nanoTime()
    chunks.foreach { ds =>
      val t1 = System.nanoTime()
      res.ops += (try {
        tracer.span("bench.backfill", "run") {
          tracer.span("stage.land", "run")(rig.land(ds))
          trigger(rig, "run")
        }
        val ms = nowMs(t1)
        readBacklog(rig, "run")
        Op("backfill", ms, ok = true, tracer.tracing, s"${ds.size} files")
      } catch { case e: Throwable => Op("backfill", -1, ok = false, tracer.tracing, e.toString) })
    }
    res.fields("backfill_s") = (System.nanoTime() - tFirst) / 1e9
    res.fields("backfill_rows") = tripsOf(chunks.flatten)

    // trickle: one day file per pulse, in day order, for the run's seconds
    val tLoop = System.nanoTime()
    var i = warmPulses
    while (i < trickleDays.size && (i == warmPulses || (System.nanoTime() - tLoop) / 1e9 < o.seconds)) {
      val acct = rot(i % rot.size)
      res.ops += (try {
        val (ms, rows) = pulse(rig, trickleDays(i), acct, "run")
        val (ok, why) = checkReport(rows, rig, acct)
        Op("pulse", ms, ok, tracer.tracing, if (ok) acct else why)
      } catch { case e: Throwable => Op("pulse", -1, ok = false, tracer.tracing, e.toString) })
      i += 1
    }
    res.fields("trickle_s") = (System.nanoTime() - tLoop) / 1e9
    res.fields("trickle_rows") = tripsOf(trickleDays.slice(warmPulses, i))
    res.ops += dashboard(rig, "run", tripsOf(rig.landed), programsOf(rig.landed))
    Main.endTimedPart(res)
    if (o.trace) servingBurst(rig)
    res.fields("producer") = Map("s" -> producer._1, "files" -> producer._2, "bytes" -> producer._3)
    finalChecks(rig, before)
  }
}

/** `collectWithSubqueries` over adaptive plans and their query stages. */
object Scans extends AdaptiveSparkPlanHelper
