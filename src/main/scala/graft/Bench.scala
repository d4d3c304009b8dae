package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line on stdout per the driver contract,
  * duplicated to `BENCH_LOCAL.json` (override: SPARK_GRAFT_BENCH_OUT)
  * so a bounded stdout tail can never lose the per-query record again.
  * Each entry's profile (`graft.Profiler`: build/exec split, jobs,
  * stages, tasks, shuffle, spill, I/O bytes, GC and a plan-shape digest)
  * goes beside it to `X.profile.json`, or to a labelled
  * `[bench] profile=` stdout line when no output file is written.
  *
  * Each query executes against a `noop` sink so the FULL physical plan
  * runs (projection, masking exprs, final sort included): a bare
  * `count()` would let Catalyst prune the output projection and
  * eliminate the sort, under-measuring the work (VERDICT round 1 #2).
  *
  * Failures are reported per query (`"err"`), excluded from the total,
  * and make the process exit nonzero — a regression can only make the
  * bench worse, never better (VERDICT round 1 #1).
  *
  * RUN ALONE: never overlap a Bench run with a Verify dump (or any
  * other Spark main) on the same host — both saturate the local[32]
  * cores and the contended record shows up as canary_warn: true with
  * inflated per-query times (the r11/r12 drift clusters were exactly
  * this). Sequence: Verify first, let it exit, then Bench.
  */
object Bench {

  /** Median per-entry ratio of this run vs a previous record's
    * per-query times (VERDICT r17 #5): the canary adjudication, made
    * machine-readable — a contended host taxes (or a real regression
    * shifts) the MEDIAN entry, while one noisy entry cannot move it.
    * Entries are matched by name; errored entries (−1) on either side
    * are excluded. None when there is no overlap (first run, renamed
    * entries, or a restricted spot-check).
    */
  def vsPrevMedian(prev: Map[String, Double],
      cur: Map[String, Double]): Option[Double] = {
    val ratios = cur.toSeq.collect {
      case (k, v) if v >= 0 && prev.get(k).exists(_ > 0) => v / prev(k)
    }.sorted
    if (ratios.isEmpty) None
    else if (ratios.size % 2 == 1) Some(ratios(ratios.size / 2))
    else Some((ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2.0)
  }

  /** Extract the `"sf":"..."` field from a prior record's JSON line —
    * `vsPrevMedian` is only meaningful same-SF-vs-same-SF (a prior
    * record at a different scale factor would fabricate a ~data-ratio
    * "regression"), so the caller suppresses the comparison when the
    * SFs differ. None when the field is absent (pre-field records).
    */
  def parseSf(json: String): Option[String] =
    "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1))

  /** Extract the `"queries":{...}` map from a prior record's JSON line
    * — a two-token scan, not a JSON library (the record is this file's
    * own output format; names never contain quotes or braces).
    */
  def parseQueries(json: String): Map[String, Double] = {
    val tag = "\"queries\":{"
    val i = json.indexOf(tag)
    if (i < 0) return Map.empty
    val start = i + tag.length
    val end = json.indexOf('}', start)
    if (end < 0) return Map.empty
    "\"([^\"]+)\":(-?[0-9][-0-9.eE+]*)".r
      .findAllMatchIn(json.substring(start, end))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: execute every query once at the smallest SF so JIT +
    // whole-stage-codegen compilation and classloading don't get billed
    // to whichever queries happen to run first (measured as phantom
    // 10-30s on the first heavy plans otherwise). Steady-state numbers
    // are what a long-running cluster delivers.
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run (local spot-checks
    // of a single entry); unset = the full driver contract.
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.isEmpty || only(name) }
    val warmSf = sys.env.getOrElse("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    if (warmSf.nonEmpty)
      selected.foreach { case (_, fn) =>
        try fn(spark, warmSf).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    // Each query is timed at least `minReps` times and the MIN is
    // reported: a single timing is exposed to GC pauses from earlier
    // queries and host contention (round-2 numbers showed 8× run-to-run
    // variance on the same plan). Sub-second entries get extra reps (up
    // to `maxReps`): they are the most exposed to RELATIVE noise and the
    // cheapest to repeat — and a contended host can tax both of two
    // reps, so the per-rep times are emitted verbatim (`rep_times`,
    // -1 = that rep errored) for the record to be re-judged against a
    // rerun. A rep that errors while another succeeds no longer hides:
    // `errored_reps` counts every failed rep (a query is `failed` — and
    // the exit code nonzero — only when ALL its reps error).
    val minReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val maxReps = math.max(minReps,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_REPS", "4").toInt)
    val subSecond = 1.0
    // Calibration canary: a FIXED, data-independent, pure-CPU aggregate
    // (range → hash → sum, whole-stage codegen, zero input files) timed
    // at run start, middle, and end. Rep policies compare reps WITHIN a
    // run, so a host tax applied to the WHOLE run is invisible to them —
    // BENCH_r09 recorded 17-36× "regressions" on unchanged code because
    // every rep was equally contended. The canary's true cost is a
    // constant of the host, so its recorded values expose run-wide
    // contention directly: divide query times by canary drift (vs a
    // known-good run's canary) before calling anything a regression
    // (normalization rule in PERF.md). Warmed once untimed so codegen
    // compilation is not billed to the first sample.
    def canaryOnce(): Double = {
      // GC first: the canary should measure the HOST, but mid-run
      // samples otherwise absorb the benchmark's own accumulated heap
      // state (observed: clean-host end samples 4-5× the start sample
      // purely from GC pressure) — which would make within-run drift
      // chronically warn and mask real external taxes
      System.gc()
      val t0 = System.nanoTime()
      spark.range(50000000L).selectExpr("bit_xor(xxhash64(id)) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    canaryOnce() // warm the canary plan's codegen
    val canary = scala.collection.mutable.ListBuffer[Double](canaryOnce())
    var erroredReps = 0
    val ordered = selected.toSeq.sortBy(_._1)
    val midIdx = ordered.size / 2
    // Every timed rep is profiled (graft.Profiler): its window splits
    // into build_s + exec_s, and the record of the rep whose time is
    // reported (the min) is kept per entry.
    val profiler = new Profiler(spark)
    val profiles = scala.collection.mutable.Map.empty[String, Profiler.Record]
    def runOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        reps: scala.collection.mutable.ListBuffer[Double]): Unit = {
      try {
        val rec = profiler.profile(name)(fn(spark, sfDir))(
          _.write.format("noop").mode("overwrite").save())
        if (reps.forall(t => t < 0 || rec.seconds < t)) profiles(name) = rec
        reps += rec.seconds
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          reps += -1.0
          erroredReps += 1
      }
    }
    val measured = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx == midIdx && idx > 0) canary += canaryOnce()
      val reps = scala.collection.mutable.ListBuffer.empty[Double]
      (1 to minReps).foreach(_ => runOnce(name, fn, reps))
      def ok = reps.filter(_ >= 0)
      // Multi-second entries normally stop at minReps, but rep
      // disagreement is direct evidence of host contention (the
      // identical plan cannot legitimately vary that much — the driver
      // host has shown j1 [3.19, 10.71] (r4) and pipe_shred_roundtrip
      // [10.2, 99.7, 8.1] (r8), up to 8×). Spend extra reps, up to
      // maxReps, until the TWO FASTEST agree within 2× — i.e. the
      // reported min is corroborated by an independent uncontended
      // sample, not a lone survivor between two taxed reps. A real
      // regression shifts every rep, so it still reads as a regression;
      // contention outliers stay visible verbatim in `rep_times`.
      def minUncorroborated = ok.size >= 2 && {
        val s = ok.sorted; s(1) > 2.0 * s(0)
      }
      while (reps.size < maxReps && minUncorroborated) runOnce(name, fn, reps)
      while (reps.size < maxReps && (ok.isEmpty || ok.min < subSecond))
        runOnce(name, fn, reps)
      (name, fn, reps, idx)
    }
    canary += canaryOnce()
    // Canary-gated retry (r10 verdict: sp1/v3 drifts left "unratified"
    // because the canary warned but the taxed entries were never
    // re-sampled): when the two canary samples BOUNDING an entry's run
    // segment disagree >2× — contention arrived or left while that
    // segment ran — every entry in the segment gets ONE extra rep here,
    // after the tax was observed, so its reported min carries at least
    // one sample from outside the drift window. A real regression
    // survives the retry (all reps shift); a contention phantom does not.
    def segmentBounds(idx: Int): (Double, Double) =
      if (canary.size < 3 || idx < midIdx) (canary(0), canary(1))
      else (canary(1), canary(2))
    var retried = 0
    measured.foreach { case (name, fn, reps, idx) =>
      val (c0, c1) = segmentBounds(idx)
      if (math.max(c0, c1) > 2.0 * math.min(c0, c1)) {
        runOnce(name, fn, reps); retried += 1
      }
    }
    if (retried > 0) canary += canaryOnce()
    var failed = List.empty[String]
    val results = measured.map { case (name, _, reps, _) =>
      val ok = reps.filter(_ >= 0)
      if (ok.isEmpty) failed ::= name
      (name, if (ok.isEmpty) -1.0 else ok.min, reps.toList)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val repTimes = results.map { case (k, _, rs) =>
      "\"" + k + "\":" + rs.map(t => f"$t%.4f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    // contention self-diagnosis: samples disagreeing >3× within the run
    // (tax arrived mid-run) or an elevated START sample vs a known-good
    // run's (whole-run tax) both mark the record suspect. The threshold
    // is 3×, not 2×: even on an idle host, the later samples of a full
    // sf0.1 run sit ~2× above the start purely from the benchmark's own
    // JVM heap state (measured, with a pre-sample GC already applied) —
    // the cross-run same-position comparison in PERF.md is the primary
    // signal, the within-run flag catches only gross mid-run arrivals.
    val canaryStr = canary.map(t => f"$t%.4f").mkString("[", ",", "]")
    val canaryWarn = canary.max > 3.0 * canary.min
    // Shared-cache fill ledger (CacheFills): at reps=1 (the 10× pass) a
    // per-(session, dataset) cache is billed to whichever entry touches
    // it first — `fills` records each cache's own build time so the
    // record self-adjudicates (entry min − fill ≈ steady state) instead
    // of needing a manual steady-state probe per first-toucher. Warm-up
    // fills appear under the warm-up SF's key and are ignored by the
    // sfDir analysis.
    val fillsStr = CacheFills.snapshot.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    // Machine-adjudicable contention/regression signal (VERDICT r17
    // #5): median per-entry ratio vs the PREVIOUS durable record at
    // this path (the one about to be overwritten). ~1.0 = same code
    // same host; uniformly >1 with canary drift = contended record;
    // uniformly >1 with a clean canary = a real regression.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.nonEmpty) "" else "BENCH_LOCAL.json")
    val prevQueries =
      try {
        val p = java.nio.file.Paths.get(outPath)
        if (outPath.nonEmpty && java.nio.file.Files.exists(p)) {
          val prev = java.nio.file.Files.readString(p)
          // same-SF records only: a prior record at another scale
          // factor would fabricate a ~data-ratio "regression"
          if (parseSf(prev).contains(sfDir)) parseQueries(prev)
          else Map.empty[String, Double]
        } else Map.empty[String, Double]
      } catch { case _: Throwable => Map.empty[String, Double] }
    val vsPrev = vsPrevMedian(prevQueries,
      results.map { case (k, v, _) => k -> v }.toMap)
    val vsPrevStr = vsPrev.map(v => f"$v%.4f").getOrElse("null")
    // The stdout CONTRACT line stays rep_times-free (VERDICT r20 #3:
    // the driver keeps only a bounded stdout TAIL, and round 19's
    // one-liner grew past it — the ~40 KB rep-detail blob in the middle
    // pushed the line's head out of the capture, costing the round its
    // whole per-query PERF comparison). The per-rep detail still lands
    // on stdout as its own LABELED line first (never confusable with
    // the record), and the durable file keeps the full record.
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","minReps":$minReps,"agg":"min","canary":$canaryStr,"canary_warn":$canaryWarn,"retried":$retried,"errored_reps":$erroredReps,"fills":$fillsStr,"vs_prev_median":$vsPrevStr,"failed":${failed.size}}"""
    val jsonFull = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","minReps":$minReps,"agg":"min","rep_times":$repTimes,"canary":$canaryStr,"canary_warn":$canaryWarn,"retried":$retried,"errored_reps":$erroredReps,"fills":$fillsStr,"vs_prev_median":$vsPrevStr,"failed":${failed.size}}"""
    val profileStr = results.flatMap { case (k, _, _) =>
      profiles.get(k).map("\"" + k + "\":" + _.json) }.mkString("{", ",", "}")
    println(s"[bench] rep_times=$repTimes")
    if (outPath.isEmpty) println(s"[bench] profile=$profileStr")
    println(json)
    // Durable copy: BENCH_r10.json lost the first ~31 queries' timings
    // because the driver keeps only a bounded stdout TAIL of this
    // process — the one JSON line must also land in a file the repo
    // keeps (r10 verdict "bench record integrity"). Failure to write is
    // non-fatal: stdout remains the contract.
    // A SPARK_GRAFT_BENCH_ONLY spot-check must not clobber the full
    // durable record (r12: a 2-entry restricted run silently replaced
    // the 87-entry BENCH_LOCAL.json) — restricted runs stay
    // stdout-only unless an output path is explicitly requested.
    // (outPath resolved above, before the vs_prev_median read.)
    // The profile lands beside it: X.json -> X.profile.json.
    if (outPath.nonEmpty)
      Seq(outPath -> jsonFull,
          (outPath.stripSuffix(".json") + ".profile.json") -> profileStr)
        .foreach { case (path, body) =>
          try java.nio.file.Files.write(java.nio.file.Paths.get(path),
            (body + "\n").getBytes("UTF-8"))
          catch { case e: Throwable =>
            System.err.println(s"[bench] could not write $path: ${e.getMessage}") }
        }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
