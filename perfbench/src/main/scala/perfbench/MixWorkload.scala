package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.{CacheFills, SparkEntry}

/** query_mix: 12 inventory entries, each written to the `noop` sink as
  * `graft.Bench` does, in a fresh seeded order every pass.
  *
  * Selection rule: the median entry of each of the 12 `QueryPack`s
  * (the lower median when a pack has an even count), ranked by its time
  * in the committed sf0.1 bench record (`BENCH_LOCAL.json`);
  * `perfbench/selection.py` re-derives the list. Set-up runs one pass,
  * which fills every session store the entries touch and writes each
  * entry's output to parquet for the DuckDB oracle check.
  */
final class MixWorkload(spark: SparkSession, tracer: Tracer, o: Main.Opts,
    rng: scala.util.Random, res: Main.Result) {
  import Main._

  private val packOf: Map[String, String] = SparkEntry.packs.flatMap { p =>
    val pack = p.getClass.getSimpleName.stripSuffix("$")
    p.queries.map(_.name -> pack)
  }.toMap
  private val fns = SparkEntry.queries

  private def runEntry(name: String, phase: String): Unit =
    tracer.span(s"queries.$name", phase) {
      fns(name)(spark, o.data).write.format("noop").mode("overwrite").save()
    }

  def run(): Unit = {
    val entries = MixWorkload.Entries
    val missing = entries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(",")}")

    // set-up: one pass that fills every session store the entries use
    // and writes each entry's output to parquet for the oracle check in
    // run.py
    val out = s"${o.work}/check"
    new File(out).mkdirs()
    val t0 = System.nanoTime()
    tracer.span("cache.warm_pass", "setup") {
      entries.foreach { e =>
        try tracer.span(s"queries.$e", "setup") {
          fns(e)(spark, o.data).write.mode("overwrite").parquet(s"$out/$e")
        } catch { case ex: Throwable => res.check(s"warm_$e", ok = false, ex.toString) }
      }
    }
    res.setupS += (System.nanoTime() - t0) / 1e9
    res.fields("fills") = CacheFills.snapshot
    // session-store bytes: what the block manager holds for the RDDs the
    // fills persisted (memory + disk), plus the on-disk artifact stores
    // (`Artifacts.tempArtifactDir`: graft_* directories under
    // java.io.tmpdir). Stores held as driver-side collections are not
    // counted.
    // Persisted RDDs that nothing references any more are dropped by
    // Spark's ContextCleaner after a GC; let it run first, so the figure
    // counts what the entries keep and not when the last GC happened.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val blockBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val artifactBytes = Option(new File(System.getProperty("java.io.tmpdir")).listFiles)
      .getOrElse(Array.empty[File]).filter(_.getName.startsWith("graft_"))
      .map(f => dirUsage(f.getPath)._1).sum
    res.fields("store_parts") = Map("block_bytes" -> blockBytes, "artifact_bytes" -> artifactBytes)
    res.fields("stored_bytes") = blockBytes + artifactBytes
    res.fields("input_bytes") = dirUsage(o.data)._1
    res.fields("pack_of") = entries.map(e => e -> packOf(e)).toMap

    Main.startTimedPart(res)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tRun = System.nanoTime()
    // whole passes only, at least two: a pass is the latency sample;
    // another one starts while the previous pass's time says it will end
    // within the run's seconds. A traced run alternates traced and
    // untraced passes and makes at least three, so the traced ones
    // bracket an untraced one.
    val minPasses = if (o.trace) 3 else 2
    while (passes.size < minPasses ||
        (System.nanoTime() - tRun) / 1e9 + passes.last < o.seconds) {
      val traced = o.trace && passes.size % 2 == 0
      if (o.trace) tracer.setTracing(traced)
      val tPass = System.nanoTime()
      tracer.span("bench.pass", "run") {
        rng.shuffle(entries).foreach { e =>
          val t1 = System.nanoTime()
          val op = try { runEntry(e, "run"); Op("entry", nowMs(t1), ok = true, traced, e) }
          catch { case ex: Throwable => Op("entry", -1, ok = false, traced, s"$e: $ex") }
          res.ops += op
        }
      }
      passes += (System.nanoTime() - tPass) / 1e9
    }
    Main.endTimedPart(res)
    tracer.setTracing(o.trace)
    res.fields("pass_s") = passes.toSeq

    res.fields("oracle_sql") = SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) }
    res.fields("check_dir") = out
  }
}

object MixWorkload {
  /** The entries; `perfbench/selection.py` shows how they were chosen. */
  val Entries: Seq[String] = Seq(
    "x10_snapshot_diff", "d15_dup_pagerank", "e12_transition_matrix",
    "g1_secure_view_agg", "m9_decode_png", "pipe_shred_fast",
    "h10_returned_items", "b6_passage_topk", "sp4_source_quota",
    "n20_ivfpq_topk", "t35_bpe_token_ids", "v2_shred_agg")
}
