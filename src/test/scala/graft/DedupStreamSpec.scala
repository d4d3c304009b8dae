package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.DocStream

/** Streaming near-dup dedup: greedy semantics, batching invariance, and
  * the bucketed index's kept-only content. The batch twin
  * `greedyKeepNearDups` is the oracle; the SAME docs streamed as one
  * micro-batch and as three must produce its exact decisions (the
  * semantics are invariant to how an id-ordered stream is chopped).
  */
class DedupStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // deterministic corpus: 6 near-dup groups (a base doc + 1-2 variants
  // differing in 2 of ~40 words — word-3-gram Jaccard stays high), 10
  // unique docs, and one too-short doc (no shingles, trivially kept)
  private lazy val docs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(11)
    val vocab = Array("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "nov",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    def freshText() = Array.fill(40)(vocab(rnd.nextInt(vocab.length)))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    (0 until 6).foreach { g =>
      val base = freshText()
      out += ((id, base.mkString(" "))); id += 1
      (0 until (g % 2) + 1).foreach { _ =>
        val v = base.clone()
        v(rnd.nextInt(40)) = vocab(rnd.nextInt(vocab.length))
        v(rnd.nextInt(40)) = vocab(rnd.nextInt(vocab.length))
        out += ((id, v.mkString(" "))); id += 1
      }
    }
    (0 until 10).foreach { _ => out += ((id, freshText().mkString(" "))); id += 1 }
    out += ((id, "too short")); id += 1
    out.toSeq
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def runStream(files: Seq[Seq[(Long, String)]],
      onePerTrigger: Boolean): Set[(Long, Boolean, Option[Long])] = {
    val srcDir = Files.createTempDirectory("graft_nd_src").toString
    val indexDir = Files.createTempDirectory("graft_nd_idx").toString + "/idx"
    val outDir = Files.createTempDirectory("graft_nd_out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft_nd_ck").toString
    files.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      // distinct mtimes so the file source's batch order is the id order
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src0 = spark.readStream.schema(docSchema)
    val src = (if (onePerTrigger) src0.option("maxFilesPerTrigger", "1") else src0)
      .option("latestFirst", "false")
      .parquet(s"$srcDir/*")
    val q = DocStream.nearDupFilter(src, indexDir, outDir, ckDir,
        threshold = 0.5)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // index holds ONLY kept docs' entries
    val keptIds = spark.read.parquet(outDir).filter(col("kept"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val indexed = spark.read.parquet(indexDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed.subsetOf(keptIds), "index contains dropped docs")
    assert((keptIds -- indexed).forall(id =>
      docs.toMap.apply(id).split(" ").length < 3),
      "a shingled kept doc is missing from the index")
    spark.read.parquet(outDir)
      .select("doc_id", "kept", "matched_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
  }

  test("streaming greedy near-dup dedup equals the batch twin under any chopping") {
    val expected = DocStream
      .greedyKeepNearDups(docs.toDF("doc_id", "text"), threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    // the fixture must exercise both outcomes
    assert(expected.exists(!_._2), "no near-dups found — fixture is vacuous")
    assert(expected.count(_._2) >= 10, "almost everything deduped — fixture broken")
    // every match names an earlier KEPT doc
    val keptSet = expected.filter(_._2).map(_._1)
    expected.foreach { case (id, kept, m) =>
      if (!kept) assert(m.exists(e => e < id && keptSet(e)), s"doc $id match $m")
      else assert(m.isEmpty)
    }

    // one micro-batch
    val oneShot = runStream(Seq(docs), onePerTrigger = false)
    assert(oneShot === expected, "single-batch stream diverged from batch twin")
    // three id-ordered micro-batches splitting dup groups across batches
    val chopped = runStream(
      Seq(docs.take(7), docs.slice(7, 15), docs.drop(15)), onePerTrigger = true)
    assert(chopped === expected, "chopped stream diverged from batch twin")
  }

  // planted vector clusters: members of one cluster are near-dups of
  // each other (center ± small noise at dim 16), cluster centers are not
  private lazy val vecs: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8, 16)((rnd.nextDouble() * 2 - 1).toFloat)
    for (c <- 0 until 8; i <- 0 until 5) yield {
      val v = centers(c).map(x => x + (rnd.nextDouble() * 0.05 - 0.025).toFloat)
      ((c * 5 + i).toLong, v)
    }
  }

  test("streaming embedding near-dup dedup equals its batch twin under any chopping") {
    import graft.streaming.EmbedStream
    def decide(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "kept", "matched_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val vecDf = vecs.toDF("vec_id", "embedding")
    val expected = decide(EmbedStream.greedyKeepNearDups(vecDf,
      threshold = 0.98, bits = 8, dim = 16))
    assert(expected.exists(!_._2), "no vector near-dups — fixture vacuous")
    assert(expected.count(_._2) >= 8, "every cluster must keep its first member")

    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def run(files: Seq[Seq[(Long, Array[Float])]], onePer: Boolean) = {
      val srcDir = Files.createTempDirectory("graft_ev_src").toString
      val base = Files.createTempDirectory("graft_ev_nd").toString
      files.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("vec_id", "embedding").coalesce(1)
          .write.mode("overwrite").parquet(s"$srcDir/f$i")
        new java.io.File(s"$srcDir/f$i").listFiles()
          .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      }
      val src0 = spark.readStream.schema(vecSchema)
      val src = (if (onePer) src0.option("maxFilesPerTrigger", "1") else src0)
        .parquet(s"$srcDir/*")
      val q = EmbedStream.nearDupFilter(src, s"$base/idx", s"$base/out",
          s"$base/ck", threshold = 0.98, bits = 8, dim = 16)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      decide(spark.read.parquet(s"$base/out"))
    }
    assert(run(Seq(vecs), onePer = false) === expected,
      "single-batch vector stream diverged from batch twin")
    assert(run(Seq(vecs.take(13), vecs.slice(13, 27), vecs.drop(27)),
      onePer = true) === expected,
      "chopped vector stream diverged from batch twin")
  }

  test("crash-replay of a batch over its own indexed entries reproduces the original decisions") {
    // the crash window: index append landed, checkpoint commit did not —
    // the batch re-executes and finds its OWN kept docs in the index at
    // estimate 1.0. Simulated by re-running the same file through a
    // FRESH checkpoint against the same index/out dirs (same batchId 0,
    // same dynamic-overwrite target). Without the self-match guard every
    // previously-kept shingled doc was rewritten as dropped-matching-
    // itself (review r10).
    val srcDir = Files.createTempDirectory("graft_ndr_src").toString
    val base = Files.createTempDirectory("graft_ndr").toString
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$srcDir/f0")
    def drain(ck: String): Unit = {
      val src = spark.readStream.schema(docSchema).parquet(s"$srcDir/*")
      val q = DocStream.nearDupFilter(src, s"$base/idx", s"$base/out",
          s"$base/$ck", threshold = 0.5)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def decisions() = spark.read.parquet(s"$base/out")
      .select("doc_id", "kept", "matched_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    drain("ck1")
    val original = decisions()
    assert(original.exists(_._2), "fixture kept nothing")
    drain("ck2") // the replay
    assert(decisions() === original,
      "replayed batch diverged from its original decisions")
  }

  test("duplicate-storm batch: N identical docs collapse to one rep, bounded driver rows, twin-exact decisions") {
    // the r10-verdict adversarial case: a crawl micro-batch re-emitting
    // one page many times. Pre-collapse must reduce the storm to ONE
    // representative (so the pair join and driver fold never see O(N²))
    // while the decisions still equal the uncollapsed greedy: storm min
    // kept, every other storm doc dropped matching it.
    val stormText = Array.fill(40)("storm").zipWithIndex
      .map { case (w, i) => s"$w${i % 7}" }.mkString(" ")
    val stormIds = (100L until 400L)
    val storm = stormIds.map(id => (id, stormText))
    val all = docs ++ storm

    // collapse-level assertion: the 300 storm docs yield exactly one rep
    val sigs = graft.operators.DedupOps.minHashSignatures(
      graft.operators.DedupOps.shingles(
        all.toDF("doc_id", "text"), "doc_id", "text", 3), 32)
      .select(col("doc_id").cast("long").as("doc_id"), col("sig"))
    val (reps, members) = DocStream.collapse(sigs)
    val repIds = reps.select("doc_id").collect().map(_.getLong(0)).toSet
    val memberRows = members.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repIds.intersect(stormIds.toSet) === Set(100L),
      "storm must collapse to its smallest id")
    assert(memberRows === stormIds.drop(1).map(id => (id, 100L)).toSet,
      "every other storm doc must be a member of rep 100")

    // decision-level: batch twin and a single-batch stream both produce
    // the exact greedy outcome for the storm
    val expectedStorm: Set[(Long, Boolean, Option[Long])] =
      Set((100L, true, None)) ++
        stormIds.drop(1).map(id => (id, false, Some(100L)))
    val twin = DocStream
      .greedyKeepNearDups(all.toDF("doc_id", "text"), threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(twin.filter(t => stormIds.contains(t._1)) === expectedStorm,
      "batch twin storm decisions wrong")
    // non-storm docs keep their original (storm-free) decisions: the
    // storm text shares no shingles with the fixture corpus
    val baseline = DocStream
      .greedyKeepNearDups(docs.toDF("doc_id", "text"), threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(twin.filter(t => !stormIds.contains(t._1)) === baseline,
      "storm perturbed unrelated docs")

    val streamed = runStream(Seq(all), onePerTrigger = false)
    assert(streamed === twin, "storm stream diverged from batch twin")
    // chopped so the storm spans batches: later chunks must cross-match
    // the indexed rep from the first
    val chopped = runStream(
      Seq(all.take(30), all.slice(30, 200), all.drop(200)),
      onePerTrigger = true)
    assert(chopped === twin, "chopped storm stream diverged from batch twin")
  }

  test("collidingPairs cap keeps the smallest earlier colliders per later doc") {
    // 70 docs sharing one band key with identical signatures (calling the
    // pair finder directly, below the collapse) — uncapped this is 2415
    // driver rows; capped at 8 each later doc keeps only its 8 smallest
    // earlier colliders, the fail-open bound
    val k = 4
    val entries = (0L until 70L).toSeq
      .map(id => (id, Seq(1L, 2L, 3L, 4L), "b0"))
      .toDF("doc_id", "sig", "band_key")
    val pairs = DocStream.collidingPairs(entries, k, threshold = 0.5,
        maxCandidates = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byLater = pairs.groupBy(_._2)
    assert(byLater.values.forall(_.length <= 8), "cap exceeded")
    assert(byLater(69L).map(_._1).toSet === (0L until 8L).toSet,
      "cap must keep the SMALLEST earlier ids")
    assert(pairs.length === (1 until 70).map(i => math.min(i, 8)).sum)
  }

  test("duplicate-storm vectors: identical embeddings collapse and match the twin") {
    import graft.streaming.EmbedStream
    val stormVec = Array.tabulate(16)(i => (0.1f * (i + 1)))
    val stormIds = (1000L until 1100L)
    val all = vecs ++ stormIds.map(id => (id, stormVec))
    def decide(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "kept", "matched_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val twin = decide(EmbedStream.greedyKeepNearDups(
      all.toDF("vec_id", "embedding"), threshold = 0.98, bits = 8, dim = 16))
    val expectedStorm: Set[(Long, Boolean, Option[Long])] =
      Set((1000L, true, None)) ++
        stormIds.drop(1).map(id => (id, false, Some(1000L)))
    assert(twin.filter(t => stormIds.contains(t._1)) === expectedStorm,
      "vector storm decisions wrong")

    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val srcDir = Files.createTempDirectory("graft_evs_src").toString
    val base = Files.createTempDirectory("graft_evs_nd").toString
    all.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$srcDir/f0")
    val src = spark.readStream.schema(vecSchema).parquet(s"$srcDir/*")
    val q = EmbedStream.nearDupFilter(src, s"$base/idx", s"$base/out",
        s"$base/ck", threshold = 0.98, bits = 8, dim = 16)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(decide(spark.read.parquet(s"$base/out")) === twin,
      "vector storm stream diverged from batch twin")
    // the index holds the storm rep once, never the members
    val indexed = spark.read.parquet(s"$base/idx")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed.intersect(stormIds.toSet) === Set(1000L),
      "storm members leaked into the index")
  }

  test("compacting the index between stream runs changes decisions not at all") {
    // the maintenance pass DocStream's scaladoc promises: between two
    // AvailableNow runs of the SAME checkpointed stream, compact the
    // band-bucketed index (merging per-batch files, dropping any exact
    // duplicates) — the continued stream must still produce the batch
    // twin's exact decisions
    import graft.operators.Compaction
    val expected = DocStream
      .greedyKeepNearDups(docs.toDF("doc_id", "text"), threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet

    val srcDir = Files.createTempDirectory("graft_ndc_src").toString
    val base = Files.createTempDirectory("graft_ndc").toString
    val (indexDir, outDir, ckDir) = (s"$base/idx", s"$base/out", s"$base/ck")
    def writeFile(rows: Seq[(Long, String)], i: Int): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    def drain(): Unit = {
      val src = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        .parquet(s"$srcDir/*")
      val q = DocStream.nearDupFilter(src, indexDir, outDir, ckDir,
          threshold = 0.5)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile(docs.take(7), 0); writeFile(docs.slice(7, 15), 1)
    drain()
    val before = spark.read.parquet(indexDir)
      .collect().map(_.toString).toSet
    val rewritten = Compaction.compact(spark, indexDir, "_bucket",
      maxFiles = 1, dropExactDuplicates = true)
    assert(rewritten.nonEmpty, "two batches left no bucket with 2 files")
    assert(spark.read.parquet(indexDir).collect().map(_.toString).toSet
      === before, "compaction changed index content")
    writeFile(docs.drop(15), 2)
    drain()
    val decisions = spark.read.parquet(outDir)
      .select("doc_id", "kept", "matched_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(decisions === expected,
      "stream continued over a compacted index diverged from batch twin")
  }

  test("a restart with a different nBuckets reads the stored bucket count") {
    // the index is laid out under the FIRST run's modulus; a restart
    // configured with another one must still find those entries, or the
    // variants streamed after it would be kept as new docs
    val expected = DocStream
      .greedyKeepNearDups(docs.toDF("doc_id", "text"), threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val late = Set(1L, 6L, 11L) // one variant each of groups 0, 2 and 4
    assert(late.forall(id => expected.exists(d => d._1 == id && !d._2)),
      "fixture: the late variants must be near-dups")
    val srcDir = Files.createTempDirectory("graft_ndb_src").toString
    val base = Files.createTempDirectory("graft_ndb").toString
    val (indexDir, outDir, ckDir) = (s"$base/idx", s"$base/out", s"$base/ck")
    def drain(rows: Seq[(Long, String)], i: Int, nBuckets: Int): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      val src = spark.readStream.schema(docSchema).parquet(s"$srcDir/*")
      DocStream.nearDupFilter(src, indexDir, outDir, ckDir, threshold = 0.5,
          nBuckets = nBuckets)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    drain(docs.filterNot(d => late(d._1)), 0, nBuckets = 64)
    drain(docs.filter(d => late(d._1)), 1, nBuckets = 2)
    val decisions = spark.read.parquet(outDir)
      .select("doc_id", "kept", "matched_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(decisions === expected)
  }
}
