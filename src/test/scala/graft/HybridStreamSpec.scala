package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{RetrievalQueries, TextQueries}
import graft.streaming.HybridStream

/** Streaming hybrid serving parity (VERDICT r17 #2): a query-string
  * stream answered per micro-batch by artifact-served BM25 +
  * artifact-served IVF-PQ + integer RRF must produce EXACTLY the batch
  * b13 entry's fused lists — in one micro-batch, chopped one file per
  * trigger, or with duplicated rows (the StreamComposeSpec discipline
  * for the fused contract), and crash replay must be invisible.
  */
class HybridStreamSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val queries = RetrievalQueries.Queries

  private def results(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long, Long, Long)] =
    df.select("query_id", "rnk", "doc_id", "rrf_e12", "n_lists")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet

  private val qSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("q_text", StringType)))

  private def run(files: Seq[Seq[(Long, String)]], onePer: Boolean,
      allowed: Option[org.apache.spark.sql.DataFrame] = None)
      : (String, Set[(Long, Int, Long, Long, Long)]) = {
    val srcDir = Files.createTempDirectory("graft_hyb_src").toString
    val base = Files.createTempDirectory("graft_hyb").toString
    files.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("query_id", "q_text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
    }
    val src0 = spark.readStream.schema(qSchema)
    val src = (if (onePer) src0.option("maxFilesPerTrigger", "1") else src0)
      .option("latestFirst", "false").parquet(s"$srcDir/*")
    val bm25Dir = RetrievalQueries.servedBm25Dir(spark, sf)
    val tableDir = RetrievalQueries.servedTokenEmbDir(spark, sf)
    val annDir = RetrievalQueries.servedTokenIvfPqDir(spark, sf)
    val merges = TextQueries.frozenByteMerges(spark, sf)
    val knobs = graft.operators.IvfPq.loadKnobs(spark, annDir).get
    val q = HybridStream.serve(src, bm25Dir, tableDir, annDir,
        merges, TextQueries.BpePat, s"$base/out", s"$base/ck",
        k = RetrievalQueries.HybK, nprobe = knobs.nprobe,
        kCand = knobs.kCand, dims = RetrievalQueries.TokDims,
        grantPairs = allowed)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (base, results(spark.read.parquet(s"$base/out")))
  }

  test("fused streamed serving ≡ batch b13 under any chopping; duplicates collapse") {
    val expected = results(
      SparkEntry.queries("b13_hybrid_ann_served")(spark, sf))
    assert(expected.nonEmpty, "batch b13 reference is empty")
    assert(run(Seq(queries), onePer = false)._2 === expected,
      "single-batch fused stream diverged from batch b13")
    assert(run(Seq(queries.take(1), queries.slice(1, 2), queries.drop(2)),
      onePer = true)._2 === expected,
      "chopped fused stream diverged from batch b13")
    // at-least-once delivery within a batch: a duplicated query row
    // must not double either leg's RRF contributions
    assert(run(Seq(queries ++ queries.take(1)), onePer = false)._2 === expected,
      "duplicated query rows corrupted the fusion")
  }

  test("scoped stream ≡ batch b14: the grant applies per batch, chopped or not (VERDICT r18 #3)") {
    val expected = results(
      SparkEntry.queries("b14_hybrid_filtered")(spark, sf))
    assert(expected.nonEmpty, "batch b14 reference is empty")
    val allowed = Tables.load(spark, sf, "documents")
      .filter(col("source").isin(RetrievalQueries.ScopeSources: _*))
      .select("doc_id")
    assert(run(Seq(queries), onePer = false,
      allowed = Some(allowed))._2 === expected,
      "single-batch scoped stream diverged from batch b14")
    assert(run(Seq(queries.take(1), queries.drop(1)), onePer = true,
      allowed = Some(allowed))._2 === expected,
      "chopped scoped stream diverged from batch b14")
    // every served doc passes the grant — the governance invariant
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    assert(expected.forall(r => allowedSet(r._3)),
      "a doc outside the grant leaked into the scoped results")
  }

  private val aSchema = StructType(Seq(StructField("account", StringType),
    StructField("query_id", LongType), StructField("q_text", StringType)))

  private def grantPairs = Tables.load(spark, sf, "documents")
    .join(RetrievalQueries.GrantRows.toDF("account", "source"),
      Seq("source"))
    .select("account", "doc_id")

  private val aRows = RetrievalQueries.GrantRows.map(_._1).distinct
    .flatMap(a => queries.map { case (qid, t) => (a, qid, t) })

  /** One AvailableNow per-account serve of `rows` (one batch) under
    * `grantPairs`, as (account, query_id, rnk, doc_id, rrf_e12, n_lists)
    * strings.
    */
  private def serveAccounts(rows: Seq[(String, Long, String)]): Set[String] = {
    val srcDir = Files.createTempDirectory("graft_hyb_acct_src").toString
    val base = Files.createTempDirectory("graft_hyb_acct").toString
    rows.toDF("account", "query_id", "q_text").coalesce(1).write.parquet(s"$srcDir/f0")
    val annDir = RetrievalQueries.servedTokenIvfPqDir(spark, sf)
    val knobs = graft.operators.IvfPq.loadKnobs(spark, annDir).get
    HybridStream.serve(spark.readStream.schema(aSchema).parquet(s"$srcDir/*"),
        RetrievalQueries.servedBm25Dir(spark, sf),
        RetrievalQueries.servedTokenEmbDir(spark, sf), annDir,
        TextQueries.frozenByteMerges(spark, sf), TextQueries.BpePat,
        s"$base/out", s"$base/ck", k = RetrievalQueries.HybK,
        nprobe = knobs.nprobe, kCand = knobs.kCand,
        dims = RetrievalQueries.TokDims, grantPairs = Some(grantPairs))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.read.parquet(s"$base/out")
      .select("account", "query_id", "rnk", "doc_id", "rrf_e12", "n_lists")
      .collect().map(_.toString).toSet
  }

  test("two accounts sending one query_id with different texts each get their own text's answer") {
    val Seq(a, b) = RetrievalQueries.GrantRows.map(_._1).distinct.take(2)
    val (qid, textA) = queries.head
    val textB = queries(1)._2
    val alone = Seq((a, qid, textA), (b, qid, textB)).map(r => serveAccounts(Seq(r)))
    assert(alone.forall(_.nonEmpty), "a single-account serve is empty")
    assert(serveAccounts(Seq((a, qid, textA), (b, qid, textB))) === alone.reduce(_ ++ _),
      "an account's fused result used another account's query text")
  }

  test("scoped stream prices the grant's stats ONCE at definition: no batch plan ever scans the docs store (VERDICT r19 #3)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val bm25Dir = RetrievalQueries.servedBm25Dir(spark, sf)
    val knobs = graft.operators.IvfPq.loadKnobs(
      spark, RetrievalQueries.servedTokenIvfPqDir(spark, sf)).get
    def scanPaths(p: SparkPlan): Seq[String] = (p match {
      case a: AdaptiveSparkPlanExec => scanPaths(a.executedPlan)
      case q: QueryStageExec => scanPaths(q.plan)
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
      case o => o.children.flatMap(scanPaths)
    }) ++ p.subqueries.flatMap(scanPaths)
    def rows(df: DataFrame, cols: Seq[String]): Set[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).toSet
    def check(name: String, grant: DataFrame, files: Seq[DataFrame],
        schema: StructType, expected: Set[String], cols: Seq[String]): Unit = {
      assert(expected.nonEmpty, s"$name: batch reference is empty")
      val srcDir = Files.createTempDirectory("graft_hyb_stat_src").toString
      val base = Files.createTempDirectory("graft_hyb_stat").toString
      files.zipWithIndex.foreach { case (f, i) =>
        f.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/f$i")
        new java.io.File(s"$srcDir/f$i").listFiles()
          .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      }
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
        .parquet(s"$srcDir/*")
      // stream DEFINITION (grant snapshot + its stats priced here) …
      val writer = HybridStream.serve(src, bm25Dir,
        RetrievalQueries.servedTokenEmbDir(spark, sf),
        RetrievalQueries.servedTokenIvfPqDir(spark, sf),
        TextQueries.frozenByteMerges(spark, sf), TextQueries.BpePat,
        s"$base/out", s"$base/ck", k = RetrievalQueries.HybK,
        nprobe = knobs.nprobe, kCand = knobs.kCand,
        dims = RetrievalQueries.TokDims, grantPairs = Some(grant))
      // … then EVERY scan in every executed batch plan is recorded; the
      // docs store must never appear (the grant's N/avgdl are a frozen
      // local frame, not a per-trigger corpus pass)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          scanPaths(qe.executedPlan).foreach(seen.add)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val got =
        try {
          val q = writer.trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          Thread.sleep(500)
          rows(spark.read.parquet(s"$base/out"), cols)
        } finally spark.listenerManager.unregister(listener)
      assert(got === expected,
        s"$name: hoisted-stats stream diverged from its batch entry")
      import scala.jdk.CollectionConverters._
      val scans = seen.asScala.toSeq
      assert(scans.nonEmpty, s"$name: listener saw no scans — window broken")
      val docScans = scans.filter(_.contains(s"$bm25Dir/docs"))
      assert(docScans.isEmpty,
        s"$name: a batch plan re-scanned the docs store for frozen-grant stats: $docScans")
    }
    val cols = Seq("query_id", "rnk", "doc_id", "rrf_e12", "n_lists")
    check("scoped",
      Tables.load(spark, sf, "documents")
        .filter(col("source").isin(RetrievalQueries.ScopeSources: _*))
        .select("doc_id"),
      Seq(queries.take(1), queries.drop(1)).map(_.toDF("query_id", "q_text")),
      qSchema,
      rows(SparkEntry.queries("b14_hybrid_filtered")(spark, sf), cols), cols)
    val aCols = "account" +: cols
    check("per-account", grantPairs,
      Seq(aRows.take(2), aRows.drop(2))
        .map(_.toDF("account", "query_id", "q_text")),
      aSchema,
      rows(SparkEntry.queries("b15_hybrid_multi_grant")(spark, sf), aCols),
      aCols)
  }

  private def copyDir(from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    ()
  }

  test("serve-while-retrain: the swap is never observed torn; redefinition picks up the retrained model (VERDICT r18 #5)") {
    import graft.operators.IvfPq
    // a private COPY of the b13 artifact, so retraining it cannot
    // disturb the session-shared serving caches other tests read
    val base = Files.createTempDirectory("graft_hyb_swap").toString
    val idx = s"$base/idx"
    copyDir(RetrievalQueries.servedTokenIvfPqDir(spark, sf), idx)
    val bm25Dir = RetrievalQueries.servedBm25Dir(spark, sf)
    val tableDir = RetrievalQueries.servedTokenEmbDir(spark, sf)
    val merges = TextQueries.frozenByteMerges(spark, sf)
    val knobs0 = IvfPq.loadKnobs(spark, idx).get
    val srcDir = s"$base/src"
    // one stream SESSION = one model snapshot: serve() loads the model
    // at definition; each phase below publishes ONE more query file,
    // redefines over the same dir, and drains it through the SAME
    // checkpoint (AvailableNow catches up on exactly the new file)
    def servePhase(i: Int): Set[(Long, Int, Long, Long, Long)] = {
      Seq(queries(i)).toDF("query_id", "q_text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$i")
      new java.io.File(s"$srcDir/f$i").listFiles()
        .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      val src = spark.readStream.schema(qSchema)
        .option("latestFirst", "false").parquet(s"$srcDir/*")
      val q = HybridStream.serve(src, bm25Dir, tableDir, idx, merges,
          TextQueries.BpePat, s"$base/out", s"$base/ck",
          k = RetrievalQueries.HybK, nprobe = knobs0.nprobe,
          kCand = knobs0.kCand, dims = RetrievalQueries.TokDims)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      results(spark.read.parquet(s"$base/out"))
    }
    // the full-stream reference under the ORIGINAL model
    val expectedOld = results(
      SparkEntry.queries("b13_hybrid_ann_served")(spark, sf))
    val (cents0, _) = IvfPq.loadModel(spark, idx)

    // phase 1: serve query 0 under the original artifact
    val after1 = servePhase(0)
    assert(after1.nonEmpty && after1.subsetOf(expectedOld),
      "phase-1 results must come from the original model")

    // TORN-SWAP WINDOW: a retrain that died between its two renames
    // leaves live missing and the artifact at .retired — a redefined
    // serve session must self-heal (loadModel → recoverRetired) and
    // keep answering under the OLD model, never a torn mix
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(idx)
    val fs = live.getFileSystem(conf)
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(idx + ".retired")))
    val after2 = servePhase(1)
    assert(after2 === after1 ++ expectedOld.filter(_._1 == 1L),
      "the healed session must serve query 1 under the old model")

    // retrain + swap (atomic stage-then-rename), then REDEFINE: the new
    // session answers under the retrained model — compare against a
    // batch run with the freshly loaded state
    IvfPq.retrain(spark, idx, nlist = 8, m = RetrievalQueries.TokM,
      k = RetrievalQueries.TokPqK, coarseIters = 2, pqIters = 2,
      dims = RetrievalQueries.TokDims)
    val (cents1, books1) = IvfPq.loadModel(spark, idx)
    assert(cents1.length === 8 && cents1.length != cents0.length,
      "retrain must have replaced the coarse model")
    val after3 = servePhase(2)
    val batchNew = {
      val table = graft.operators.TokenEmbeddingTable.load(spark, tableDir)
      val lex = graft.operators.Bm25.servedTopK(spark, bm25Dir,
          queries.drop(2), RetrievalQueries.HybK)
        .select("query_id", "doc_id", "rnk")
      val qvecs = graft.operators.TokenEmbeddingTable.queryVecs(
        queries.drop(2).toDF("doc_id", "text"), merges,
        TextQueries.BpePat, table)
      val dense = IvfPq.searchRerankDf(
          spark.read.parquet(s"$idx/codes"),
          spark.read.parquet(s"$idx/vectors"), qvecs, cents1, books1,
          nprobe = knobs0.nprobe, kCand = knobs0.kCand,
          k = RetrievalQueries.HybK, dims = RetrievalQueries.TokDims,
          excludeSelf = false)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rnk"))
      results(graft.operators.RankFusion.rrf(Seq(lex, dense),
          RetrievalQueries.HybK)
        .withColumn("_batch_id", lit(0L)))
    }
    assert(after3 === after2 ++ batchNew,
      "the redefined session must serve query 2 under the retrained model")
  }

  test("crash replay overwrites its own batch partition") {
    val (base, first) = run(Seq(queries), onePer = false)
    // simulate a replay of batch 0: the same fused result written again
    // under the same _batch_id must overwrite, not append
    BatchSink.writeBatch(SparkEntry.queries("b13_hybrid_ann_served")(spark, sf),
      s"$base/out", 0L)
    assert(results(spark.read.parquet(s"$base/out")) === first,
      "replayed batch must overwrite its own partition, not append")
  }

  test("multi-grant stream ≡ batch b15: every account under its own grant, chopped or not; stats priced once") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val expected = SparkEntry.queries("b15_hybrid_multi_grant")(spark, sf)
      .select("account", "query_id", "rnk", "doc_id", "rrf_e12", "n_lists")
      .collect().map(_.toString).toSet
    assert(expected.nonEmpty, "batch b15 reference is empty")
    def runPG(files: Seq[Seq[(String, Long, String)]], onePer: Boolean)
        : Set[String] = {
      val srcDir = Files.createTempDirectory("graft_hybmg_src").toString
      val base = Files.createTempDirectory("graft_hybmg").toString
      files.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("account", "query_id", "q_text").coalesce(1)
          .write.mode("overwrite").parquet(s"$srcDir/f$i")
        new java.io.File(s"$srcDir/f$i").listFiles()
          .foreach(f => f.setLastModified(1700000000000L + i * 60000L))
      }
      val src0 = spark.readStream.schema(aSchema)
      val src = (if (onePer) src0.option("maxFilesPerTrigger", "1")
        else src0)
        .option("latestFirst", "false").parquet(s"$srcDir/*")
      val annDir = RetrievalQueries.servedTokenIvfPqDir(spark, sf)
      val knobs = graft.operators.IvfPq.loadKnobs(spark, annDir).get
      // record every file scan executed by the stream's batch plans:
      // the docs store must appear in NONE of them (per-account stats
      // are a frozen definition-time frame, as for a scoped grant)
      def scanPaths(p: SparkPlan): Seq[String] = (p match {
        case a: AdaptiveSparkPlanExec => scanPaths(a.executedPlan)
        case q: QueryStageExec => scanPaths(q.plan)
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString)
        case other => Seq.empty
      }) ++ p.children.flatMap(scanPaths) ++
        p.subqueries.flatMap(scanPaths)
      val seen = java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          scanPaths(qe.executedPlan).foreach { p => seen.add(p); () }
          ()
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      val writer = HybridStream.serve(src,
        RetrievalQueries.servedBm25Dir(spark, sf),
        RetrievalQueries.servedTokenEmbDir(spark, sf), annDir,
        TextQueries.frozenByteMerges(spark, sf), TextQueries.BpePat,
        s"$base/out", s"$base/ck", k = RetrievalQueries.HybK,
        nprobe = knobs.nprobe, kCand = knobs.kCand,
        dims = RetrievalQueries.TokDims, grantPairs = Some(grantPairs))
      spark.listenerManager.register(listener)
      try {
        val q = writer.trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        Thread.sleep(500)
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      val docScans = seen.asScala.filter(_.contains("/docs"))
      assert(docScans.isEmpty,
        s"a batch plan re-scanned the docs store: $docScans")
      spark.read.parquet(s"$base/out")
        .select("account", "query_id", "rnk", "doc_id", "rrf_e12",
          "n_lists")
        .collect().map(_.toString).toSet
    }
    assert(runPG(Seq(aRows), onePer = false) === expected,
      "single-batch multi-grant stream diverged from batch b15")
    // chopped MID-ACCOUNT: acct_a's queries split across triggers and
    // acct_b's arrive with the tail of acct_a's — per-(account, query)
    // results must not depend on which accounts share a trigger
    assert(runPG(Seq(aRows.take(2), aRows.slice(2, 4), aRows.drop(4)),
      onePer = true) === expected,
      "chopped multi-grant stream diverged from batch b15")
    // duplicated (account, query) rows collapse; the SAME query under
    // two accounts stays two distinct answers
    assert(runPG(Seq(aRows ++ aRows.take(1)), onePer = false) === expected,
      "duplicated rows corrupted the per-account fusion")
  }
}
