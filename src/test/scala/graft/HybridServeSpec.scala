package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BpeTrainer, HashedEmbedding, IvfPq,
  TokenEmbeddingTable}
import graft.queries.{RetrievalQueries, TextQueries}

/** The served dense tier behind t38/b12/b13 (VERDICT r17 #1): at query
  * time the corpus side must be ARTIFACT READS — the persisted vector
  * store (t38/b12) or the cell-pruned IVF-PQ codes (b13) — never a
  * corpus re-tokenize/re-embed; and the recall the b13 ANN leg trades
  * against b12's exact scan is measured in-engine (the n30 discipline,
  * via `IvfPq.recallStatus` over the same shipped artifact).
  */
class HybridServeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  /** The serve-path invariant, as a plan property: no scan of the
    * `documents` table anywhere — every corpus-shaped input is an
    * artifact file. (The 3-row query relation may tokenize/embed; it
    * is a LocalRelation, not a file scan.)
    */
  private def assertNoCorpusScan(name: String): String = {
    val plan = SparkEntry.queries(name)(spark, d)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("documents"),
      s"$name's serve path scans the documents table:\n${plan.take(2000)}")
    plan
  }

  test("t38 serves from the vector store: zero corpus tokenize/embed in the plan") {
    val plan = assertNoCorpusScan("t38_token_embedding_knn_served")
    // no tokenizer and no weight derivation anywhere — the whole
    // corpus side is the parquet store
    assert(!plan.contains("regexp_extract_all") && !plan.contains("md5("),
      s"t38 re-derives at query time:\n${plan.take(2000)}")
  }

  test("b12's corpus side is the vector store; only the 3-row query relation embeds") {
    assertNoCorpusScan("b12_hybrid_served")
  }

  test("b13's corpus side is the IVF-PQ artifact (codes + vectors), never the documents table") {
    assertNoCorpusScan("b13_hybrid_ann_served")
  }

  test("b13 dense leg: recall@k vs the exact scan is measured in-engine over the same artifact") {
    val idx = RetrievalQueries.servedTokenIvfPqDir(spark, d)
    val merges = TextQueries.frozenByteMerges(spark, d)
    val table = TokenEmbeddingTable.load(
      spark, RetrievalQueries.servedTokenEmbDir(spark, d))
    val qvecs = TokenEmbeddingTable.queryVecs(
      RetrievalQueries.Queries.toDF("doc_id", "text"),
      merges, TextQueries.BpePat, table)
    // the knobs the serving tier reads are the GATE's (VERDICT r18 #1)
    val knobs = IvfPq.loadKnobs(spark, idx).get
    val st = IvfPq.recallStatus(spark, idx, qvecs,
      k = RetrievalQueries.HybK, nprobe = knobs.nprobe,
      kCand = knobs.kCand, dims = RetrievalQueries.TokDims,
      threshold = 0.0)
    info(s"b13 dense-leg recall@${RetrievalQueries.HybK} " +
      s"(gate nprobe=${knobs.nprobe}/${knobs.nlist} cells, " +
      s"gate kCand=${knobs.kCand}, gate mean_e6=${knobs.meanRecallE6}) " +
      s"= ${st.recall}")
    assert(st.nQueries === RetrievalQueries.Queries.length.toLong)
    assert(st.recall > 0.0 && st.recall <= 1.0, s"degenerate recall: $st")
    assert(!st.flagged)
    // hash-safety precondition for the build's auto-deepen rung: at
    // test scale the gate meets the floor, so the artifact must still
    // carry the starting code budget — a deepened m here would desync
    // the static-TokM oracle replay (the r20 wiring's documented
    // contract)
    val (_, servedBooks) = IvfPq.loadModel(spark, idx)
    assert(servedBooks.length === RetrievalQueries.TokM,
      s"build auto-deepened at test scale (m=${servedBooks.length}) — " +
        "the static-m oracle replay is no longer exact")
  }

  test("the grown token stack serves like the full build: appendDocVecs + frozen-model appendToSavedQ ≡ union serve") {
    import graft.operators.{BpeTrainer, KMeans, PqIndex}
    val merges = TextQueries.frozenByteMerges(spark, d)
    val table = TokenEmbeddingTable.load(
      spark, RetrievalQueries.servedTokenEmbDir(spark, d))
    val docs = Tables.load(spark, d, "documents").localCheckpoint()
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    def qvecsOf(d: org.apache.spark.sql.DataFrame) =
      TokenEmbeddingTable.embedDocs(
          BpeTrainer.docTokenIds(d, merges, TextQueries.BpePat), table)
        .filter(graft.operators.HashedEmbedding.norm2("embedding") > 0L)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as bigint))").as("qv"))
    // build the store + artifact on HALF the corpus (scale-1 qv — the
    // b13 token-tier quantization), then GROW both with the delta
    val base = java.nio.file.Files
      .createTempDirectory("graft_hyb_grow").toString
    qvecsOf(half1).select(col("vec_id"),
        expr("transform(qv, x -> cast(x as float))").as("embedding"))
      .write.parquet(s"$base/store")
    val q1 = qvecsOf(half1).localCheckpoint()
    val cents = KMeans.fitQ(q1, 8, 2, RetrievalQueries.TokDims)
    val books = PqIndex.fitQuantized(
      IvfPq.residuals(q1, cents).localCheckpoint(), 4, 8, 2,
      RetrievalQueries.TokDims)
    IvfPq.saveQ(q1, s"$base/idx", cents, books, RetrievalQueries.TokDims)
    // the delta flows through the store append AND the scale-1 ANN
    // append — NOT the float face, whose e6 quantization would not
    // match the stored vectors
    val delta = qvecsOf(half2).localCheckpoint()
    assert(TokenEmbeddingTable.appendDocVecs(spark, s"$base/store",
      half2, merges, TextQueries.BpePat, table) > 0L)
    assert(IvfPq.appendToSavedQ(spark, s"$base/idx", delta,
      RetrievalQueries.TokDims) === delta.count())
    assert(IvfPq.appendToSavedQ(spark, s"$base/idx", delta,
      RetrievalQueries.TokDims) === 0L, "replayed append not a no-op")
    // grown artifact ≡ ad-hoc union under the SAME frozen model
    val queries = TokenEmbeddingTable.queryVecs(
      RetrievalQueries.Queries.toDF("doc_id", "text"),
      merges, TextQueries.BpePat, table).localCheckpoint()
    val unionQ = qvecsOf(docs)
    val adHoc = IvfPq.searchRerank(
        PqIndex.encodeQ(IvfPq.residuals(unionQ, cents), books,
          RetrievalQueries.TokDims, carry = Seq("cell")),
        unionQ, queries, cents, books, nprobe = 3, kCand = 12, k = 5,
        dims = RetrievalQueries.TokDims, excludeSelf = false)
      .collect().map(_.toString).toSeq
    val grown = IvfPq.searchRerankDf(
        spark.read.parquet(s"$base/idx/codes"),
        spark.read.parquet(s"$base/idx/vectors"),
        queries, cents, books, nprobe = 3, kCand = 12, k = 5,
        dims = RetrievalQueries.TokDims, excludeSelf = false)
      .collect().map(_.toString).toSeq
    assert(grown === adHoc, "grown token artifact diverged from union")
    assert(grown.nonEmpty)
  }

  test("b14: scoped lexical serving ≡ an index built on the slice alone; the dense filter prunes before the LUT join (VERDICT r18 #3)") {
    import graft.operators.{Bm25, IvfPq}
    val docs = Tables.load(spark, d, "documents")
    val slice = docs.filter(
      col("source").isin(RetrievalQueries.ScopeSources: _*))
    val allowed = slice.select("doc_id")
    // the shared-index scoped serve is BIT-IDENTICAL to ad-hoc BM25
    // over the slice alone — scoped df, scoped N/avgdl, scoped ranking
    val bmDir = RetrievalQueries.servedBm25Dir(spark, d)
    val served = Bm25.servedTopK(spark, bmDir,
        RetrievalQueries.Queries.toDF("query_id", "q_text"),
        RetrievalQueries.HybK, Some(Bm25.grant(spark, bmDir, allowed)))
      .orderBy("query_id", "rnk").collect().map(_.toString).toSeq
    val adHoc = Bm25.topK(slice, "doc_id", "text",
        RetrievalQueries.Queries, RetrievalQueries.HybK)
      .orderBy("query_id", "rnk").collect().map(_.toString).toSeq
    assert(served === adHoc,
      "scoped serve diverged from an index built on the slice")
    assert(served.nonEmpty)

    // governance invariant on the fused entry
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    val out = SparkEntry.queries("b14_hybrid_filtered")(spark, d).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => allowedSet(r.getAs[Long]("doc_id"))),
      "a doc outside the grant leaked into b14")

    // the dense leg's grant filter prunes BEFORE the candidate/LUT
    // join: in the optimized plan the LeftSemi (codes ⋈ allowed) sits
    // UNDER the inner join against the LUT frame (parents print first)
    val idxDir = RetrievalQueries.servedTokenIvfPqDir(spark, d)
    val (cents, books) = IvfPq.loadModel(spark, idxDir)
    val codes = spark.read.parquet(s"$idxDir/codes")
      .join(allowed.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
    val merges = TextQueries.frozenByteMerges(spark, d)
    val table = TokenEmbeddingTable.load(
      spark, RetrievalQueries.servedTokenEmbDir(spark, d))
    val qvecs = TokenEmbeddingTable.queryVecs(
      RetrievalQueries.Queries.toDF("doc_id", "text"),
      merges, TextQueries.BpePat, table)
    val plan = IvfPq.searchRerankDf(codes,
        spark.read.parquet(s"$idxDir/vectors"), qvecs, cents, books,
        nprobe = IvfPq.loadKnobs(spark, idxDir).get.nprobe,
        kCand = IvfPq.loadKnobs(spark, idxDir).get.kCand,
        k = RetrievalQueries.HybK, dims = RetrievalQueries.TokDims,
        excludeSelf = false)
      .queryExecution.optimizedPlan.toString
    val iSemi = plan.indexOf("LeftSemi")
    val iLut = plan.indexOf("p_cell")
    assert(iSemi >= 0, s"grant filter missing from the dense plan:\n${plan.take(1500)}")
    assert(iLut >= 0 && iLut < iSemi,
      s"grant filter must sit under the LUT join (prune before pricing):\n${plan.take(1500)}")
  }

  test("b13 fuses the SAME lexical list as b12 (the legs differ only on the dense side)") {
    val b12 = SparkEntry.queries("b12_hybrid_served")(spark, d)
      .select("query_id", "doc_id").collect().map(_.toString).toSet
    val b13 = SparkEntry.queries("b13_hybrid_ann_served")(spark, d)
      .select("query_id", "doc_id").collect().map(_.toString).toSet
    // both fused lists are dominated by the shared BM25 leg on this
    // fixture — they must overlap heavily but need not be equal (the
    // dense legs rank by different metrics)
    assert((b12 intersect b13).size >= b12.size / 2,
      s"b12/b13 fused lists diverged implausibly: ${b12.size} vs ${b13.size}, " +
        s"overlap ${(b12 intersect b13).size}")
  }
}
