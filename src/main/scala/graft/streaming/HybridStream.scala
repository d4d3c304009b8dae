package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.BatchSink
import graft.operators.{Bm25, IvfPq, RankFusion, TokenEmbeddingTable}

/** STREAMING hybrid retrieval — the fused face VERDICT r17 #2 asked
  * for: `RetrievalStream` serves the lexical leg and `PqStream` the
  * dense leg separately; this stream answers a (query_id, q_text)
  * micro-batch with the b13 contract END TO END — BM25 candidates from
  * the persisted bucket-partitioned index, dense candidates from the
  * loaded IVF-PQ artifact over the token-table vectors (query strings
  * tokenized under the frozen merges and embedded through the shipped
  * id→vector table, all inside the batch plan), and the two k-bounded
  * lists fused by integer RRF.
  *
  * Artifact snapshot contract: the merge list, embedding table, and
  * IVF-PQ model are loaded ONCE at stream definition (the `PqStream
  * .serveRerank` discipline — model state is driver-held and tiny);
  * the BM25 index is listed fresh per batch (`RetrievalStream`'s
  * looser growth contract), so lexical appends between triggers are
  * visible while the dense model stays frozen until the stream is
  * redefined over a retrained artifact.
  *
  * Crash replay is idempotent: fused results land through
  * `BatchSink.writeBatch` — a replayed batch overwrites its own
  * `_batch_id` partition, never duplicates it. At-least-once sources
  * may duplicate a query WITHIN a batch; dropping duplicates per
  * query restores set semantics before either leg prices anything (a
  * duplicated query row would double every RRF contribution).
  *
  * Per-batch scale shape: the lexical read is pruned to the batch's
  * term buckets, the dense read to the batch's probed cells plus the
  * candidate-bounded re-rank fetch — both sub-linear in corpus, both
  * flat in batch size. The query VECTORS never collect to the driver
  * (the `searchRerankDf` contract); the one driver-side collect per
  * batch is the batch's DISTINCT term-bucket codes inside
  * `Bm25.servedTopK` — bounded by the index's nBuckets, not by the
  * batch (ADVICE r18 scoped this claim).
  *
  * Governed serving (b14/b15's stream face): with `grantPairs` — the
  * scope key columns plus `doc_id`, as `Bm25.grant` takes them — every
  * query answers under its grant with pre-filter semantics on BOTH
  * legs: the lexical leg through `Bm25.servedTopK` under the grant
  * (scoped postings, df and N/avgdl), the dense leg by joining the
  * pairs into the codes BEFORE the scope-keyed LUT join
  * (`searchRerankDf(scopeCols)`), and the fusion per (keys…, query).
  * With no key column that is one consumer's allowed set; with
  * `account` the stream carries (account, query_id, q_text) rows and
  * each answers under its own account's grant, all accounts in one
  * per-batch plan. In-batch duplicates collapse per (keys…, query_id)
  * — the same query under two accounts is two legitimate queries.
  * The grant is the definition-time snapshot (the `SecureShare` grant
  * lifecycle — a revocation is a stream redefinition): the pairs
  * materialize once and `Bm25.grant` prices their N/avgdl once, so a
  * trigger never re-scans the grant's backing table OR the index's
  * docs store.
  *
  * HybridStreamSpec pins chopped ≡ single-batch ≡ the batch b13 entry
  * unscoped, ≡ b14 and b15 under their grants, and that no batch plan
  * scans the docs store.
  */
object HybridStream {

  def serve(queries: DataFrame, bm25Dir: String, tableDir: String,
      annDir: String, merges: Seq[(String, String)], bpePat: String,
      outDir: String, checkpointDir: String, k: Int, nprobe: Int,
      kCand: Int, dims: Int,
      grantPairs: Option[DataFrame] = None): DataStreamWriter[Row] = {
    val spark = queries.sparkSession
    val table = TokenEmbeddingTable.load(spark, tableDir)
    val (cents, books) = IvfPq.loadModel(spark, annDir)
    val grant = grantPairs.map(p =>
      Bm25.grant(spark, bm25Dir, p.distinct().localCheckpoint()))
    val keys = grant.fold(Seq.empty[String])(_.keys)
    val qKeys = keys :+ "query_id"
    val codesAll = spark.read.parquet(s"$annDir/codes")
    val codes = grant.fold(codesAll)(g =>
      codesAll.join(g.pairs.withColumnRenamed("doc_id", "vec_id"),
        Seq("vec_id")))
    val vectors = spark.read.parquet(s"$annDir/vectors")
    BatchSink.stream(queries, checkpointDir) { (batch, batchId) =>
      val b = batch.dropDuplicates(qKeys).localCheckpoint()
      val lex = Bm25.servedTopK(spark, bm25Dir, b, k, grant)
        .select((qKeys ++ Seq("doc_id", "rnk")).map(col): _*)
      // embed each distinct text once and join the vector back on the
      // text, not on query_id: a keyed batch repeats a query once per
      // key, and two keys may send one query_id with different texts
      val texts = b.select(col("q_text").as("doc_id"), col("q_text").as("text"))
        .distinct()
      val qvecs = b.join(TokenEmbeddingTable.queryVecs(texts, merges, bpePat, table)
          .withColumnRenamed("query_id", "q_text"), Seq("q_text"))
        .select((qKeys :+ "qv").map(col): _*)
      val dense = IvfPq.searchRerankDf(codes, vectors, qvecs, cents,
          books, nprobe, kCand, k, dims, excludeSelf = false,
          scopeCols = keys)
        .select(qKeys.map(col) ++ Seq(col("neighbor_id").as("doc_id"),
          col("rnk")): _*)
      BatchSink.writeBatch(RankFusion.rrf(Seq(lex, dense), k, keyCols = qKeys),
        outDir, batchId)
    }
  }
}
