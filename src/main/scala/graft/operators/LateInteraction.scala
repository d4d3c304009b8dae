package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Artifacts

/** Late-interaction (ColBERT-shaped, Khattab & Zaharia 2020) MaxSim
  * re-ranking as a pure query: score(q, d) = Σ_{t∈q} max_{w∈d} sim(t, w)
  * — each query term soft-matches its BEST doc token, instead of bag
  * aggregation (BM25) or single-vector pooling (n8).
  *
  * Token vectors are the HashedEmbedding weights taken PER TOKEN
  * rather than summed per doc (`dimWeight(bucket(token), d)`,
  * d < 16): deterministic integers, so sim(t, w) is an exact BIGINT
  * dot product and the whole chain — candidate recall, per-term max,
  * per-doc sum, rank — replays bit-for-bit in DuckDB. A learned
  * ColBERT checkpoint would replace `dimWeight` with a broadcast
  * token-embedding table; nothing else changes (the QualityModel
  * weight-table precedent).
  *
  * Two-stage contract (the production ColBERT deployment shape):
  * candidates are the docs sharing ≥ 1 LEXICAL query term (the b3
  * recall set); MaxSim then scores every query term against every
  * candidate token, so non-matching terms still contribute their best
  * soft match.
  *
  * Scale — the interaction NEVER evaluates a hash in the hot path:
  * sim(t, w) depends only on the two BUCKETS, so the full similarity
  * table over (query-term bucket × occurring doc bucket) is at most
  * |q-terms| · dims rows (≲ 10·1024) — computed once, broadcast. The
  * corpus-sized work is then: one candidate semi-join, one hash join
  * of the candidates' DISTINCT (doc, bucket) pairs against that tiny
  * table, and a (doc, term)-keyed partial-agg max that collapses
  * map-side to ≤ candidates × |q-terms| rows before the final sum.
  * (The naive form — evaluating the 32-md5 dot per interaction row —
  * measured 59 s at sf0.1 and did not finish a decade up; this shape
  * is the same numbers at index-lookup cost.)
  */
object LateInteraction {

  private val Dim = 16

  /** Exact integer dot of the two buckets' derived vectors. */
  private def simExpr(qb: Column, db: Column): Column =
    (0 until Dim).map(d =>
      HashedEmbedding.dimWeight(qb, d) * HashedEmbedding.dimWeight(db, d))
      .reduce(_ + _)

  /** Top-k docs per query by MaxSim over the lexical-recall candidate
    * set: (query_id, rnk, doc_id, score, n_terms).
    */
  def maxSimTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int, dims: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tk = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val qt = queries.toDF("query_id", "q_text")
      .select(col("query_id"),
        explode(array_distinct(split(col("q_text"), " "))).as("term"))
      .filter(col("term") =!= "")
    val cand = tk.join(broadcast(qt), Seq("term"))
      .select("doc_id", "query_id").distinct()
    // candidates' distinct (doc, bucket) pairs — bucket collisions
    // collapse; the per-term max is unaffected
    val dt = tk.join(cand.select("doc_id").distinct(), Seq("doc_id"))
      .select(col("doc_id"),
        QualityModel.tokenBucket(col("term"), dims).as("db"))
      .distinct()
    // the ENTIRE similarity table: |q-terms| × occurring buckets
    val simTable = qt.select(col("term"),
        QualityModel.tokenBucket(col("term"), dims).as("qb")).distinct()
      .crossJoin(dt.select("db").distinct())
      .select(col("term"), col("db"), simExpr(col("qb"), col("db")).as("s"))
    // best soft match of each query term within each candidate doc —
    // query-independent, so computed once per (doc, term)
    val m = dt.join(broadcast(simTable), Seq("db"))
      .groupBy("doc_id", "term").agg(max("s").as("ms"))
    val scored = cand.join(broadcast(qt), Seq("query_id"))
      .join(m, Seq("doc_id", "term"))
      .groupBy("query_id", "doc_id")
      .agg(sum("ms").as("score"), count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "doc_id", "score", "n_terms")
  }

  /** Persist the corpus's DISTINCT (doc, token-bucket) pairs
    * partitioned on `_idb = pmod(doc_id, nBuckets)` — the IVF
    * pointer-store layout: a candidate-id fetch reads only the
    * candidates' id-bucket partitions, never the corpus. The store is
    * query-INDEPENDENT (buckets, not similarities), so one build
    * serves every future query and re-ranker weight set.
    */
  def buildTokenStore(docs: DataFrame, idCol: String, textCol: String,
      dir: String, dims: Int = 1024, nBuckets: Int = 64): Unit =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"), QualityModel.tokenBucket(col("term"), dims).as("db"))
      .distinct()
      .withColumn("_idb", pmod(col("doc_id"), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("_idb").parquet(dir)

  /** Idempotent APPEND to a persisted token store — the serving
    * lifecycle step between rebuilds (the `Bm25.appendToIndex` /
    * `IvfPq.appendToSaved` contract at the late-interaction tier,
    * VERDICT r16 #5): new docs' distinct (doc_id, token-bucket) pairs
    * land in the same `_idb` partition layout `servedRerank` prunes.
    * Re-delivered docs are anti-joined away against ONLY the delta's
    * id-bucket partitions (a pruned, delta-bounded read — never the
    * corpus), and duplicates WITHIN the delta collapse first (the
    * at-least-once upstream discipline); two rows with the same id but
    * different text remain a caller contract violation. The store is
    * query-independent, so appended docs serve every future query with
    * no stats refresh — one write, which also makes a crash-replayed
    * append naturally idempotent (an uncommitted write leaves no rows
    * for the anti-join to miss). `dims` must match the build's
    * (`servedRerank`'s bucket-space caveat). Returns the number of
    * docs actually appended; zero-token docs produce no bucket rows
    * and are harmlessly re-screened by later calls.
    */
  def appendToTokenStore(delta: DataFrame, idCol: String, textCol: String,
      dir: String, dims: Int = 1024, nBuckets: Int = 64): Long = {
    val spark = delta.sparkSession
    val d = delta.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .dropDuplicates("doc_id")
      .withColumn("_idb", pmod(col("doc_id"), lit(nBuckets.toLong)))
      .localCheckpoint() // pin: bucket list + anti-join + write
    val fresh = Artifacts.readTouched(Some(spark.read.parquet(dir)), "_idb",
        d.select("_idb"))
      .fold(d)(store => d.join(store.select("doc_id").distinct(), Seq("doc_id"), "left_anti"))
      .localCheckpoint()
    val nFresh = fresh.count()
    if (nFresh > 0)
      Artifacts.append(fresh.select(col("doc_id"), col("_idb"),
          explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
        .select(col("doc_id"), col("_idb"),
          QualityModel.tokenBucket(col("term"), dims).as("db"))
        .distinct(), dir, "_idb")
    nFresh
  }

  /** SERVED MaxSim re-ranking: `candidates` is a bounded
    * (query_id, doc_id) pool (e.g. the served BM25 top-CandK); token
    * bucket sets for exactly those docs are fetched PARTITION-PRUNED
    * from the store (the candidate ids are already on the driver by
    * construction — they came out of a top-k — so the id-bucket list
    * costs nothing extra), then the same broadcast bucket-pair
    * similarity machinery as `maxSimTopK` re-ranks. Per-query cost is
    * the pruned read + candidate-bounded joins — independent of
    * corpus size.
    */
  def servedRerank(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, candidates: DataFrame,
      queries: Seq[(Long, String)], k: Int, nBuckets: Int = 64,
      dims: Int = 1024): DataFrame =
    servedRerankFrom(spark, spark.read.parquet(storeDir), candidates,
      queries, k, nBuckets, dims)

  /** `servedRerank` over a PRE-LOADED store frame (r21): a long-lived
    * serving tier loads the token store once (file listing included —
    * the 64-bucket store re-listed a whole job per call through the
    * dir face) and feeds every call through here; the dir face above
    * stays the fresh-read entry point for lifecycle callers that grow
    * the store between calls. Same plan below the scan either way.
    */
  def servedRerankFrom(spark: org.apache.spark.sql.SparkSession,
      store: DataFrame, candidates: DataFrame,
      queries: Seq[(Long, String)], k: Int, nBuckets: Int = 64,
      dims: Int = 1024): DataFrame = {
    import spark.implicits._
    val qt = queries.toDF("query_id", "q_text")
      .select(col("query_id"),
        explode(array_distinct(split(col("q_text"), " "))).as("term"))
      .filter(col("term") =!= "")
    // ONE bounded collect of the whole (query_id, doc_id) pool — it is
    // driver-sized by contract (it came out of a top-k). r20: the old
    // shape collected only the ids for the partition-pruning literals
    // and kept `candidates` ITSELF in the serving plan, so the entire
    // candidate-generation chain (the served BM25 top-k) executed
    // TWICE per call — once for the collect, once inside the final
    // plan. The collected pool re-enters the plan as a local relation:
    // same rows, one execution (b10 2.97 → see OPTIMIZATION_r20.md).
    val candRows = candidates.select("query_id", "doc_id").collect()
    val candLocal = candRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("query_id", "doc_id")
    val ids = candRows.map(_.getLong(1)).distinct
    val idbs = ids.map(id => (id % nBuckets + nBuckets) % nBuckets).distinct
    val dt = store
      .filter(col("_idb").isin(idbs.map(Long.box): _*))
      .join(broadcast(ids.toSeq.toDF("doc_id")), Seq("doc_id"))
      .select("doc_id", "db")
    // query-term buckets MUST come from the same hash space as the
    // store's: `dims` here must equal the `dims` buildTokenStore was
    // called with, or scores silently mix bucket spaces (ADVICE r12)
    val simTable = qt.select(col("term"),
        QualityModel.tokenBucket(col("term"), dims).as("qb")).distinct()
      .crossJoin(dt.select("db").distinct())
      .select(col("term"), col("db"), simExpr(col("qb"), col("db")).as("s"))
    val m = dt.join(broadcast(simTable), Seq("db"))
      .groupBy("doc_id", "term").agg(max("s").as("ms"))
    val scored = candLocal
      .join(broadcast(qt), Seq("query_id"))
      .join(m, Seq("doc_id", "term"))
      .groupBy("query_id", "doc_id")
      .agg(sum("ms").as("score"), count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "doc_id", "score", "n_terms")
  }
}
