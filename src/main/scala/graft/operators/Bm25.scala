package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 sparse text retrieval — the lexical twin of the dense ANN
  * serving path (IvfIndex). The reference pipeline ends in dashboard
  * consumption queries (`dp_demo.sql:267-279`); an LLM-data pipeline
  * additionally needs corpus SEARCH — "which documents match this
  * query" — both ad-hoc (scan-time pruning) and served (persisted
  * inverted index, partition-pruned reads). Okapi BM25 (k1 = 1.2,
  * b = 0.75, Lucene-style idf = ln(1 + (N − df + ½)/(df + ½))) is the
  * public-standard scoring function.
  *
  * Scale design (100 TB corpus, ~10-term queries):
  *   - Ad-hoc scoring never materializes a global index: postings are
  *     generated per-document (narrow explode + partial-agg groupBy)
  *     and immediately semi-joined against the BROADCAST query-term
  *     set, so only rows for the ≤ tens of query terms survive past
  *     the first shuffle. df per term is computed from those surviving
  *     postings alone — a term's full posting list survives its own
  *     filter, so the df is the exact corpus df.
  *   - Served scoring reads a PERSISTED index partitioned by
  *     `bucket = pmod(hash(term), nBuckets)`: a query touches at most
  *     |query terms| partitions of the postings store — the sparse
  *     analogue of IVF's nprobe-cell pruned read; the corpus text is
  *     never touched at query time.
  *   - Scores are exact-integer FIXED-POINT: per-term idf is floored to
  *     an e6 integer under a boundary guard (`idfE6` — cross-engine
  *     portable despite libm ln), tf-normalization to an e9 integer
  *     (already bit-portable IEEE), and the contribution is their
  *     BIGINT product, summed order-independently under any
  *     partitioning — the t10 register-sum trick. A raw IEEE double
  *     sum would be partition-order-dependent and unhashable; with the
  *     fixed-point form the FULL multi-term scoring replays in DuckDB
  *     with no pinned constants.
  *   - Top-k is a per-query window over the scored rows; queries are
  *     few, matched docs are bounded by the query terms' df, so the
  *     window partition is modest. For a high-df term at web scale the
  *     posting list itself is large — the window then rides
  *     WindowGroupLimit (rank pushdown) and only k rows per query
  *     survive the final shuffle.
  *
  * Tokenization is the corpus's own: single-space word split, the same
  * relation d2's shingles and t2's token counts are built on.
  */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** `n_buckets` memo for the SERVING faces (r20): the bucket count is
    * the index's structural constant — written once by `buildIndex`
    * and preserved by every append/compact (the bucket layout cannot
    * change without rewriting the postings store) — yet each served
    * call re-read it with a one-row `head()`, a whole Spark job on the
    * serving steady state. Keyed (applicationId, dir); the WRITE
    * lifecycle faces (`appendToIndex`, `compactIndex`) keep reading
    * the stats file directly — freshness over speed on mutation paths.
    */
  private def servedNBuckets(spark: SparkSession, dir: String): Int =
    graft.SessionStore.memo(spark, "bm25_n_buckets", dir)(
      spark.read.parquet(s"$dir/stats").select("n_buckets").head().getInt(0))

  /** The serving faces' corpus-stats memo (r21, guide §2.4): every
    * `servedTopKDf` call crossJoined the one-row stats PARQUET into the
    * scoring tail twice (n_docs for idf, avgdl for tf-normalization) —
    * two broadcast exchanges plus two one-row file scans per query
    * batch on the serving steady state. Like `servedNBuckets`, the
    * stats are immutable once the per-session index fill completes, so
    * the row is read ONCE per (applicationId, dir) and re-enters every
    * plan as a LOCAL one-row relation — same values (the avgdl division
    * was computed at write time and round-trips exactly), zero jobs per
    * use (LocalTableScan broadcasts collect driver-side). The WRITE
    * lifecycle faces (`appendToIndex`, `compactIndex`, `refreshStats`)
    * keep reading the stats file directly — freshness on mutation
    * paths (the `servedNBuckets` contract).
    */
  private val StatsMemo = "bm25_stats_row"

  private def servedStatsDf(spark: SparkSession, dir: String): DataFrame =
    graft.SessionStore.memo(spark, StatsMemo, dir) {
      val r = spark.read.parquet(s"$dir/stats")
        .select("n_docs", "sum_len", "avgdl").head()
      import spark.implicits._
      Seq((r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toDF("n_docs", "sum_len", "avgdl")
    }

  /** Per-(term, doc) postings: (term, doc_id, tf). One narrow explode,
    * one partial-aggregated groupBy — the map side combines before the
    * shuffle, so the shuffled volume is the distinct (doc, term) set,
    * not the token stream.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  /** Per-doc token length: (doc_id, doc_len). */
  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(filter(split(col(textCol), " "), t => t =!= "")).as("doc_len"))

  /** One-row corpus stats (n_docs, sum_len, avgdl). avgdl is the one
    * IEEE division of two exact integers — bit-portable.
    */
  def corpusStats(lengths: DataFrame): DataFrame =
    lengths.agg(count(lit(1)).as("n_docs"), sum("doc_len").as("sum_len"))
      .withColumn("avgdl",
        col("sum_len").cast("double") / col("n_docs").cast("double"))

  /** BM25 tf-normalization, written as the exact operation sequence the
    * DuckDB oracle replays: tf·(k1+1) / (tf + k1·((1−b) + b·(len/avgdl))).
    * Every input is an exact integer or the portable avgdl division, and
    * IEEE ops are deterministic, so the result is bit-identical in any
    * engine that evaluates the same tree.
    */
  def tfNorm(tf: Column, docLen: Column, avgdl: Column): Column =
    (tf.cast("double") * lit(K1 + 1.0)) /
      (tf.cast("double") + lit(K1) * (lit(1.0 - B) + lit(B) * (docLen.cast("double") / avgdl)))

  /** Lucene-style idf: ln(1 + (N − df + ½)/(df + ½)) — strictly positive
    * for every df ≤ N. The ln itself is libm-private (not guaranteed
    * bit-portable), which is why the scorer consumes it only through
    * the GUARDED fixed-point projection `idfE6` below.
    */
  def idf(df: Column, nDocs: Column): Column =
    log(lit(1.0) +
      (nDocs.cast("double") - df.cast("double") + lit(0.5)) /
        (df.cast("double") + lit(0.5)))

  /** Margin (in e6 units) that `idfE6` keeps between ln·1e6 and the
    * nearest integer boundary: engines' ln implementations agree to
    * ≤ a few ulps (≈4e-10 after the 1e6 scaling), so any value at
    * least 1e-4 from a boundary floors identically everywhere.
    */
  val IdfGuardE6 = 1e-4

  /** idf as an exact fixed-point integer: floor(ln-idf · 1e6), GUARDED —
    * if the scaled value sits within `IdfGuardE6` of an integer
    * boundary (where two correctly-implemented ln's could floor apart),
    * the plan raises instead of emitting a value another engine might
    * not reproduce. Fail-loud beats silently unverifiable: under the
    * guard the integer is a portable constant of (N, df), so the b3/b4
    * oracle replays the FULL multi-term scoring in DuckDB with no
    * pinned constants (the boundary-avoidance idea is Lucene's norm
    * quantization taken to where it buys cross-engine exactness).
    * P(violation) ≈ 2·guard per distinct query-term df — negligible for
    * real corpora, and loud when it ever trips.
    */
  def idfE6(df: Column, nDocs: Column): Column = {
    val y = idf(df, nDocs) * lit(1e6)
    val frac = y - floor(y)
    floor(y).cast("long") +
      coalesce(assert_true(
        frac > lit(IdfGuardE6) && frac < lit(1.0 - IdfGuardE6),
        concat(lit("idf_e6 within guard margin of a floor boundary for df="),
          col("df"), lit(", n_docs="), col("n_docs"),
          lit(" — raise the fixed-point precision for this corpus")))
        .cast("long"), lit(0L))
  }

  /** Per-TERM top-k docs ranked by tf-normalization. For a fixed term,
    * BM25's ranking is tfNorm's ranking (idf is a per-term constant and
    * the map x → idf·x is strictly monotone), so this is the log-free,
    * fully cross-engine-replayable face of BM25 ranking — the b2 oracle
    * replays it bit-for-bit in DuckDB.
    */
  def termTopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lens = docLengths(docs, idCol, textCol)
    val stats = corpusStats(lens)
    val p = postings(docs, idCol, textCol)
      .join(broadcast(terms.toDF("term").distinct()), "term")
    val scored = p.join(lens, "doc_id")
      .crossJoin(broadcast(stats.select("avgdl")))
      .select(col("term"), col("doc_id"), col("tf"), col("doc_len"),
        tfNorm(col("tf"), col("doc_len"), col("avgdl")).as("tfnorm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("term").orderBy(col("tfnorm").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("term"), col("doc_id"), col("tf"), col("doc_len"),
        col("rnk").cast("int").as("rnk"), col("tfnorm"))
  }

  /** Full multi-term BM25 top-k. `queries` are (query_id, text) pairs;
    * scores are exact fixed-point BIGINTs (idf_e6 · tfnorm_e9 — see the
    * object doc), so the result is a pure, order-independent,
    * CROSS-ENGINE-REPLAYABLE function of (corpus, queries, k): the b3
    * oracle recomputes the whole scoring in DuckDB.
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qTerms = queryTerms(queries.toDF("query_id", "q_text"))
    val lens = docLengths(docs, idCol, textCol)
    val stats = corpusStats(lens)
    val p = postings(docs, idCol, textCol)
      .join(broadcast(qTerms.select("term").distinct()), "term")
      .join(lens, "doc_id")
      .select("term", "doc_id", "tf", "doc_len")
    scoreAndRank(p, stats, qTerms, k)
  }

  /** (query_id, term) pairs from a (query_id, q_text) relation. */
  private def queryTerms(queries: DataFrame): DataFrame =
    queries.select(col("query_id"),
        explode(array_distinct(split(col("q_text"), " "))).as("term"))
      .filter(col("term") =!= "")

  /** THE scoring tail, shared STRUCTURALLY by the ad-hoc and served
    * paths (their bit-identity contract rests on this being one
    * expression tree, not two copies kept in sync): `p` is
    * (term, doc_id, tf, doc_len) already restricted to the query
    * terms; df per term is the exact count over those rows (each
    * term's full posting list survives its own filter); contributions
    * are exact idf_e6 · tfnorm_e9 BIGINT products summed
    * order-independently (object doc).
    */
  private def scoreAndRank(p: DataFrame, stats: DataFrame,
      qTerms: DataFrame, k: Int): DataFrame = {
    val dfPerTerm = p.groupBy("term").agg(count(lit(1)).as("df"))
    // per-term idf as a guarded exact integer (idfE6's doc); the tiny
    // term relation is where the ln evaluates — once per term, not per
    // posting row
    val termIdf = dfPerTerm
      .crossJoin(broadcast(stats.select("n_docs")))
      .select(col("term"), idfE6(col("df"), col("n_docs")).as("idf_e6"))
    // contribution = idf_e6 · floor(tfnorm · 1e9): a product of two
    // exact BIGINTs (≤ ~2e7 · ~2.2e9 < 2^63), summed order-independently
    val contrib = p.join(broadcast(termIdf), "term")
      .join(broadcast(qTerms), "term")
      .crossJoin(broadcast(stats.select("avgdl")))
      .select(col("query_id"), col("doc_id"),
        (col("idf_e6") *
          floor(tfNorm(col("tf"), col("doc_len"), col("avgdl")) * lit(1e9))
            .cast("long")).as("contrib_e15"))
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(sum("contrib_e15").as("score_e15"),
        count(lit(1)).as("n_matched_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score_e15").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"),
        col("doc_id"), col("score_e15"), col("n_matched_terms"))
  }

  /** PASSAGE retrieval — the RAG shape: score fixed-window chunks (the
    * t7 chunker: `window` tokens every `stride`), then rank DOCS by
    * their best chunk (max-pooling), returning where in the doc the
    * match lives (`best_chunk_idx` — what a RAG pipeline actually
    * feeds the generator). Scoring is per-term tf-normalization floored
    * to e9 integers and summed — deliberately idf-FREE: each query
    * term weighs equally, which keeps the whole computation log-free
    * and cross-engine bit-exact (the b2 discipline; the idf-weighted
    * variant is `topK` over chunks-as-docs and inherits b3's pinned-
    * oracle caveat). Length normalization uses the CHUNK length
    * against the chunk-corpus avgdl, as passage scoring should.
    *
    * Scale: chunking is a narrow explode (no shuffle); postings
    * aggregate per (doc, chunk, term) map-side; the query-term
    * semi-join bounds everything after it; doc max-pooling touches
    * only scored chunks.
    */
  def passageTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int,
      window: Int = 30, stride: Int = 25): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qTerms = queryTerms(queries.toDF("query_id", "q_text"))
    val chunks = Chunker.explodeChunks(docs, idCol, textCol, window, stride)
      .select(col("doc_id"), col("chunk_idx"),
        expr(s"filter(slice(ts, chunk_idx * $stride + 1, $window), t -> t <> '')")
          .as("ctoks"))
    val lens = chunks.select(col("doc_id"), col("chunk_idx"),
      size(col("ctoks")).cast("long").as("chunk_len"))
    val stats = lens.agg(count(lit(1)).as("n_chunks"), sum("chunk_len").as("sum_len"))
      .withColumn("avgdl",
        col("sum_len").cast("double") / col("n_chunks").cast("double"))
    val p = chunks
      .select(col("doc_id"), col("chunk_idx"), explode(col("ctoks")).as("term"))
      .groupBy("doc_id", "chunk_idx", "term").agg(count(lit(1)).as("tf"))
      .join(broadcast(qTerms.select("term").distinct()), "term")
    val contrib = p.join(lens, Seq("doc_id", "chunk_idx"))
      .join(broadcast(qTerms), "term")
      .crossJoin(broadcast(stats.select("avgdl")))
      .select(col("query_id"), col("doc_id"), col("chunk_idx"),
        floor(tfNorm(col("tf"), col("chunk_len"), col("avgdl")) * lit(1e9))
          .cast("long").as("contrib_e9"))
    val chunkScores = contrib.groupBy("query_id", "doc_id", "chunk_idx")
      .agg(sum("contrib_e9").as("chunk_score_e9"))
    // argmax in ONE aggregation (review r12): lexicographic struct max
    // gives (max score, then max(-idx) = MIN idx on ties) — no
    // self-join, no second shuffle over the scored chunks
    val best = chunkScores.groupBy("query_id", "doc_id")
      .agg(max(struct(col("chunk_score_e9"),
          (-col("chunk_idx")).as("neg_idx"))).as("_best"),
        count(lit(1)).as("n_matching_chunks"))
      .select(col("query_id"), col("doc_id"),
        col("_best.chunk_score_e9").as("doc_score_e9"),
        (-col("_best.neg_idx")).as("best_chunk_idx"),
        col("n_matching_chunks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("doc_score_e9").desc, col("doc_id"))
    best.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"),
        col("doc_id"), col("doc_score_e9"),
        col("best_chunk_idx").cast("int").as("best_chunk_idx"),
        col("n_matching_chunks"))
  }

  // ------------------------------------------------------------------
  // Persisted inverted index — build once, serve many, grow by append
  // (the n5/IvfAppend analogue).
  // ------------------------------------------------------------------

  /** Layout under `dir`:
    *   postings/ bucket=<pmod(hash(term), nBuckets)>/  (term, doc_id, tf, doc_len)
    *   docs/     dbucket=<pmod(hash(doc_id), nBuckets)>/ (doc_id, doc_len)
    *   stats/    one row (n_docs, sum_len, avgdl, n_buckets)
    *
    * The "document" is whatever relation the caller indexes — a CHUNK
    * relation (Chunker.explodeChunks with a synthetic
    * `doc_id·K + chunk_idx` id and reassembled chunk text) serves
    * passage queries through the identical machinery: build the index
    * over chunks-as-docs, `servedTopK` returns top CHUNKS (with ln-idf
    * BM25, unlike `passageTopK`'s deliberately log-free scoring), and
    * the caller decodes `doc_id DIV K` for doc-level grouping — the
    * standard two-stage retrieval shape (Bm25Spec pins the
    * chunks-as-docs round trip).
    *
    * doc_len is DENORMALIZED into the postings (a doc's length never
    * changes, so it is append-safe); df is deliberately NOT — a
    * build-time df goes stale the moment new docs arrive, so
    * `servedTopK` computes df at query time from the pruned read
    * itself: a query term's FULL posting list lives inside its bucket
    * partitions, so the count over the surviving rows is the exact
    * corpus df, at the cost of one extra aggregation over an
    * already-pruned relation. That choice is what makes the index
    * APPENDABLE without rewriting any existing posting row.
    *
    * The docs/ store (id-bucketed, the IvfIndex `_idb` pointer-store
    * shape) exists for `appendToIndex`'s idempotence anti-join and for
    * exact stats refresh; it is never read at query time.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int = 64): Unit = {
    // same set-semantics defense as appendToIndex: a repeated id would
    // double tf and inflate the stats (one narrow extra shuffle,
    // dominated by the postings aggregation that follows)
    val d = docs.select(col(idCol), col(textCol)).dropDuplicates(idCol)
    val lens = docLengths(d, idCol, textCol)
    val p = postings(d, idCol, textCol)
    p.join(lens, "doc_id")
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
    lens.withColumn("dbucket", pmod(hash(col("doc_id")), lit(nBuckets)))
      .repartition(col("dbucket"))
      .write.mode("overwrite").partitionBy("dbucket")
      .parquet(s"$dir/docs")
    refreshStats(docs.sparkSession, dir, nBuckets)
  }

  /** Recompute stats/ from the docs store — one narrow two-column scan.
    * Self-healing: a crash that lost or halved stats/ is fully repaired
    * by this call (docs/ is the source of truth for N and avgdl).
    */
  def refreshStats(spark: SparkSession, dir: String, nBuckets: Int): Unit = {
    corpusStats(spark.read.parquet(s"$dir/docs").select("doc_id", "doc_len"))
      .withColumn("n_buckets", lit(nBuckets))
      .write.mode("overwrite").parquet(s"$dir/stats")
    // every stats mutation funnels through here (build, append,
    // compact), so dropping the serving memo at the write keeps the
    // growth contract exact: the next served call re-reads the fresh
    // row (n_buckets is structural and never changes — its memo stays)
    graft.SessionStore.invalidate(spark, StatsMemo, dir)
  }

  /** Append new documents to a saved index without touching existing
    * rows — no posting is rewritten, no df maintenance (query-time df
    * absorbs growth by construction). Returns the number of NEW docs
    * indexed.
    *
    * Idempotent: delta ids already present in the docs store are
    * anti-joined out (partition-pruned read of only the delta's id
    * buckets), so a re-delivered or re-run append is a no-op — the
    * IvfIndex.appendToSaved pointer-anti-join contract.
    *
    * CRASH WINDOW: postings are appended before the docs store. A crash
    * between the two writes leaves postings rows whose ids the
    * anti-join cannot see; the documented replay then appends them
    * AGAIN as byte-identical duplicates (tf/doc_len are pure functions
    * of the text). `servedTopK` is immune — it collapses exact-
    * duplicate posting rows before df/scoring — and
    * `Compaction.compact(dropExactDuplicates = true)` heals the storage
    * itself (the DocStream index precedent). The reverse write order
    * would instead LOSE the postings silently — duplicates-then-heal is
    * the safe side. stats/ last; it regenerates via `refreshStats`.
    */
  def appendToIndex(delta: DataFrame, idCol: String, textCol: String,
      dir: String): Long = {
    val spark = delta.sparkSession
    val nBuckets = spark.read.parquet(s"$dir/stats")
      .select("n_buckets").head().getInt(0)
    // set semantics WITHIN the delta too (review r12): an at-least-once
    // upstream can repeat a doc inside one call, and the docs-store
    // anti-join only covers re-delivery ACROSS calls — without this a
    // repeated row would double tf (not a byte-identical duplicate, so
    // no later pass could heal it) and inflate n_docs/avgdl. Two rows
    // with the same id but DIFFERENT text remain a caller contract
    // violation (which copy survives is not deterministic).
    val d = delta.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .dropDuplicates("doc_id")
      .withColumn("dbucket", pmod(hash(col("doc_id")), lit(nBuckets)))
    val deltaBuckets = d.select("dbucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val existing = spark.read.parquet(s"$dir/docs")
      .filter(col("dbucket").isin(deltaBuckets: _*))
      .select("doc_id")
    val fresh = d.join(existing, Seq("doc_id"), "left_anti")
      .localCheckpoint() // pin: consumed by two writes below
    val nFresh = fresh.count()
    if (nFresh == 0) return 0L
    val lens = docLengths(fresh, "doc_id", "text")
    postings(fresh, "doc_id", "text").join(lens, "doc_id")
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$dir/postings")
    lens.withColumn("dbucket", pmod(hash(col("doc_id")), lit(nBuckets)))
      .repartition(col("dbucket"))
      .write.mode("append").partitionBy("dbucket")
      .parquet(s"$dir/docs")
    refreshStats(spark, dir, nBuckets)
    nFresh
  }

  /** Heal and compact a grown index IN PLACE (VERDICT r17 #7 — the
    * `Compaction.compactIvf` lifecycle step at the lexical tier): both
    * stores' hot partitions are rewritten with exact-duplicate rows
    * dropped — the byte-identical posting duplicates `appendToIndex`'s
    * documented crash window can leave (serve time already collapses
    * them; this removes the storage and per-query dedup cost) — and
    * the per-append file fragments folded to one file per partition.
    * stats/ is recomputed from the healed docs store afterwards, so a
    * compaction that dropped duplicate doc rows cannot leave stale
    * n_docs/avgdl. Query results are BIT-IDENTICAL before and after
    * (Bm25Spec pins it): dedup-then-score equals score-over-deduped.
    * Same single-writer contract as `appendToIndex`; the per-partition
    * dynamic overwrite is the `Compaction.compact` crash story.
    * Returns the compacted partition keys (postings then docs).
    *
    * `maxFiles` defaults to 1 — NOT `Compaction.compact`'s fold-tuning
    * default of 4 — because this face is first a HEALER: crash-window
    * duplicates can only live in a partition some append has written
    * (build dedups ids and writes one file per partition), i.e. a
    * partition with ≥ 2 files, so the > 1 threshold is exactly "every
    * partition that could possibly carry a duplicate". A higher
    * threshold would skip lightly-appended partitions and silently
    * leave their duplicates in place (serve time still collapses them,
    * but the heal would no-op on the very scenario it exists for).
    * Raise it only as a pure fold-cost knob on an index known
    * duplicate-free.
    */
  def compactIndex(spark: SparkSession, dir: String,
      maxFiles: Int = 1): Seq[String] = {
    val nBuckets = spark.read.parquet(s"$dir/stats")
      .select("n_buckets").head().getInt(0)
    val healed =
      Compaction.compact(spark, s"$dir/postings", "bucket", maxFiles,
        dropExactDuplicates = true).map("postings:" + _) ++
      Compaction.compact(spark, s"$dir/docs", "dbucket", maxFiles,
        dropExactDuplicates = true).map("docs:" + _)
    if (healed.nonEmpty) refreshStats(spark, dir, nBuckets)
    healed
  }

  /** Serve top-k from a persisted index: reads ONLY the partitions the
    * query terms hash into. The bucket set is resolved driver-side from
    * the LITERAL query set (a collect over a local literal relation —
    * no file is read; the n5 precedent of driver-side probe selection)
    * and pushed down as a plan-time `isin` PartitionFilter, then the
    * term equi-join runs inside the surviving partitions. df is
    * computed from the pruned rows (exact — see `buildIndex`), making
    * the result bit-identical to `topK` on the same corpus (Bm25Spec
    * pins it): same inputs, same expression tree. The pre-scoring
    * `distinct()` collapses byte-identical rows a crash-replayed
    * append may have left (over the already-pruned tiny relation — its
    * rows are about to shuffle for the df aggregate anyway).
    *
    * Interim exposure inside `appendToIndex`'s documented crash window
    * (postings landed, docs/stats not yet): the orphan postings count
    * into df while n_docs/avgdl still exclude their docs, so scores —
    * not just row sets — can TEMPORARILY differ from `topK` on the
    * logical corpus until the replayed append completes (ADVICE r11).
    * Healed by the replay; the window is the append's, not this
    * reader's.
    */
  def servedTopK(spark: SparkSession, dir: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    import spark.implicits._
    servedTopKDf(spark, dir, queries.toDF("query_id", "q_text"), k)
  }

  /** DataFrame-native serving — `queries` is any (query_id, q_text)
    * relation, e.g. one micro-batch of a query stream
    * (`RetrievalStream`). The bucket set is still resolved driver-side
    * (a collect of the batch's DISTINCT term-bucket codes, bounded by
    * the batch's vocabulary — the DocStream `touched` precedent):
    * parquet partition pruning needs plan-time literals, and the
    * alternative (joining the full postings store) would read every
    * bucket. For literal query sets the collect costs no file read.
    */
  def servedTopKDf(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int): DataFrame = {
    val stats = servedStatsDf(spark, dir)
    val nBuckets = servedNBuckets(spark, dir)
    val qTerms = queryTerms(queries)
    val termBuckets = qTerms.select("term").distinct()
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
    val buckets = termBuckets.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val p = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(termBuckets), Seq("bucket", "term"))
      .select("term", "doc_id", "tf", "doc_len").distinct()
    scoreAndRank(p, stats, qTerms, k)
  }

  /** CONSUMER-SCOPED serving from the shared index (VERDICT r18 #3 —
    * the reference's secure-view governance shape applied to
    * retrieval): the consumer's corpus IS the `allowed` doc set, so
    * everything scopes — postings prune to the query terms' buckets
    * THEN semi-join the allowed ids (the filter runs before df, scoring,
    * or ranking touch a row), df is the exact count over the scoped
    * rows, and N/avgdl aggregate the docs store's allowed rows — the
    * result is bit-identical to `topK` over an index built on the
    * allowed slice alone, served from ONE shared artifact (the b14
    * oracle replays exactly that: ScoreCtes over the filtered corpus).
    *
    * Scale shape: the semi-join keys are doc ids (uniform), the scoped
    * stats are one narrow two-column aggregate per scope — compute them
    * once per consumer session and reuse across batches when serving a
    * stream (they change only when the scope or the corpus does).
    */
  def servedTopKScoped(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, allowed: DataFrame): DataFrame =
    servedTopKScopedWith(spark, dir, queries, k, allowed,
      scopedStats(spark, dir, allowed))

  /** The grant's corpus statistics — scoped N/avgdl aggregated from
    * the index's docs store semi-joined to the allowed set: one narrow
    * two-column pass, O(corpus rows). A one-shot scoped query pays it
    * inline (`servedTopKScoped`); a long-lived consumer session — above
    * all a scoped query STREAM, whose grant is frozen at definition —
    * computes it ONCE and serves every call through
    * `servedTopKScopedWith` (VERDICT r19 #3: the stream face used to
    * re-price this full docs-store pass per micro-batch).
    */
  def scopedStats(spark: SparkSession, dir: String,
      allowed: DataFrame): DataFrame =
    corpusStats(
      spark.read.parquet(s"$dir/docs")
        .join(allowed.select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "doc_len"))

  /** `servedTopKScoped` under PRE-COMPUTED scope statistics (the
    * one-row `scopedStats` frame for the SAME grant — supplying stats
    * of a different scope is a caller contract violation): the pruned
    * scoped read and the scoring are unchanged, only where the stats
    * come from moves. Everything downstream of `p` is the one shared
    * `scoreAndRank` tree, so results are bit-identical to the inline
    * face by construction.
    */
  def servedTopKScopedWith(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, allowed: DataFrame,
      stats: DataFrame): DataFrame = {
    val nBuckets = servedNBuckets(spark, dir)
    val allowedIds = allowed.select("doc_id")
    val qTerms = queryTerms(queries)
    val termBuckets = qTerms.select("term").distinct()
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
    val buckets = termBuckets.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val p = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(termBuckets), Seq("bucket", "term"))
      .join(allowedIds, Seq("doc_id"), "left_semi")
      .select("term", "doc_id", "tf", "doc_len").distinct()
    scoreAndRank(p, stats, qTerms, k)
  }

  /** MULTI-CONSUMER scoped serving from the shared index (VERDICT r19
    * #4 — the reference's per-account governance, `current_account()`
    * over an N-row security table, applied to retrieval): `aqueries`
    * rows carry their account — (account, query_id, q_text) — and
    * `grantPairs` is the resolved grants relation (account, doc_id);
    * every query is answered under ITS OWN grant, all accounts in ONE
    * plan. Per-account semantics are `servedTopKScoped`'s, dimension-
    * widened: the pruned postings INNER-join the grants BELOW any
    * scoring (a row never prices for an account that doesn't grant
    * it, and the same posting row fans out once per granting account),
    * df is exact per (account, term), and N/avgdl aggregate the docs
    * store per account — so each account's slice is bit-identical to
    * `topK` over an index built on its grant alone (the b14 contract,
    * per account; MultiGrantSpec pins the ACCT slice ≡ the
    * single-grant face).
    *
    * Scale shape: the corpus-sized work is unchanged — one pruned
    * postings read, one narrow docs-store pass — plus one join against
    * the grants relation (doc-id keyed, uniform); the account
    * dimension multiplies only the tiny term/stats relations and the
    * k-bounded output, so serving N consumers costs one plan, not N
    * plan copies (the alternative — a per-account union — builds N
    * probe chains and dies at fleet scale).
    */
  def servedTopKPerGrant(spark: SparkSession, dir: String,
      aqueries: DataFrame, k: Int, grantPairs: DataFrame): DataFrame =
    servedTopKPerGrantWith(spark, dir, aqueries, k, grantPairs,
      perGrantStats(spark, dir, grantPairs))

  /** Per-account corpus stats from the index's docs store (scoped
    * N/avgdl — one narrow pass, grouped by account instead of one
    * scope). A FROZEN grants table prices this once and reuses it
    * (`servedTopKPerGrantWith` — the `scopedStats` hoist discipline,
    * VERDICT r19 #3, applied to the multi-grant face): the relation is
    * one row per account, trivially broadcastable however many
    * consumers the fleet serves.
    */
  def perGrantStats(spark: SparkSession, dir: String,
      grantPairs: DataFrame): DataFrame =
    spark.read.parquet(s"$dir/docs")
      .select("doc_id", "doc_len")
      .join(grantPairs.select("account", "doc_id"), Seq("doc_id"))
      .groupBy("account")
      .agg(count(lit(1)).as("n_docs"), sum("doc_len").as("sum_len"))
      .withColumn("avgdl",
        col("sum_len").cast("double") / col("n_docs").cast("double"))

  /** `servedTopKPerGrant` under PRE-COMPUTED per-account stats (the
    * `perGrantStats` frame for the SAME grants relation — supplying a
    * different fleet's stats is a caller contract violation, exactly
    * `servedTopKScopedWith`'s). The streaming face prices the frozen
    * grants once at stream definition and feeds every micro-batch
    * through here, so a trigger never re-scans the docs store.
    */
  def servedTopKPerGrantWith(spark: SparkSession, dir: String,
      aqueries: DataFrame, k: Int, grantPairs: DataFrame,
      statsA: DataFrame): DataFrame = {
    val nBuckets = servedNBuckets(spark, dir)
    val pairs = grantPairs.select("account", "doc_id")
    val aqTerms = aqueries.select(col("account"), col("query_id"),
        explode(array_distinct(split(col("q_text"), " "))).as("term"))
      .filter(col("term") =!= "")
    val termBuckets = aqTerms.select("term").distinct()
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
    val buckets = termBuckets.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    // pruned read → term match → GRANT JOIN, all before df/scoring
    // touch a row (the servedTopKScoped pre-filter discipline, with
    // the semi-join widened to an inner join that tags each surviving
    // posting with every account granting its doc)
    val pA = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(termBuckets), Seq("bucket", "term"))
      .select("term", "doc_id", "tf", "doc_len").distinct()
      .join(pairs, Seq("doc_id"))
    val dfA = pA.groupBy("account", "term").agg(count(lit(1)).as("df"))
    val idfA = dfA
      .join(broadcast(statsA.select("account", "n_docs")), Seq("account"))
      .select(col("account"), col("term"),
        idfE6(col("df"), col("n_docs")).as("idf_e6"))
    val contrib = pA
      .join(broadcast(idfA), Seq("account", "term"))
      .join(broadcast(aqTerms), Seq("account", "term"))
      .join(broadcast(statsA.select("account", "avgdl")), Seq("account"))
      .select(col("account"), col("query_id"), col("doc_id"),
        (col("idf_e6") *
          floor(tfNorm(col("tf"), col("doc_len"), col("avgdl")) * lit(1e9))
            .cast("long")).as("contrib_e15"))
    val scored = contrib.groupBy("account", "query_id", "doc_id")
      .agg(sum("contrib_e15").as("score_e15"),
        count(lit(1)).as("n_matched_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("account", "query_id")
      .orderBy(col("score_e15").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("account"), col("query_id"),
        col("rnk").cast("int").as("rnk"),
        col("doc_id"), col("score_e15"), col("n_matched_terms"))
  }

  /** Exact PHRASE search — the positional face BM25's bag-of-words
    * scoring cannot express: a phrase of n tokens matches where a
    * positional word n-gram equals it verbatim
    * (`DedupOps.positionalGrams`, d10's index base — consecutive
    * positions by construction, no position-arithmetic self-joins).
    * Per phrase: matching docs ranked by occurrence count (tie →
    * doc_id), with the first match position for snippeting. The
    * phrase set is BROADCAST against the gram explode, so only
    * matching grams ever shuffle — the query-term semi-join discipline
    * of `topK` applied positionally; phrases of different lengths each
    * scan their own gram width.
    */
  def phraseTopK(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], k: Int): DataFrame = {
    require(phrases.nonEmpty, "phraseTopK needs at least one phrase")
    val spark = docs.sparkSession
    import spark.implicits._
    val matches = phrases.distinct.groupBy(_.split(" ").length).toSeq
      .sortBy(_._1)
      .map { case (n, ps) =>
        DedupOps.positionalGrams(docs, idCol, textCol, n)
          .join(broadcast(ps.toDF("phrase")), col("gram") === col("phrase"))
          .select("phrase", "doc_id", "i")
      }.reduce(_.unionByName(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("phrase").orderBy(col("n_hits").desc, col("doc_id"))
    matches.groupBy("phrase", "doc_id")
      .agg(count(lit(1)).as("n_hits"), min("i").cast("long").as("first_pos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("phrase", "doc_id", "n_hits", "first_pos", "rnk")
  }
}
