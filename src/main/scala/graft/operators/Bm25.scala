package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts

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

  /** `n_buckets` memo for the SERVED path (r20): the bucket count is
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

  /** The served path's corpus-stats memo (r21, guide §2.4): every
    * unscoped `servedTopK` call crossJoined the one-row stats PARQUET
    * into the scoring tail twice (n_docs for idf, avgdl for tf-normalization) —
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
  def corpusStats(lengths: DataFrame): DataFrame = keyedStats(lengths, Nil)

  /** `corpusStats` per scope key — one row per key value (a grant's). */
  private def keyedStats(lengths: DataFrame, keys: Seq[String]): DataFrame =
    lengths.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum("doc_len").as("sum_len"))
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
    val qTerms = queryTerms(queries.toDF("query_id", "q_text"), Nil)
    val lens = docLengths(docs, idCol, textCol)
    val stats = corpusStats(lens)
    val p = postings(docs, idCol, textCol)
      .join(broadcast(qTerms.select("term").distinct()), "term")
      .join(lens, "doc_id")
      .select("term", "doc_id", "tf", "doc_len")
    scoreAndRank(p, stats, qTerms, k, Nil)
  }

  /** (keys…, query_id, term) from a (keys…, query_id, q_text) relation. */
  private def queryTerms(queries: DataFrame, keys: Seq[String]): DataFrame =
    queries.select(keys.map(col) ++ Seq(col("query_id"),
        explode(array_distinct(split(col("q_text"), " "))).as("term")): _*)
      .filter(col("term") =!= "")

  /** THE scoring tail, shared STRUCTURALLY by the ad-hoc and served
    * paths (their bit-identity contract rests on this being one
    * expression tree, not two copies kept in sync): `p` is
    * (keys…, term, doc_id, tf, doc_len) already restricted to the query
    * terms; df per (keys, term) is the exact count over those rows
    * (each term's full posting list survives its own filter);
    * contributions are exact idf_e6 · tfnorm_e9 BIGINT products summed
    * order-independently (object doc). `keys` are a grant's scope
    * columns (`servedTopK`): `stats` then holds one row per key value
    * and joins on them; with no key it is the one corpus row,
    * broadcast-crossJoined.
    */
  private def scoreAndRank(p: DataFrame, stats: DataFrame,
      qTerms: DataFrame, k: Int, keys: Seq[String]): DataFrame = {
    def withStat(df: DataFrame, stat: String): DataFrame = {
      val st = broadcast(stats.select((keys :+ stat).map(col): _*))
      if (keys.isEmpty) df.crossJoin(st) else df.join(st, keys)
    }
    val dfPerTerm = p.groupBy((keys :+ "term").map(col): _*)
      .agg(count(lit(1)).as("df"))
    // per-term idf as a guarded exact integer (idfE6's doc); the tiny
    // term relation is where the ln evaluates — once per term, not per
    // posting row
    val termIdf = withStat(dfPerTerm, "n_docs")
      .select(keys.map(col) ++ Seq(col("term"),
        idfE6(col("df"), col("n_docs")).as("idf_e6")): _*)
    // contribution = idf_e6 · floor(tfnorm · 1e9): a product of two
    // exact BIGINTs (≤ ~2e7 · ~2.2e9 < 2^63), summed order-independently
    val qKeys = keys :+ "query_id"
    val contrib = withStat(p.join(broadcast(termIdf), keys :+ "term")
        .join(broadcast(qTerms), keys :+ "term"), "avgdl")
      .select(qKeys.map(col) ++ Seq(col("doc_id"),
        (col("idf_e6") *
          floor(tfNorm(col("tf"), col("doc_len"), col("avgdl")) * lit(1e9))
            .cast("long")).as("contrib_e15")): _*)
    val scored = contrib.groupBy((qKeys :+ "doc_id").map(col): _*)
      .agg(sum("contrib_e15").as("score_e15"),
        count(lit(1)).as("n_matched_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qKeys.map(col): _*)
      .orderBy(col("score_e15").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(qKeys.map(col) ++ Seq(col("rnk").cast("int").as("rnk"),
        col("doc_id"), col("score_e15"), col("n_matched_terms")): _*)
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
    val qTerms = queryTerms(queries.toDF("query_id", "q_text"), Nil)
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
    * A crash inside either write leaves only `_temporary`, which the
    * next `Artifacts.append` clears (one writer per index).
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
    val fresh = Artifacts.readTouched(Some(spark.read.parquet(s"$dir/docs")),
        "dbucket", d.select("dbucket"))
      .fold(d)(docs => d.join(docs.select("doc_id"), Seq("doc_id"), "left_anti"))
      .localCheckpoint() // pin: consumed by two writes below
    val nFresh = fresh.count()
    if (nFresh == 0) return 0L
    val lens = docLengths(fresh, "doc_id", "text")
    Artifacts.append(postings(fresh, "doc_id", "text").join(lens, "doc_id")
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
      .repartition(col("bucket")), s"$dir/postings", "bucket")
    Artifacts.append(
      lens.withColumn("dbucket", pmod(hash(col("doc_id")), lit(nBuckets)))
        .repartition(col("dbucket")), s"$dir/docs", "dbucket")
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

  /** One consumer grant over a served index: the `pairs` it may read —
    * its scope key columns plus `doc_id` — and its corpus statistics,
    * priced from those pairs. With no key column the pairs are one
    * consumer's allowed doc set (b14); with `account` every account has
    * its own grant (b15), the reference's `current_account()` secure
    * view over an N-row security table (`dp_demo.sql:222-239`). A grant
    * is a SET: a repeated pair counts once. Only `grant` builds one, so
    * a serve can never pair one grant's rows with another's N/avgdl.
    */
  final class Grant private[Bm25] (val dir: String, val keys: Seq[String],
      val pairs: DataFrame, private[Bm25] val stats: DataFrame)

  /** Price a grant over the index at `dir`: every column of `pairs`
    * other than `doc_id` is a scope key. N/avgdl (one row per key, or
    * one row with no key) aggregate the docs store's granted rows —
    * one narrow pass, collected here once, so every serve under the
    * grant re-enters them as a local relation at zero jobs. A
    * long-lived consumer (a query stream, a session memo) builds its
    * grant once and reuses it; the stats change only with the grant or
    * the corpus.
    */
  def grant(spark: SparkSession, dir: String, pairs: DataFrame): Grant = {
    require(pairs.columns.contains("doc_id"), "grant pairs need a doc_id column")
    val keys = pairs.columns.toSeq.filterNot(_ == "doc_id")
    val kp = pairs.select((keys :+ "doc_id").map(col): _*)
    val priced = keyedStats(spark.read.parquet(s"$dir/docs")
      .select("doc_id", "doc_len").join(kp, Seq("doc_id"))
      .select((keys ++ Seq("doc_id", "doc_len")).map(col): _*).distinct(),
      keys)
    new Grant(dir, keys, kp, spark.createDataFrame(
      java.util.Arrays.asList(priced.collect(): _*), priced.schema))
  }

  /** Serve top-k from a persisted index: reads ONLY the partitions the
    * query terms hash into. `queries` is any (query_id, q_text)
    * relation — a literal set or one micro-batch of a query stream
    * (`RetrievalStream`). The bucket set is resolved driver-side (a
    * collect of the DISTINCT term-bucket codes, bounded by the
    * queries' vocabulary — no file is read; the n5 precedent of
    * driver-side probe selection) and pushed down as a plan-time `isin`
    * PartitionFilter, then the term equi-join runs inside the surviving
    * partitions. df is computed from the pruned rows (exact — see
    * `buildIndex`), making the result bit-identical to `topK` on the
    * same corpus (Bm25Spec pins it): same inputs, same expression tree.
    * The pre-scoring `distinct()` collapses byte-identical rows a
    * crash-replayed append may have left (over the already-pruned tiny
    * relation — its rows are about to shuffle for the df aggregate
    * anyway).
    *
    * Under a `grant` everything scopes, the way `IvfPq.searchDf`
    * scopes by its `scopeCols`: the pruned postings join the grant's
    * pairs BEFORE df, scoring or ranking touch a row (a posting fans
    * out once per key that grants its doc; the `distinct()` runs after
    * that join, so a repeated pair counts once), df is exact per
    * (keys, term), N/avgdl are the grant's, and every aggregate and
    * window widens by the keys. Each key's slice is bit-identical to
    * `topK` over an index built on its grant alone (the b14 oracle
    * replays exactly that; MultiGrantSpec pins per-account ≡ per-scope),
    * served from ONE shared artifact in ONE plan: the account dimension
    * multiplies only the tiny term/stats relations and the k-bounded
    * output. `queries` then carries the key columns too, and the output
    * leads with them.
    *
    * Interim exposure inside `appendToIndex`'s documented crash window
    * (postings landed, docs/stats not yet): the orphan postings count
    * into df while n_docs/avgdl still exclude their docs, so scores —
    * not just row sets — can TEMPORARILY differ from `topK` on the
    * logical corpus until the replayed append completes (ADVICE r11).
    * Healed by the replay; the window is the append's, not this
    * reader's.
    */
  def servedTopK(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, grant: Option[Grant] = None): DataFrame = {
    grant.foreach(g => require(g.dir == dir,
      s"grant priced over ${g.dir} cannot serve $dir"))
    val keys = grant.fold(Seq.empty[String])(_.keys)
    val stats = grant.fold(servedStatsDf(spark, dir))(_.stats)
    val nBuckets = servedNBuckets(spark, dir)
    val qTerms = queryTerms(queries, keys)
    val termBuckets = qTerms.select("term").distinct()
      .withColumn("bucket", pmod(hash(col("term")), lit(nBuckets)))
    val buckets = termBuckets.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val read = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(termBuckets), Seq("bucket", "term"))
    val p = grant.fold(read)(g => read.join(g.pairs, Seq("doc_id")))
      .select((keys ++ Seq("term", "doc_id", "tf", "doc_len")).map(col): _*)
      .distinct()
    scoreAndRank(p, stats, qTerms, k, keys)
  }

  def servedTopK(spark: SparkSession, dir: String,
      queries: Seq[(Long, String)], k: Int): DataFrame = {
    import spark.implicits._
    servedTopK(spark, dir, queries.toDF("query_id", "q_text"), k)
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
