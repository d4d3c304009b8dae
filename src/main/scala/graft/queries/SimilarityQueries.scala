package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.SimilarityOps

/** Similarity search over the `embeddings` table (SURVEY extension ops;
  * builder brief "similarity search"). The exact brute-force and the
  * partitioned-heap implementations share one DuckDB oracle — the same
  * left-fold cosine written in DuckDB lambda SQL — proving the scale
  * path is exact, not approximate.
  */
object SimilarityQueries extends QueryPack {

  private val K = 10
  private val QueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)

  private val KmK = 8
  private val KmIters = 3
  private val KmDims = 64
  private val KmQuota = 5

  /** PQ shape: 4 subspaces × 16 dims, 4 codewords each, 2 Lloyd rounds
    * — small enough that the oracle's 4 unrolled training chains stay
    * readable; the production shape (m=8+, k=256) changes only these
    * constants. Declared BEFORE `queries` (strict val) — the oracle
    * strings bake them at object construction.
    */
  private val PqM = 4
  private val PqK = 4
  private val PqIters = 2

  /** Large-nlist fixture (n26): nlist > KMeans.MaxLiteralK (64), so
    * the whole IVF-PQ chain runs the packed single-literal path.
    * Iters kept at 2 — the oracle replays every Lloyd round over
    * nlist cells, and the PATH is what this fixture exists to pin.
    */
  private val NlK = 256
  private val NlIters = 2

  /** DuckDB left-fold dot product — bit-identical to the Spark fold. */
  private def dot(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, x) -> acc + x)"

  /** DuckDB cosine with the identical fold order (list_reduce is a left
    * fold; double accumulation) — bit-identical to the Spark expression.
    * The CTE chain is shared by n1 and n11 (anti-drift: one ranking,
    * two faces).
    */
  private def knnCtes: String =
    s"""q AS (SELECT vec_id query_id, embedding qe FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id neighbor_id, embedding ne FROM embeddings),
       sims AS (SELECT query_id, neighbor_id,
         (${dot("qe", "ne")}) / (sqrt(${dot("qe", "qe")}) * sqrt(${dot("ne", "ne")})) AS sim
        FROM q, c WHERE neighbor_id <> query_id),
       ranked AS (SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        FROM sims)"""

  private def oracle: String =
    s"""WITH $knnCtes
       SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, sim
       FROM ranked WHERE rnk <= $K ORDER BY query_id, rnk"""

  /** deriveBits yields 8 for every testdata scale (n ≤ 2^8·4096 ≈ 1M
    * rows), so the static oracle text fixes 8; the Spark side derives
    * the same value from the catalog row count.
    */
  private val LshBits = 8

  /** DuckDB replay of `SimilarityOps.annSignLsh`: the same inlined ±1
    * hyperplane coefficients (via `SimilarityOps.sign`), the same
    * left-to-right projection sum (IEEE-identical in any engine), the
    * same {bucket} ∪ {bucket ^ 2^i} probe set, the same fold cosine and
    * rank tie-break. DuckDB lists are 1-indexed, hence `[j+1]`.
    */
  private def annLshOracle(bits: Int, dim: Int = 64): String = {
    val bucket = (0 until bits).map { i =>
      val proj = (0 until dim)
        .map(j => s"(${SimilarityOps.sign(i, j)}) * CAST(embedding[${j + 1}] AS DOUBLE)")
        .mkString(" + ")
      s"(CASE WHEN ($proj) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val probes = ((0 until bits).map(i => s"xor(bucket, ${1L << i})") :+ "bucket")
      .mkString(", ")
    s"""WITH b AS (SELECT vec_id, embedding,
         CAST($bucket AS BIGINT) AS bucket FROM embeddings),
       q AS (SELECT vec_id AS query_id, embedding AS qe,
         unnest([$probes]) AS bucket FROM b WHERE vec_id < 5),
       cand AS (SELECT q.query_id, c.vec_id AS neighbor_id, q.qe, c.embedding AS ne
         FROM q JOIN b c USING (bucket) WHERE c.vec_id <> q.query_id),
       sims AS (SELECT query_id, neighbor_id,
         (${dot("qe", "ne")}) / (sqrt(${dot("qe", "qe")}) * sqrt(${dot("ne", "ne")})) AS sim
        FROM cand),
       ranked AS (SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        FROM sims)
       SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, sim
       FROM ranked WHERE rnk <= $K ORDER BY query_id, rnk"""
  }

  /** Pinned IVF recall per test corpus (see the n4 comment for why the
    * recall vector is a constant of (data, seed)). The corpus is
    * identified by an EXACT integer fingerprint — Σ floor(e[0]·2^20),
    * order-independent integer arithmetic — because the row count alone
    * cannot tell sf0.001 from sf0.01 (both hold 500 vectors). Values
    * measured once per corpus from the Spark side and held as the
    * contract at every driver SF; an UNKNOWN corpus yields one legible
    * sentinel row (query_id = −1 carrying the unmatched fingerprint)
    * instead of a confusing five-row value diff.
    */
  private val ivfRecallOracle: String =
    s"""WITH disc AS (SELECT CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS f
         FROM embeddings),
       pinned AS (SELECT * FROM (VALUES
         (-1535304, 0, 3, 0.3), (-1535304, 1, 3, 0.3), (-1535304, 2, 3, 0.3),
         (-1535304, 3, 9, 0.9), (-1535304, 4, 5, 0.5),
         (1134678, 0, 4, 0.4), (1134678, 1, 6, 0.6), (1134678, 2, 7, 0.7),
         (1134678, 3, 5, 0.5), (1134678, 4, 5, 0.5),
         (1604151, 0, 4, 0.4), (1604151, 1, 5, 0.5), (1604151, 2, 8, 0.8),
         (1604151, 3, 6, 0.6), (1604151, 4, 5, 0.5)
         ) AS t(f, query_id, n_hits, recall))
       SELECT CAST(query_id AS BIGINT) AS query_id, CAST(n_hits AS BIGINT) AS n_hits,
         CAST(recall AS DOUBLE) AS recall
       FROM pinned JOIN disc ON pinned.f = disc.f
       UNION ALL
       SELECT CAST(-1 AS BIGINT), CAST((SELECT f FROM disc) AS BIGINT), CAST(-1 AS DOUBLE)
       WHERE NOT EXISTS (SELECT 1 FROM pinned JOIN disc ON pinned.f = disc.f)
       ORDER BY query_id"""

  /** One persisted IVF index per (session, dataset) — built and saved on
    * first use, reused by every later n5 invocation (bench reps, verify,
    * plan audits). Build-once-serve-many IS the n5 contract; rebuilding
    * a fresh temp copy of the corpus per call was an unbounded disk leak
    * (ADVICE r7). The temp dir is deleted on JVM exit.
    *
    * ASSUMES THE DATASET DIR IS IMMUTABLE for the application's
    * lifetime — the same contract as Tables' static-testdata
    * memoization: the driver's testdata is generated once and read-only.
    * If files under `d` were regenerated mid-application, n5 would
    * serve the stale index while `exact` reads fresh data (ADVICE r8);
    * a mutable-corpus deployment must key this store by a content
    * fingerprint (footer row count + max file mtime) or drop it.
    */
  private def servedIvfDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.SessionStore.dir(s, "ivf_n5_store", d) { dir =>
      graft.operators.IvfIndex.save(graft.operators.IvfIndex.build(
        Tables.load(s, d, "embeddings"), nlist = 16,
        knownN = Tables.rowCount(s, d, "embeddings")), dir)
      dir
    }

  val queries: Seq[Q] = Seq(

    // Exact top-k cosine, brute force (correctness baseline).
    Q("n1_knn_cosine",
      (s, d) => SimilarityOps
        .topKCosineWindow(Tables.load(s, d, "embeddings"), QueryIds, K)
        .orderBy("query_id", "rnk"),
      Some(oracle)),

    // kNN CLASSIFICATION — the evaluation face of the n-family: each
    // query vector's label predicted by majority vote over its n1
    // top-K neighborhood (tie → smaller label id, deterministic).
    // Shares n1's exact ranking (same operator call; the oracle
    // shares knnCtes verbatim), so the prediction face can never
    // drift from the search face. Votes and flags are pure integers.
    // Scale: K·|queries| vote rows after the n1 search — the
    // classification itself costs nothing beyond the search.
    Q("n11_knn_classify",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.load(s, d, "embeddings")
        val labels = emb.select(col("vec_id"), col("label"))
        val votes = SimilarityOps.topKCosineWindow(emb, QueryIds, K)
          .join(labels.withColumnRenamed("vec_id", "neighbor_id"),
            Seq("neighbor_id"))
          .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("votes").desc, col("label"))
        votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("query_id"), col("label").as("pred_label"), col("votes"))
          .join(labels.select(col("vec_id").as("query_id"),
            col("label").as("true_label")), Seq("query_id"))
          .select(col("query_id"), col("true_label"), col("pred_label"),
            col("votes"),
            when(col("true_label") === col("pred_label"), 1).otherwise(0)
              .as("is_correct"))
          .orderBy("query_id")
      },
      Some(s"""WITH $knnCtes,
             top AS (SELECT query_id, neighbor_id FROM ranked WHERE rnk <= $K),
             v AS (SELECT query_id, e.label, count(*) AS votes
               FROM top JOIN embeddings e ON e.vec_id = top.neighbor_id
               GROUP BY 1, 2),
             p AS (SELECT query_id, label AS pred_label, votes,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY votes DESC, label) AS rn FROM v)
           SELECT p.query_id, t.label AS true_label, pred_label, votes,
             CASE WHEN t.label = pred_label THEN 1 ELSE 0 END AS is_correct
           FROM p JOIN embeddings t ON t.vec_id = p.query_id
           WHERE rn = 1 ORDER BY query_id""")),

    // Per-label QUANTIZED centroid report — exact class statistics
    // over the int8 store: float components can't centroid exactly
    // (parallel float summation is order-dependent), but the
    // quantized CODES are integers, so per-label code sums commute
    // and the fixed-point means hash cross-engine. The report a team
    // reads to sanity-check cluster separation in the compressed
    // store (labels × dims cells; first three dims pinned here).
    Q("n12_label_centroids",
      (s, d) => {
        import graft.operators.Quantization
        val q = Quantization.quantize(Tables.load(s, d, "embeddings"))
          .join(Tables.load(s, d, "embeddings").select("vec_id", "label"),
            Seq("vec_id"))
        q.groupBy("label")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(element_at(qvec, 1) AS BIGINT)")).as("s0"),
            sum(expr("CAST(element_at(qvec, 2) AS BIGINT)")).as("s1"),
            sum(expr("CAST(element_at(qvec, 3) AS BIGINT)")).as("s2"))
          .select(col("label"), col("n"),
            expr("(s0 * 1000000) div n").as("c0_e6"),
            expr("(s1 * 1000000) div n").as("c1_e6"),
            expr("(s2 * 1000000) div n").as("c2_e6"))
          .orderBy("label")
      },
      Some("""WITH sc AS (SELECT vec_id, label,
               greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30) AS scale,
               embedding FROM embeddings),
             q AS (SELECT vec_id, label,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS qvec
               FROM sc),
             g AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(qvec[1]) AS BIGINT) AS s0,
               CAST(sum(qvec[2]) AS BIGINT) AS s1,
               CAST(sum(qvec[3]) AS BIGINT) AS s2
               FROM q GROUP BY 1)
           SELECT label, n,
             (s0 * 1000000) // n AS c0_e6,
             (s1 * 1000000) // n AS c1_e6,
             (s2 * 1000000) // n AS c2_e6
           FROM g ORDER BY label""")),

    // Int8-quantized top-k (Quantization.quantize → dequantize →
    // exact cosine): the storage-lever path — the oracle replays the
    // IDENTICAL scale/floor/cast arithmetic in DuckDB, so the hash
    // match pins the whole quantization contract cross-engine, not an
    // epsilon. Neighborhood fidelity vs the float path is spec-pinned
    // (QuantizationSpec); the storage ratio too.
    Q("n7_knn_quantized",
      (s, d) => {
        import graft.operators.Quantization
        SimilarityOps.topKCosineWindow(
            Quantization.dequantize(Quantization.quantize(
              Tables.load(s, d, "embeddings"))), QueryIds, K)
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH sc AS (SELECT vec_id,
             greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30) AS scale,
             embedding FROM embeddings),
           dq AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) * scale AS FLOAT)) AS embedding
             FROM sc),
           q AS (SELECT vec_id query_id, embedding qe FROM dq WHERE vec_id < 5),
           c AS (SELECT vec_id neighbor_id, embedding ne FROM dq),
           sims AS (SELECT query_id, neighbor_id,
             (${dot("qe", "ne")}) / (sqrt(${dot("qe", "qe")}) * sqrt(${dot("ne", "ne")})) AS sim
            FROM q, c WHERE neighbor_id <> query_id),
           ranked AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
            FROM sims)
           SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, sim
           FROM ranked WHERE rnk <= $K ORDER BY query_id, rnk""")),

    // Exact top-k cosine via per-partition bounded heaps — the 100 TB
    // plan (no corpus shuffle). Same oracle: exactness of the scale
    // path is part of the contract.
    Q("n2_knn_partitioned",
      (s, d) => SimilarityOps
        .topKCosinePartitioned(Tables.load(s, d, "embeddings"), QueryIds, K)
        .orderBy("query_id", "rnk"),
      Some(oracle)),

    // ANN: sign-LSH buckets + Hamming-1 multi-probe + exact re-rank —
    // hash-matched: the hyperplanes are plan-build-time ±1 CONSTANTS
    // (MurmurHash3-derived, inlined into the expression), so the oracle
    // replays the identical bucket codes, probe set, and fold cosine.
    // Recall on planted clusters is additionally pinned in
    // SimilaritySpec (the isotropic testdata admits none by design).
    Q("n3_ann_lsh",
      (s, d) => SimilarityOps
        .annSignLsh(Tables.load(s, d, "embeddings"), QueryIds, K,
          knownN = Tables.rowCount(s, d, "embeddings"))
        .orderBy("query_id", "rnk"),
      Some(annLshOracle(bits = LshBits))),

    // ANN: IVF (k-means coarse quantizer, nprobe cells scanned, exact
    // re-rank). The quantizer is not SQL-replayable, so the entry emits
    // recall@k against the EXACT top-k computed in the same plan (left
    // join from the n1 shape), one row per query — and the oracle pins
    // the expected values: the quantizer is a pure function of
    // (data, seed) (single-partition training, fixed seed), so recall
    // on the static testdata is a constant; an implementation
    // regression shows up as a hash mismatch. Cluster recall is also
    // verified on planted clusters in SimilaritySpec.
    Q("n4_ann_ivf",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val ann = graft.operators.IvfIndex.search(emb, QueryIds, K,
          knownN = Tables.rowCount(s, d, "embeddings"))
        val exact = SimilarityOps.topKCosineWindow(emb, QueryIds, K)
        exact.as("x").join(ann.as("a"),
            col("x.query_id") === col("a.query_id") &&
            col("x.neighbor_id") === col("a.neighbor_id"), "left")
          .groupBy(col("x.query_id").as("query_id"))
          .agg(sum(when(col("a.neighbor_id").isNotNull, 1L).otherwise(0L)).as("n_hits"),
            (sum(when(col("a.neighbor_id").isNotNull, 1L).otherwise(0L)) /
              lit(K.toDouble)).as("recall"))
          .orderBy("query_id")
      },
      Some(ivfRecallOracle)),

    // The SERVING path of the same IVF index: build → save (cell-
    // partitioned) → load → searchPruned (driver-side probe selection
    // pushed down as a partition filter). Bit-identical to n4's
    // in-plan search (SimilaritySpec pins it), so it shares n4's
    // pinned-recall oracle — a hash mismatch means the persisted
    // round-trip or the pruned probe path diverged from the live one.
    Q("n5_ann_ivf_served",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val ann = graft.operators.IvfIndex.searchPruned(
          graft.operators.IvfIndex.load(s, servedIvfDir(s, d)), QueryIds, K,
          nprobe = 4)
        val exact = SimilarityOps.topKCosineWindow(emb, QueryIds, K)
        exact.as("x").join(ann.as("a"),
            col("x.query_id") === col("a.query_id") &&
            col("x.neighbor_id") === col("a.neighbor_id"), "left")
          .groupBy(col("x.query_id").as("query_id"))
          .agg(sum(when(col("a.neighbor_id").isNotNull, 1L).otherwise(0L)).as("n_hits"),
            (sum(when(col("a.neighbor_id").isNotNull, 1L).otherwise(0L)) /
              lit(K.toDouble)).as("recall"))
          .orderBy("query_id")
      },
      Some(ivfRecallOracle)),

    // BATCH serving over the same persisted index: the query ids arrive
    // as a DataFrame and stay one — pointer store and assignment are
    // JOINED (no isin literals, no driver round-trips), centroids are
    // broadcast. Bit-identical to n5's searchPruned (SimilaritySpec
    // pins it at sf0.1), so it shares the same pinned-recall oracle; a
    // hash mismatch means the executor-side resolution diverged from
    // the driver-side one.
    Q("n6_ann_ivf_batch_served",
      (s, d) => {
        import s.implicits._
        val emb = Tables.load(s, d, "embeddings")
        val ann = graft.operators.IvfIndex.searchPrunedDf(
          graft.operators.IvfIndex.load(s, servedIvfDir(s, d)),
          QueryIds.toDF("query_id"), K, nprobe = 4)
        val exact = SimilarityOps.topKCosineWindow(emb, QueryIds, K)
        exact.as("x").join(ann.as("a"),
            col("x.query_id") === col("a.query_id") &&
            col("x.neighbor_id") === col("a.neighbor_id"), "left")
          .groupBy(col("x.query_id").as("query_id"))
          .agg(sum(when(col("a.neighbor_id").isNotNull, 1L).otherwise(0L)).as("n_hits"),
            (sum(when(col("a.neighbor_id").isNotNull, 1L).otherwise(0L)) /
              lit(K.toDouble)).as("recall"))
          .orderBy("query_id")
      },
      Some(ivfRecallOracle)),

    // Scalar-quantile-codebook ADC top-k (n9) — the PQ storage tier:
    // per-dim 16-level equal-frequency codebooks (anchors are exact
    // data values at integer ranks — no float k-means, so the ENTIRE
    // build → encode → pack → unpack → reconstruct → cosine → top-k
    // chain replays bit-for-bit in DuckDB), codes packed two-per-byte
    // (0.5 byte/dim, 8× over float32, 2× beyond n7's int8), query side
    // exact (asymmetric distance). The codebook build sorts each dim
    // once; at 100 TB it fits on a bounded sample (the
    // IvfIndex.assign(maxTrainRows) contract) while encode stays a
    // narrow broadcast-join pass. Neighborhood fidelity vs the exact
    // path is spec-pinned (QuantizationSpec).
    Q("n9_sq_adc_topk",
      (s, d) => {
        import graft.operators.Quantization
        val emb = Tables.load(s, d, "embeddings")
        // r21 note: a localCheckpoint on the codebook (it feeds encode
        // AND decode) was prototyped and measured NO BETTER here and
        // WORSE on n25 (n9 1.69 → 1.71 s, n25 2.12 → 2.49 s, +4 jobs):
        // the two consumers' identical rank-sort exchanges already
        // dedup via ReusedExchange, so the eager materialization only
        // added jobs. Kept lazy — guide §1, measurement recorded.
        val cb = Quantization.sqCodebook(emb)
        val rec = Quantization.sqDecode(Quantization.sqEncode(emb, cb), cb)
        val queries = emb.filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        SimilarityOps.topKCosineAgainst(rec, queries, K)
          .orderBy("query_id", "rnk")
      },
      Some(sqAdcOracle)),

    // The SAME search over the PERSISTED SQ tier (n10) — codes +
    // codebook written once per (session, dataset) and reconstructed
    // lazily off disk (n5's build-once-serve-many contract; same
    // immutable-dataset assumption). Decoding is deterministic, so the
    // served path is bit-identical to n9's ad-hoc chain and SHARES ITS
    // ORACLE VERBATIM — a hash mismatch means the persisted layout
    // diverged from the in-memory one.
    Q("n10_sq_adc_served",
      (s, d) => {
        import graft.operators.Quantization
        val rec = Quantization.loadSq(s, servedSqDir(s, d))
        val queries = Tables.load(s, d, "embeddings")
          .filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        SimilarityOps.topKCosineAgainst(rec, queries, K)
          .orderBy("query_id", "rnk")
      },
      Some(sqAdcOracle)),

    // Distributed fixed-point k-means (operators/KMeans): Lloyd over
    // e6-quantized vectors, every step exact integer arithmetic, so the
    // DuckDB oracle replays ALL the rounds (seeding included) and the
    // hash match pins the whole trajectory — not a tolerance. The fit
    // is cached per (session, dataset) so the three faces share one
    // training run (the n5/n10 build-once discipline). Scale: per round
    // one corpus scan + a k-row partial-agg shuffle; assignment is a
    // map-side codegen'd argmin against an inlined centroid literal —
    // the distributed fit the IVF single-task sampler deliberately
    // is not.
    Q("n13_kmeans_assign",
      (s, d) => {
        import graft.operators.KMeans
        KMeans.assign(
            KMeans.quantized(Tables.load(s, d, "embeddings")),
            fittedCents(s, d))
          .orderBy("vec_id")
      },
      Some(graft.operators.KMeans.assignOracleSql(KmK, KmIters, KmDims))),

    // Per-cluster fit report: sizes, within-cluster sum of squares,
    // exact centroid norm² — the quality face (an elbow/occupancy
    // report a curation pipeline reads before trusting the clusters).
    Q("n14_kmeans_summary",
      (s, d) => {
        import graft.operators.KMeans
        val spark = s
        import spark.implicits._
        val cents = fittedCents(s, d)
        val agg = KMeans.assign(
            KMeans.quantized(Tables.load(s, d, "embeddings")), cents)
          .groupBy("cluster")
          .agg(count(lit(1)).as("n"), KMeans.wcssExact.as("wcss"))
        cents.zipWithIndex
          .map { case (c, i) => (i, c.map(v => v * v).sum) }
          .toDF("cluster", "cent_norm2")
          .join(agg, Seq("cluster"), "left")
          .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("wcss"), lit(0L)).as("wcss"), col("cent_norm2"))
          .orderBy("cluster")
      },
      Some(graft.operators.KMeans.summaryOracleSql(KmK, KmIters, KmDims))),

    // Cluster-balanced coreset: a bounded md5-deterministic quota per
    // final cluster — the semantic-diversity sampling step of
    // cluster-then-sample curation (keeps a sample from collapsing
    // onto the densest content region). One window over the final
    // assignment.
    Q("n15_cluster_coreset",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.operators.KMeans
        val w = Window.partitionBy("cluster").orderBy(col("h"), col("vec_id"))
        KMeans.assign(
            KMeans.quantized(Tables.load(s, d, "embeddings")),
            fittedCents(s, d))
          .withColumn("h", md5(col("vec_id").cast("string")))
          .withColumn("rn", row_number().over(w).cast("int"))
          .filter(col("rn") <= KmQuota)
          .select(col("vec_id"), col("cluster"), col("rn"))
          .orderBy("cluster", "rn")
      },
      Some(graft.operators.KMeans.coresetOracleSql(KmK, KmIters, KmQuota, KmDims))),

    // Product quantization (operators/PqIndex; Jégou et al. 2011): the
    // codes-only compression tier — m per-subspace codebooks trained by
    // the SAME fixed-point Lloyd as n13, so the DuckDB oracle replays
    // all m training chains AND the encoding; a hash match pins every
    // codeword, not just the codes. Encoding is one map-side projection
    // (no join, no shuffle — PqSpec plan-asserts it); err2 is the exact
    // integer reconstruction error per vector.
    Q("n16_pq_encode",
      (s, d) => {
        import graft.operators.PqIndex
        PqIndex.encode(Tables.load(s, d, "embeddings"), fittedBooks(s, d))
          .orderBy("vec_id")
      },
      Some(graft.operators.PqIndex.encodeOracleSql(PqM, PqK, PqIters, KmDims))),

    // ADC search over the codes: per-(query, subspace) integer distance
    // tables to every codeword are driver-computed (bounded:
    // queries·m·k longs) and inlined, so pricing a corpus row is m
    // element_at's + adds — the scan never touches a float vector. The
    // only exchange is the final per-query top-k. Approximate by
    // construction (that's PQ's contract); the oracle replays the SAME
    // approximation exactly.
    Q("n17_pq_adc_topk",
      (s, d) => {
        import graft.operators.{KMeans, PqIndex}
        val emb = Tables.load(s, d, "embeddings")
        val queries = KMeans.quantized(emb)
          .filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        PqIndex.adcTopK(
          PqIndex.encode(emb, fittedBooks(s, d)), queries,
          fittedBooks(s, d), K)
      },
      Some(graft.operators.PqIndex.adcOracleSql(
        PqM, PqK, PqIters, KmDims, QueryIds.length, K))),

    // The SAME search over the PERSISTED PQ tier — codes + codebooks
    // written once per (session, dataset), reloaded columnar (no driver
    // JSON), and searched identically; SHARES n17's ORACLE VERBATIM
    // (the n10 build-once-serve-many contract: a hash mismatch means
    // the persisted layout diverged from the in-memory one).
    Q("n18_pq_served",
      (s, d) => {
        import graft.operators.{KMeans, PqIndex}
        val (codes, books) = PqIndex.load(s, servedPqDir(s, d))
        val queries = KMeans.quantized(Tables.load(s, d, "embeddings"))
          .filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        PqIndex.adcTopK(codes, queries, books, K)
      },
      Some(graft.operators.PqIndex.adcOracleSql(
        PqM, PqK, PqIters, KmDims, QueryIds.length, K))),

    // n18's served flat-PQ ADC through the DATAFRAME-NATIVE query
    // path (PqIndex.adcTopKDf — the searchDf contract at the flat
    // tier): the per-(query, subspace) distance tables are computed
    // in-plan against the nested-array codebook literal, so the query
    // batch never collects and the plan is flat in batch size.
    // Bit-identical by construction (PqSpec pins adcTopK ≡ adcTopKDf)
    // and SHARES n17/n18's oracle VERBATIM — three faces, one oracle.
    Q("n29_pq_served_df",
      (s, d) => {
        import graft.operators.{KMeans, PqIndex}
        val (codes, books) = PqIndex.load(s, servedPqDir(s, d))
        val queries = KMeans.quantized(Tables.load(s, d, "embeddings"))
          .filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        PqIndex.adcTopKDf(codes, queries, books, K)
      },
      Some(graft.operators.PqIndex.adcOracleSql(
        PqM, PqK, PqIters, KmDims, QueryIds.length, K))),

    // IVF-PQ (operators/IvfPq; Jégou et al. 2011 §V — the FAISS
    // IndexIVFPQ shape): n13's coarse cells + PQ codes of the RESIDUAL
    // within each cell, the composed index a 100 TB corpus actually
    // serves ANN from. Encode is one map-side projection (coarse
    // argmin → zip_with subtraction → m code argmins, all inlined);
    // the oracle replays the coarse fit, the residuals, and all m
    // residual-codebook fits — sharing n13's cached coarse centroids
    // and pinning every trained value under one hash.
    Q("n19_ivfpq_encode",
      (s, d) => {
        import graft.operators.IvfPq
        IvfPq.encode(Tables.load(s, d, "embeddings"),
            fittedCents(s, d), ivfpqBooks(s, d))
          .orderBy("vec_id")
      },
      Some(graft.operators.IvfPq.encodeOracleSql(
        KmK, KmIters, PqM, PqK, PqIters, KmDims))),

    // Cell-pruned ADC search: per query the driver picks the nprobe
    // nearest coarse cells and ships one residual LUT per probed cell
    // (queries·nprobe rows, broadcast); the INNER join on the cell id
    // drops every non-probed cell's candidates BEFORE any distance
    // math — the partition-pruning lever that makes codes-only search
    // sub-linear in cells at scale (with codes written partitionBy(cell)
    // the pruning reaches the file level, the IvfIndex.save layout).
    // The oracle replays probe selection from the coarse distance
    // relation and the pruned ranking exactly.
    Q("n20_ivfpq_topk",
      (s, d) => {
        import graft.operators.{IvfPq, KMeans}
        val emb = Tables.load(s, d, "embeddings")
        val queries = KMeans.quantized(emb)
          .filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        IvfPq.search(
          IvfPq.encode(emb, fittedCents(s, d), ivfpqBooks(s, d)),
          queries, fittedCents(s, d), ivfpqBooks(s, d),
          nprobe = 3, k = K)
      },
      Some(graft.operators.IvfPq.searchOracleSql(
        KmK, KmIters, PqM, PqK, PqIters, KmDims, QueryIds.length,
        nprobe = 3, topK = K))),

    // Metadata-filtered vector search, PRE-filter semantics (the
    // vector-DB "filtered ANN" feature): restrict the corpus to rows
    // whose document attribute passes (lang = 'en'), THEN rank — the
    // semantics post-filtering a fixed top-k can't give (with a
    // selective filter, top-k-then-filter returns < k or misses
    // passing neighbors entirely; FilteredSearchSpec plants the case).
    // This exact face is the recall baseline; n22 is the indexed path.
    // At scale the attribute lives with the vector (here it arrives by
    // the shared-key join) and the filter prunes BEFORE any distance
    // math.
    Q("n21_filtered_knn",
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val en = Tables.load(s, d, "documents")
          .filter(col("lang") === "en").select("doc_id")
        val corpus = emb.join(en, col("vec_id") === col("doc_id"), "left_semi")
        val queries = emb.filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        SimilarityOps.topKCosineAgainst(corpus, queries, K)
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH q AS (SELECT vec_id query_id, embedding qe FROM embeddings WHERE vec_id < 5),
           c AS (SELECT vec_id neighbor_id, embedding ne FROM embeddings e
             JOIN documents d ON d.doc_id = e.vec_id WHERE d.lang = 'en'),
           sims AS (SELECT query_id, neighbor_id,
             (${dot("qe", "ne")}) / (sqrt(${dot("qe", "qe")}) * sqrt(${dot("ne", "ne")})) AS sim
            FROM q, c WHERE neighbor_id <> query_id),
           ranked AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
            FROM sims)
         SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, sim
         FROM ranked WHERE rnk <= $K ORDER BY query_id, rnk""")),

    // The same pre-filter pushed through the IVF-PQ index: the
    // attribute semi-join prunes the CODES table before the LUT join,
    // so candidates must pass filter ∧ probed-cell — no distance is
    // ever priced for a row the filter rejects (composes with the
    // cell-level file pruning; the post-filter alternative would rank
    // first and lose recall). Same composed oracle as n20 with the
    // filter replayed into the candidate relation.
    // Two-stage IVF-PQ: the ADC candidate set widened to kCand = 20,
    // then the top-10 re-ranked by the EXACT integer distance over the
    // stored vectors — the standard refinement tail that recovers the
    // recall code quantization loses inside the probed cells (IvfPqSpec
    // plants the case where ADC's top-1 is exact-wrong and this fixes
    // it). The exact fetch is candidate-driven (queries·kCand rows
    // broadcast into the vector store — never a corpus scan), and the
    // whole two-stage trajectory stays exact-integer, so the oracle
    // replays search + refinement verbatim under one hash.
    Q("n23_ivfpq_rerank",
      (s, d) => {
        import graft.operators.{IvfPq, KMeans}
        val emb = Tables.load(s, d, "embeddings")
        val q = KMeans.quantized(emb)
        val queries = q.filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        IvfPq.searchRerank(
          IvfPq.encode(emb, fittedCents(s, d), ivfpqBooks(s, d)),
          q, queries, fittedCents(s, d), ivfpqBooks(s, d),
          nprobe = 3, kCand = 20, k = K)
      },
      Some(graft.operators.IvfPq.rerankOracleSql(
        KmK, KmIters, PqM, PqK, PqIters, KmDims, QueryIds.length,
        nprobe = 3, kCand = 20, topK = K))),

    // The SAME two-stage refinement against the SQ-COMPRESSED tier
    // instead of the full-precision store — the tiered-storage shape a
    // 100 TB corpus actually serves: PQ codes prune and rank, the
    // 0.5-byte/dim SQ tier (n9/n10's store) refines, and the float
    // corpus is never touched at all. The refinement distance is the
    // exact integer L2 between the query's exact quantized vector and
    // the e6-quantized SQ RECONSTRUCTION (asymmetric, like ADC) — the
    // whole chain (SQ build, encode, pack, unpack, reconstruct,
    // candidate selection, re-rank) replays under one hash, sharing
    // the n9/n10 SQ CTEs verbatim so the tiers cannot drift.
    Q("n25_ivfpq_rerank_sq",
      (s, d) => {
        import graft.operators.{IvfPq, KMeans, Quantization}
        val emb = Tables.load(s, d, "embeddings")
        // codebook deliberately NOT checkpointed — measured slower
        // (see n9's r21 note: ReusedExchange already dedups the build)
        val cb = Quantization.sqCodebook(emb)
        val recQ = KMeans.quantized(
          Quantization.sqDecode(Quantization.sqEncode(emb, cb), cb))
        val queries = KMeans.quantized(emb)
          .filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        IvfPq.searchRerank(
          IvfPq.encode(emb, fittedCents(s, d), ivfpqBooks(s, d)),
          recQ, queries, fittedCents(s, d), ivfpqBooks(s, d),
          nprobe = 3, kCand = 20, k = K)
      },
      Some(graft.operators.IvfPq.rerankOracleSql(
        KmK, KmIters, PqM, PqK, PqIters, KmDims, QueryIds.length,
        nprobe = 3, kCand = 20, topK = K,
        extraCtes = s"""$sqChainCtes,
         sqev AS (SELECT u.vec_id, a.dim + 1 AS d,
           CAST(floor(CAST(CAST(a.anchor AS FLOAT) AS DOUBLE) * 1000000) AS BIGINT) AS v
           FROM unp u JOIN anch a ON a.dim = u.dim AND a.l = u.code)""",
        neighborEv = "sqev"))),

    // The SAME assignment through the PACKED physical path (the
    // large-k form `KMeans.MaxLiteralK` dispatches to: all centroids
    // as ONE nested-array literal walked by transform/array_min —
    // plan size flat in k, still zero join / zero shuffle, the shape
    // a 10⁵-cell IVF coarse quantizer needs; the since-deleted
    // `KMeansLargeKProbe` measured k = 4096). Bit-identical to n13 by
    // construction and SHARES ITS ORACLE VERBATIM — the n10/n18
    // two-faces-one-oracle discipline: a hash mismatch means the
    // physical paths diverged.
    Q("n24_kmeans_assign_packed",
      (s, d) => {
        import graft.operators.KMeans
        KMeans.assign(
            KMeans.quantized(Tables.load(s, d, "embeddings")),
            fittedCents(s, d), packed = Some(true))
          .orderBy("vec_id")
      },
      Some(graft.operators.KMeans.assignOracleSql(KmK, KmIters, KmDims))),

    // The COMPOSED IVF-PQ chain through the LARGE-nlist physical path:
    // nlist = 256 > KMeans.MaxLiteralK, so the coarse fit's per-round
    // assignment, the residual subtraction (IvfPq.residuals' packed
    // branch — element_at into the single nested-array centroid
    // literal), the encode, the cell-pruned ADC search, and the exact
    // re-rank tail ALL run the packed form a 10⁵-cell index needs —
    // composed end-to-end, where the since-deleted `KMeansLargeKProbe`
    // proved only the assignment in isolation. The oracle is the SAME
    // rerankOracleSql machinery as n23 with (nlist, iters) swapped —
    // the n24
    // two-faces-one-oracle discipline: a hash mismatch means the packed
    // chain diverged from the replayable semantics anywhere between
    // seeding and final rank. nprobe = 32 of the 256 cells keeps the
    // pruning real without starving kCand (cells hold ~2 vectors at
    // the gated SFs).
    Q("n26_ivfpq_large_nlist",
      (s, d) => {
        import graft.operators.{IvfPq, KMeans}
        // spread before the map-side encode: packed assignment prices
        // nlist·dims lambda steps PER ROW (33M at 256 cells over this
        // corpus), and the synthetic table is one parquet file = one
        // partition — at 100 TB the store arrives partitioned and this
        // line is a no-op-shaped rebalance
        val emb = Tables.load(s, d, "embeddings")
          .repartition(s.sparkContext.defaultParallelism)
        val (cents, books) = largeNlist(s, d)
        val q = KMeans.quantized(emb)
        val queries = q.filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        IvfPq.searchRerank(
          IvfPq.encode(emb, cents, books), q, queries, cents, books,
          nprobe = 32, kCand = 20, k = K)
      },
      Some(graft.operators.IvfPq.rerankOracleSql(
        NlK, NlIters, PqM, PqK, PqIters, KmDims, QueryIds.length,
        nprobe = 32, kCand = 20, topK = K))),

    // n26's chain SERVED FROM THE PERSISTED ARTIFACT — the missing
    // lifecycle step: the 256-cell coarse + residual fits and the
    // encoded corpus are saved ONCE (`IvfPq.save` — the first entry to
    // touch the store pays it, a `SessionStore.dir` fill), and the
    // serve path LOADS model state + reads the cell-partitioned codes
    // and the exact vector store from disk — zero fit jobs
    // (IvfPqArtifactSpec counts them), which is what lets a serving
    // tier restart without the 183 s refit n26's session cache only
    // amortizes within one JVM. Shares n26's oracle VERBATIM (the
    // n5/n10/n18/b4 served≡ad-hoc discipline): a hash mismatch means
    // the artifact round-trip changed the index.
    Q("n27_ivfpq_served",
      (s, d) => {
        import graft.operators.{IvfPq, KMeans}
        val dir = servedIvfPqDir(s, d)
        val (cents, books) = ServingCache.ivfPqModel(s, dir)
        val codes = ServingCache.parquetDf(s, s"$dir/codes")
        val vectors = ServingCache.parquetDf(s, s"$dir/vectors")
        val queries = KMeans.quantized(Tables.load(s, d, "embeddings"))
          .filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        IvfPq.searchRerank(codes, vectors, queries, cents, books,
          nprobe = 32, kCand = 20, k = K)
      },
      Some(graft.operators.IvfPq.rerankOracleSql(
        NlK, NlIters, PqM, PqK, PqIters, KmDims, QueryIds.length,
        nprobe = 32, kCand = 20, topK = K))),

    // n27's served two-stage chain through the DATAFRAME-NATIVE
    // query path (IvfPq.searchDf / searchRerankDf — VERDICT r16 #1):
    // probe selection and the residual ADC LUTs are computed
    // EXECUTOR-SIDE against the broadcast-literal centroids and
    // codebooks, so the query batch never collects to the driver and
    // the serving plan's size is flat in the batch size (the
    // IvfIndex.searchPrunedDf contract brought to the codes tier —
    // what a 10⁶-query scoring fleet needs where n27's driver-LUT
    // face caps out). Bit-identical by construction (same integer
    // arithmetic, same orderings; IvfPqSpec pins search ≡ searchDf
    // and the zero-collect/flat-plan properties) and SHARES n26/n27's
    // oracle VERBATIM — three faces, one oracle: a hash mismatch
    // means the in-plan LUT build diverged from the replayable
    // driver-loop semantics.
    Q("n28_ivfpq_served_df",
      (s, d) => {
        import graft.operators.{IvfPq, KMeans}
        val dir = servedIvfPqDir(s, d)
        val (cents, books) = ServingCache.ivfPqModel(s, dir)
        val codes = ServingCache.parquetDf(s, s"$dir/codes")
        val vectors = ServingCache.parquetDf(s, s"$dir/vectors")
        val queries = KMeans.quantized(Tables.load(s, d, "embeddings"))
          .filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        IvfPq.searchRerankDf(codes, vectors, queries, cents, books,
          nprobe = 32, kCand = 20, k = K)
      },
      Some(graft.operators.IvfPq.rerankOracleSql(
        NlK, NlIters, PqM, PqK, PqIters, KmDims, QueryIds.length,
        nprobe = 32, kCand = 20, topK = K))),

    // IN-ENGINE RECALL@k — the eval face of the ANN family: the
    // cell-pruned ADC top-k measured against the EXACT integer top-k
    // over the same quantized vectors, per query, in e6 fixed point.
    // This is the knob-tuning loop a production team runs (nprobe ↔
    // recall ↔ cost) expressed as one query — the exact side is the
    // documented brute baseline (n1/n2's shape, queries broadcast
    // against the corpus), the approximate side is n20's chain, and
    // the oracle replays BOTH rankings and the intersection under one
    // hash, so a recall regression anywhere in the index (fit, encode,
    // probe selection, ADC) moves a NUMBER the release gate can read.
    Q("n30_ivfpq_recall",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.operators.{IvfPq, KMeans}
        val emb = Tables.load(s, d, "embeddings")
        val q = KMeans.quantized(emb)
        val queries = q.filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        val approx = IvfPq.search(
            IvfPq.encode(emb, fittedCents(s, d), ivfpqBooks(s, d)),
            queries, fittedCents(s, d), ivfpqBooks(s, d),
            nprobe = 3, k = K)
          .select("query_id", "neighbor_id")
        val exact = q
          .select(col("vec_id").as("neighbor_id"), col("qv").as("nqv"))
          .crossJoin(broadcast(
            queries.select(col("query_id"), col("qv").as("qqv"))))
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            aggregate(zip_with(col("qqv"), col("nqv"),
                (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, x) => acc + x).as("dist2"))
          .withColumn("rnk", row_number().over(Window
            .partitionBy("query_id").orderBy(col("dist2"), col("neighbor_id"))))
          .filter(col("rnk") <= K)
          .select("query_id", "neighbor_id")
        exact
          .join(approx.withColumn("hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
          .select(col("query_id"), col("hits"),
            expr(s"(hits * 1000000) div $K").as("recall_e6"))
          .orderBy("query_id")
      },
      Some(graft.operators.IvfPq.recallOracleSql(
        KmK, KmIters, PqM, PqK, PqIters, KmDims, QueryIds.length,
        nprobe = 3, topK = K))),

    Q("n22_filtered_ivfpq",
      (s, d) => {
        import graft.operators.{IvfPq, KMeans}
        val emb = Tables.load(s, d, "embeddings")
        val en = Tables.load(s, d, "documents")
          .filter(col("lang") === "en").select("doc_id")
        val codes = IvfPq.encode(emb, fittedCents(s, d), ivfpqBooks(s, d))
          .join(en, col("vec_id") === col("doc_id"), "left_semi")
        val queries = KMeans.quantized(emb)
          .filter(col("vec_id").isin(QueryIds: _*))
          .select(col("vec_id").as("query_id"), col("qv"))
        IvfPq.search(codes, queries, fittedCents(s, d), ivfpqBooks(s, d),
          nprobe = 3, k = K)
      },
      Some(graft.operators.IvfPq.searchOracleSql(
        KmK, KmIters, PqM, PqK, PqIters, KmDims, QueryIds.length,
        nprobe = 3, topK = K,
        candFilterSql =
          "JOIN documents doc ON doc.doc_id = cd.vec_id AND doc.lang = 'en'")))
  )

  /** One PQ fit per (session, dataset) — m·k·(dims/m) = dims·k longs,
    * driver-held in the `SessionStore`.
    */
  private def fittedBooks(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Seq[Array[Long]]] =
    graft.SessionStore.fill(s, "pq_books", d) {
      graft.operators.PqIndex.fit(
        Tables.load(s, d, "embeddings"), PqM, PqK, PqIters, KmDims)
    }

  /** One residual-codebook fit per (session, dataset), over the coarse
    * cells of `fittedCents`, driver-held in the `SessionStore`.
    */
  private def ivfpqBooks(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[Seq[Array[Long]]] =
    graft.SessionStore.fill(s, "ivfpq_books", d) {
      graft.operators.IvfPq.fit(
        Tables.load(s, d, "embeddings"), fittedCents(s, d),
        PqM, PqK, PqIters, KmDims)
    }

  /** One large-nlist coarse fit + residual-book fit per (session,
    * dataset), driver-held in the `SessionStore` at the n26 shape
    * (nlist·dims longs + m·k·sub longs).
    */
  private def largeNlist(s: org.apache.spark.sql.SparkSession,
      d: String): (Seq[Array[Long]], Seq[Seq[Array[Long]]]) =
    graft.SessionStore.fill(s, "large_nlist_fits", d) {
      val emb = Tables.load(s, d, "embeddings")
      val cents = graft.operators.KMeans.fit(emb, NlK, NlIters, KmDims)
      (cents,
        graft.operators.IvfPq.fit(emb, cents, PqM, PqK, PqIters, KmDims))
    }

  /** One persisted large-nlist IVF-PQ artifact per (session, dataset) —
    * a `SessionStore.dir` fill: the first toucher pays the fit (shared
    * with n26 via `largeNlist`) plus the encode+write; every later
    * serve call only loads.
    */
  private def servedIvfPqDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.SessionStore.dir(s, "ivfpq_n27_store", d) { dir =>
      val (cents, books) = largeNlist(s, d)
      // the same pre-encode spread as n26: packed assignment prices
      // nlist·dims lambda steps per row, and the synthetic table is
      // one file = one partition
      graft.operators.IvfPq.save(
        Tables.load(s, d, "embeddings")
          .repartition(s.sparkContext.defaultParallelism),
        dir, cents, books)
      dir
    }

  /** One persisted PQ store per (session, dataset) — a
    * `SessionStore.dir` fill.
    */
  private def servedPqDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.SessionStore.dir(s, "pq_n18_store", d) { dir =>
      graft.operators.PqIndex.save(
        Tables.load(s, d, "embeddings"), dir, PqM, PqK, PqIters, KmDims)
      dir
    }

  /** One k-means fit per (session, dataset) — the centroids are k·dims
    * longs, trivially driver-held in the `SessionStore` (same
    * immutable-dataset assumption as every entry there).
    */
  private def fittedCents(s: org.apache.spark.sql.SparkSession, d: String): Seq[Array[Long]] =
    graft.SessionStore.fill(s, "kmeans_cents", d) {
      graft.operators.KMeans.fit(
        Tables.load(s, d, "embeddings"), KmK, KmIters, KmDims)
    }

  /** One persisted SQ store per (session, dataset) — a
    * `SessionStore.dir` fill (temp dir, deleted on JVM exit).
    */
  private def servedSqDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.SessionStore.dir(s, "sq_n10_store", d) { dir =>
      graft.operators.Quantization.saveSq(
        Tables.load(s, d, "embeddings"), dir)
      dir
    }

  /** DuckDB replay of the ENTIRE SQ chain (codebook ranks → encode →
    * pack → unpack → reconstruct → ADC cosine → top-k), shared verbatim
    * by n9 (ad-hoc) and n10 (served) — bit-identity of the two faces is
    * the claim.
    */
  /** The SQ build→encode→pack→unpack replay CTEs alone (through `unp` +
    * the anchor table) — shared by the n9/n10 ADC oracle and the n25
    * SQ-tier re-rank oracle, so the two faces cannot drift on what the
    * SQ store contains.
    */
  private lazy val sqChainCtes: String =
      s"""comps AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
               CAST(embedding[i] AS DOUBLE) AS v
               FROM (SELECT vec_id, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
             rk AS (SELECT dim, v,
               row_number() OVER (PARTITION BY dim ORDER BY v) AS rn FROM comps),
             cnt AS (SELECT dim, count(*) AS n FROM comps GROUP BY dim),
             lv AS (SELECT CAST(unnest(range(0, 16)) AS INTEGER) AS l),
             anch AS (SELECT cnt.dim, lv.l, rk.v AS anchor
               FROM cnt CROSS JOIN lv
               JOIN rk ON rk.dim = cnt.dim
                 AND rk.rn - 1 = ((2 * lv.l + 1) * cnt.n) // 32),
             enc AS (SELECT vec_id, dim, l AS code FROM (
               SELECT c.vec_id, c.dim, a.l,
                 row_number() OVER (PARTITION BY c.vec_id, c.dim
                   ORDER BY abs(c.v - a.anchor), a.l) AS r
               FROM comps c JOIN anch a ON a.dim = c.dim) WHERE r = 1),
             pk AS (SELECT vec_id, dim // 2 AS bi,
               sum(CASE WHEN dim % 2 = 0 THEN code * 16 ELSE code END) - 128 AS b
               FROM enc GROUP BY vec_id, dim // 2),
             unp AS (SELECT vec_id, bi * 2 AS dim, (b + 128) // 16 AS code FROM pk
               UNION ALL
               SELECT vec_id, bi * 2 + 1, (b + 128) % 16 FROM pk)"""

  // lazy: referenced from `queries` above its declaration (declaration
  // order is load-bearing for plain vals in a Scala object)
  private lazy val sqAdcOracle: String =
      (s"""WITH $sqChainCtes,
             rec AS (SELECT u.vec_id,
               list(CAST(a.anchor AS FLOAT) ORDER BY u.dim) AS ne
               FROM unp u JOIN anch a ON a.dim = u.dim AND a.l = u.code
               GROUP BY u.vec_id),
             q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 5),
             sims AS (SELECT query_id, rec.vec_id AS neighbor_id,
               (${dot("qe", "ne")}) / (sqrt(${dot("qe", "qe")}) * sqrt(${dot("ne", "ne")})) AS sim
               FROM q, rec WHERE rec.vec_id <> query_id),
             ranked AS (SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
               FROM sims)
             SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, sim
             FROM ranked WHERE rnk <= $K ORDER BY query_id, rnk""")

}
