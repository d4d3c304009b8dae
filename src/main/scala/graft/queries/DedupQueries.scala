package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over the `documents` table — the LLM-training-
  * pipeline surface (builder brief; testdata plants ~25 near-duplicate
  * pairs with word-3-gram Jaccard ≥ 0.9, next pair down at 0.07, so a
  * 0.5 threshold is unambiguous).
  *
  * Scale design (100 TB): nothing here is all-pairs O(n²).
  *   - exact dedup: hash-groupBy on a content fingerprint — one shuffle
  *     of (hash, id), partial aggregation map-side;
  *   - near-dup: an inverted-index self-join on shingles — candidate
  *     pairs are generated only where documents actually share a
  *     shingle, then verified with the exact Jaccard. Work is
  *     O(Σ df(shingle)²) not O(n²); in production a document-frequency
  *     cap on hot shingles bounds the skew (unnecessary on this corpus:
  *     31-word vocabulary, shingle df is tiny);
  *   - MinHash-LSH (DedupOps.minHashLsh): signatures + banded bucketing
  *     → candidates only within equal band-hash buckets; verified
  *     exactly. The standard sub-quadratic path when no shingle index
  *     fits; checked against the brute-force result in DedupSpec.
  */
object DedupQueries extends QueryPack {

  /** d8's decontamination REPORT persisted once per (session, dataset)
    * — the published-intermediate discipline (lm_score_store /
    * corpus_clean_store) at the leakage-report tier: production runs
    * the gram join once, publishes the report, and the act step reads
    * it. d8 and d8b keep computing their chains — the report (and its
    * bloom-reduced twin) IS what they measure; d8c (report → act)
    * mounts the store. The fill is the same `crossSplitOverlap` call
    * d8 hashes, so the drop set cannot drift from the report; d8c's
    * oracle still replays the whole gram chain from the raw table.
    */
  private def decontReportStoreDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.SessionStore.dir(s, "decont_report_store", d) { dir =>
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("bigint") % 100
      val docs = Tables.load(s, d, "documents")
      graft.operators.DedupOps.crossSplitOverlap(
          docs.filter(bucket < 80), docs.filter(bucket >= 90),
          "doc_id", "text", n = 8)
        .write.mode("overwrite").parquet(dir + "/report")
      dir + "/report"
    }

  /** DuckDB CTE computing the 64-bit SimHash fingerprint (`fp(doc_id,
    * simhash)`) exactly as `DedupOps.simHash`: bits 2d/2d+1 = bits 3/2
    * of md5 hex digit d, majority-voted over distinct tokens. Bit 63 is
    * the BIGINT sign bit — its value is Long.MinValue, summed in HUGEINT
    * and cast back, which reproduces the two's-complement pattern.
    */
  private val simHash64OracleCte: String =
    """WITH tokens AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
       bits AS (SELECT doc_id, tok, unnest(range(0, 64)) AS b FROM tokens),
       votes AS (SELECT doc_id, b,
         CASE WHEN (b % 2 = 0 AND substr(md5(tok), CAST(b // 2 AS INTEGER) + 1, 1) IN ('8','9','a','b','c','d','e','f'))
                OR (b % 2 = 1 AND substr(md5(tok), CAST(b // 2 AS INTEGER) + 1, 1) IN ('4','5','6','7','c','d','e','f'))
           THEN 1 ELSE -1 END AS vote FROM bits),
       per_bit AS (SELECT doc_id, b, sum(vote) v FROM votes GROUP BY 1, 2),
       fp AS (SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (CASE WHEN b = 63 THEN -9223372036854775808 ELSE CAST(power(2, b) AS BIGINT) END) ELSE 0 END) AS BIGINT) AS simhash
         FROM per_bit GROUP BY doc_id)
       """

  /** DuckDB replay of `DedupOps.minHashLsh`: identical md5-derived
    * double-hash signatures (`'0x' || substr(md5, …)` parses the same
    * hex windows Spark's `conv` does), band agreement as plain value
    * equality over each band's r signature components, exact jaccard
    * verified on the full shingle sets. All-pairs on the oracle side —
    * the oracle need not be efficient, only correct.
    */
  private def minHashOracle(threshold: Double, k: Int = 32, bands: Int = 8): String = {
    val r = k / bands
    val sigCols = (0 until k)
      .map(i => s"min((h1 + $i*h2) % 4294967296) s$i").mkString(", ")
    val bandConds = (0 until bands).map { b =>
      "(" + (b * r until (b + 1) * r).map(i => s"a.s$i = b.s$i").mkString(" AND ") + ")"
    }.mkString(" OR ")
    s"""WITH toksv AS (SELECT doc_id, string_split(text, ' ') ts FROM documents
         WHERE len(string_split(text, ' ')) >= 3),
       idx AS (SELECT doc_id, ts, unnest(range(1, len(ts)-1)) AS i FROM toksv),
       sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM idx),
       hashed AS (SELECT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) h1,
         CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) h2 FROM sh),
       sig AS (SELECT doc_id, $sigCols FROM hashed GROUP BY doc_id),
       cand AS (SELECT a.doc_id d1, b.doc_id d2 FROM sig a JOIN sig b
         ON a.doc_id < b.doc_id AND ($bandConds)),
       sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       shared AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT c.d1, c.d2, CAST(s.c AS DOUBLE)/(z1.n + z2.n - s.c) AS jaccard
       FROM cand c JOIN shared s ON c.d1 = s.d1 AND c.d2 = s.d2
       JOIN sizes z1 ON c.d1 = z1.doc_id JOIN sizes z2 ON c.d2 = z2.doc_id
       WHERE CAST(s.c AS DOUBLE)/(z1.n + z2.n - s.c) >= $threshold
       ORDER BY c.d1, c.d2"""
  }

  /** The d2 pair derivation, shared with d9 (clusters) so the two
    * entries can never drift: word-3-gram inverted-index join (df-capped
    * — DedupOps.cappedShingles; the cap sits far above this corpus's max
    * df), count-based exact Jaccard, threshold 0.5. The capped index
    * feeds three plan branches (both join sides + the sizes agg) —
    * materialize it once or the tokenize+explode+df-join re-executes per
    * branch (swap localCheckpoint for persist(MEMORY_AND_DISK) on a real
    * cluster).
    */
  /** Session cache of the computed pair relation, keyed by (appId,
    * sfDir) — the n5 "built once on first touch" contract (VERDICT r11
    * #3): FOUR entries consume this relation (d2 orders it, d9/d9b fold
    * it into components, x4 selects canonical keepers over those
    * components), and before this cache each one re-ran the corpus
    * shingle+join from scratch. The checkpointed pairs are tiny (the
    * near-dup pair count, not the corpus), so the cache holds O(pairs)
    * blocks, never O(corpus). The `SessionStore` staleness caveat
    * applies: the store assumes files under `d` are not regenerated
    * mid-application.
    */
  private[queries] def nearDupPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.SessionStore.fill(s, "neardup_pairs", d) {
      val sh = graft.operators.DedupOps
        .shingles(Tables.load(s, d, "documents"), "doc_id", "text")
      val capped = graft.operators.DedupOps.cappedShingles(sh, maxDf = 100000L)
        .localCheckpoint()
      graft.operators.DedupOps.jaccardPairs(capped, threshold = 0.5)
        .localCheckpoint()
    }

  /** The DuckDB twin of `nearDupPairs`, ending in `jp(d1, d2, jaccard)`
    * — the single source both d2's and d9's oracle SQL build on.
    */
  private[queries] val pairsCte: String =
    """toksv AS (SELECT doc_id, string_split(text, ' ') ts FROM documents
               WHERE len(string_split(text, ' ')) >= 3),
             idx AS (SELECT doc_id, ts, unnest(range(1, len(ts)-1)) AS i FROM toksv),
             sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM idx),
             sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
             pairs AS (SELECT a.doc_id d1, b.doc_id d2, count(*) shared
               FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
             jp AS (SELECT d1, d2, CAST(shared AS DOUBLE)/(s1.n + s2.n - shared) AS jaccard
               FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
               WHERE CAST(shared AS DOUBLE)/(s1.n + s2.n - shared) >= 0.5)"""

  /** The d9 clusters oracle — a recursive transitive closure over the
    * shared `pairsCte` pair relation. One string, two entries (d9 and
    * its star-contraction twin d9b), so the two cluster faces are held
    * to literally the same oracle.
    */
  private val clustersOracleSql: String =
    s"""WITH RECURSIVE $pairsCte,
             e AS (SELECT d1 u, d2 v FROM jp UNION SELECT d2, d1 FROM jp),
             reach AS (SELECT u, v FROM e
               UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
             lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
               FROM reach GROUP BY u)
             SELECT l.doc_id, l.cluster_id, s.csize AS cluster_size
             FROM lab l JOIN (SELECT cluster_id, count(*) csize FROM lab
               GROUP BY 1) s USING (cluster_id)
             ORDER BY doc_id"""

  /** The d8 leakage-report oracle, shared verbatim with the bloom
    * variant d8b (losslessness is the claim under test).
    */
  private val decontOracleSql: String =
    """WITH d AS (SELECT doc_id, text,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
               FROM documents),
             toks AS (SELECT doc_id, b, string_split(text, ' ') ts FROM d
               WHERE len(string_split(text, ' ')) >= 8),
             idx AS (SELECT doc_id, b, ts, unnest(range(1, len(ts) - 6)) AS i FROM toks),
             sh AS (SELECT DISTINCT doc_id, b,
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
               ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
               FROM idx),
             sizes AS (SELECT doc_id, count(*) AS n FROM sh WHERE b >= 90 GROUP BY doc_id),
             pairs AS (SELECT a.doc_id AS train_doc, t.doc_id AS test_doc,
               count(*) AS shared_grams
               FROM sh a JOIN sh t ON a.shingle = t.shingle AND a.b < 80 AND t.b >= 90
               GROUP BY 1, 2)
             SELECT p.train_doc, p.test_doc, p.shared_grams,
               s.n AS n_test_grams,
               CAST(p.shared_grams AS DOUBLE) / s.n AS overlap_frac
             FROM pairs p JOIN sizes s ON p.test_doc = s.doc_id
             ORDER BY train_doc, test_doc"""

  val queries: Seq[Q] = Seq(

    // Exact dedup by content hash: one keeper (min doc_id) per distinct
    // md5(text); n_copies counts collapsed duplicates. (This corpus has
    // no exact dups — every group has n_copies = 1 — which the oracle
    // equally asserts.)
    Q("d1_exact_dedup",
      (s, d) => Tables.load(s, d, "documents")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_doc_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("keeper_doc_id"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
             count(*) AS n_copies FROM documents
             GROUP BY 1 ORDER BY keeper_doc_id""")),

    // Near-duplicate pairs by word-3-gram Jaccard ≥ 0.5, via inverted-
    // index join (shingle → docs), never all-pairs. The index is
    // df-capped (DedupOps.cappedShingles — at web scale one boilerplate
    // shingle makes Σdf² explode); the cap sits far above this corpus's
    // max df so the emitted jaccard is the exact full-set value, and
    // the binding-cap behavior is pinned by DedupSpec's planted-
    // boilerplate test. Verification COUNTS co-occurrences and joins
    // tiny per-doc sizes — all codegen'd longs. (Per-pair
    // array_intersect over collected shingle sets computes the same
    // thing but carries ~doc-length arrays through the candidate join:
    // measured 16 s vs 2 s at sf0.1, where the 31-word test vocabulary
    // makes nearly every doc pair a candidate.) Exact-arithmetic
    // jaccard: integer counts, one IEEE division — bit-identical in
    // any engine.
    Q("d2_near_dup_pairs",
      (s, d) => nearDupPairs(s, d).orderBy("d1", "d2"),
      Some(s"""WITH $pairsCte
             SELECT d1, d2, jaccard FROM jp ORDER BY d1, d2""")),

    // The same pairs through the LOSSLESS prefix-filtered join
    // (DedupOps.jaccardPairsPrefix — AllPairs prefix principle): order
    // each doc's shingles rarest-first, index only the first
    // |d| − ceil(t·|d|) + 1, verify exactly. Provably finds every
    // J ≥ t pair (proof in the operator's scaladoc) with NO df-cap
    // knob — the web-scale default when boilerplate similarity must
    // not be forfeited. Shares d2's oracle verbatim: identical output
    // is the losslessness claim, hash-checked cross-engine.
    Q("d2b_near_dup_pairs_prefix",
      (s, d) => graft.operators.DedupOps.jaccardPairsPrefix(
          graft.operators.DedupOps.shingles(
            Tables.load(s, d, "documents"), "doc_id", "text"),
          threshold = 0.5)
        .orderBy("d1", "d2"),
      Some(s"""WITH $pairsCte
             SELECT d1, d2, jaccard FROM jp ORDER BY d1, d2""")),

    // Dup CLUSTERS: d2's pairs folded into transitive components
    // (DedupOps.connectedComponents) — one cluster id (= min member =
    // the keeper) per connected group, with the cluster size. The
    // oracle computes the same components via a recursive transitive
    // closure; ONE shared pair derivation (nearDupPairs / pairsCte)
    // feeds both d2 and d9 on each side, so the two entries cannot
    // drift apart.
    Q("d9_dup_clusters",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
        graft.operators.DedupOps.connectedComponents(nearDupPairs(s, d))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .orderBy("doc_id")
      },
      Some(clustersOracleSql)),

    // The same clusters through the STAR-CONTRACTION algorithm
    // (DedupOps.connectedComponentsStar, Kiveris et al. SoCC'14) —
    // normally the automatic fallback when min-label propagation hits
    // its iteration bound on a deep graph; exposed directly here so the
    // O(log² n)-round path is oracle-hash-checked on real pair input,
    // not just spec'd on synthetic chains. Shares d9's oracle verbatim.
    Q("d9b_dup_clusters_star",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
        graft.operators.DedupOps.connectedComponentsStar(nearDupPairs(s, d))
          .withColumn("cluster_size", count(lit(1)).over(w))
          .orderBy("doc_id")
      },
      Some(clustersOracleSql)),

    // SimHash content fingerprint: 64 bits, bits 2d/2d+1 = bits 3/2 of
    // hex digit d of md5(token), majority-voted across the document's
    // distinct tokens. One dictionary join + ONE groupBy(doc_id) with 64
    // parallel vote sums — no per-bit explode, no second shuffle. The
    // oracle states the same fingerprint declaratively (it need not be
    // efficient); bit 63 is the BIGINT sign bit, added as Long.MinValue.
    // Near-dup search over the fingerprints is banded
    // (DedupOps.simHashNearPairs), not all-pairs.
    Q("d3_simhash",
      (s, d) => graft.operators.DedupOps
        .simHash(Tables.load(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(simHash64OracleCte +
        """SELECT doc_id, simhash FROM fp ORDER BY doc_id""")),

    // MinHash-LSH near-dup pairs (banded bucketing, exactly verified),
    // hash-matched: the md5-derived Kirsch-Mitzenmacher permutations
    // ((h1 + i·h2) mod 2^32 from two md5 hex-digit windows) are
    // computable in DuckDB too, so the oracle replays the identical
    // signatures, band agreement (value-tuple equality, no opaque
    // hash), and exact-jaccard verification. DedupSpec additionally
    // proves precision = 1.0 and recall ≥ 0.9 against brute force.
    Q("d4_minhash_lsh_pairs",
      (s, d) => graft.operators.DedupOps
        .minHashLsh(Tables.load(s, d, "documents"), "doc_id", "text", 0.5)
        .orderBy("d1", "d2"),
      Some(minHashOracle(0.5))),

    // Banded SimHash near-pair search, hash-matched against an oracle:
    // the Spark side generates candidates only where a 16-bit fingerprint
    // BAND agrees (pigeonhole: hamming ≤ 3 over 4 bands ⇒ ≥ 1 equal
    // band; 2^16 buckets per band, vs 2^8 for r3's byte banding) and
    // verifies exact Hamming distance; the oracle states the semantics
    // directly as the all-pairs inequality join (the oracle need not be
    // efficient — only correct). xor/bit_count operate on the two's-
    // complement bit pattern in both engines, so negative fingerprints
    // (bit 63 set) compare identically.
    Q("d5_simhash_pairs",
      (s, d) => graft.operators.DedupOps
        .simHashNearPairs(graft.operators.DedupOps
          .simHash(Tables.load(s, d, "documents"), "doc_id", "text"),
          knownN = Tables.rowCount(s, d, "documents"))
        .select(col("d1"), col("d2"), col("hamming").cast("int").as("hamming"))
        .orderBy("d1", "d2"),
      Some(simHash64OracleCte +
        """SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
             FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
             ORDER BY d1, d2""")),

    // The 128-bit WIDE fingerprint path — what `requiredFpBits` selects
    // once a corpus outgrows 64 bits (~10^8 docs at hamming ≤ 3): sha2-
    // 256-derived majority-vote fingerprint as two 64-bit words, four
    // 32-bit bands (2^32 buckets/band — sub-quadratic past 10^12 docs),
    // exactly-once pair emission, exact per-word Hamming verify. The
    // oracle restates the fingerprint declaratively from the same sha2
    // hex digits and the pair search as the all-pairs inequality join.
    Q("d7_simhash_pairs_wide",
      (s, d) => graft.operators.DedupOps
        .simHashNearPairsWide(graft.operators.DedupOps
          .simHashWide(Tables.load(s, d, "documents"), "doc_id", "text"),
          knownN = Tables.rowCount(s, d, "documents"))
        .select(col("d1"), col("d2"), col("hamming").cast("int").as("hamming"))
        .orderBy("d1", "d2"),
      Some("""WITH tokens AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
             bits AS (SELECT doc_id, tok, unnest(range(0, 128)) AS b FROM tokens),
             votes AS (SELECT doc_id, b,
               CASE WHEN (b % 2 = 0 AND substr(sha256(tok), CAST(b // 2 AS INTEGER) + 1, 1) IN ('8','9','a','b','c','d','e','f'))
                      OR (b % 2 = 1 AND substr(sha256(tok), CAST(b // 2 AS INTEGER) + 1, 1) IN ('4','5','6','7','c','d','e','f'))
                 THEN 1 ELSE -1 END AS vote FROM bits),
             per_bit AS (SELECT doc_id, b, sum(vote) v FROM votes GROUP BY 1, 2),
             fp AS (SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 AND b < 64 THEN (CASE WHEN b = 63 THEN -9223372036854775808 ELSE CAST(power(2, b) AS BIGINT) END) ELSE 0 END) AS BIGINT) AS w0,
               CAST(sum(CASE WHEN v > 0 AND b >= 64 THEN (CASE WHEN b = 127 THEN -9223372036854775808 ELSE CAST(power(2, b - 64) AS BIGINT) END) ELSE 0 END) AS BIGINT) AS w1
               FROM per_bit GROUP BY doc_id)
             SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INTEGER) AS hamming
             FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 3
             ORDER BY d1, d2""")),

    // Embedding-cosine near-dup pairs, against the brute-force all-pairs
    // oracle (the oracle need not be efficient). The corpus is unioned
    // with six PLANTED vectors built from the same deterministic integer
    // formula in both engines — three base patterns (ids 9000000+i,
    // e[j] = (i·31 + j·17) mod 13 − 6) and their duplicates (ids
    // 9000100+i: two exact copies and one ×2-scaled copy — a positive
    // scale preserves every hyperplane sign, so both land in their
    // base's LSH bucket BY CONSTRUCTION, making recall structural, not
    // statistical). So the hash-matched result is non-empty (3 pairs at
    // cosine 1.0) and the oracle exercises the full candidate→exact-
    // verify path; precision stays pinned on the real isotropic corpus
    // (planted×corpus max |cosine| ≈ 0.50, cross-planted ≤ 0.44 —
    // measured at every SF, far under the 0.8 threshold).
    Q("d6_embedding_near_dups",
      (s, d) => {
        val ids = s.range(0, 3)
        val base = ids.select((lit(9000000L) + col("id")).as("vec_id"),
          expr("transform(sequence(0, 63), j -> CAST((id*31 + j*17) % 13 - 6 AS FLOAT))")
            .as("embedding"))
        val dups = ids.select((lit(9000100L) + col("id")).as("vec_id"),
          expr("transform(sequence(0, 63), j -> CAST(((id*31 + j*17) % 13 - 6) * IF(id = 2, 2, 1) AS FLOAT))")
            .as("embedding"))
        val emb = Tables.load(s, d, "embeddings").select("vec_id", "embedding")
          .unionByName(base).unionByName(dups)
        graft.operators.DedupOps
          .embeddingNearDups(emb, threshold = 0.8,
            knownN = Tables.rowCount(s, d, "embeddings") + 6L)
          .orderBy("d1", "d2")
      },
      Some("""WITH ids AS (SELECT unnest(range(0, 3)) AS i),
             planted AS (
               SELECT CAST(9000000 + i AS BIGINT) AS vec_id,
                 list_transform(range(0, 64), j -> CAST((i*31 + j*17) % 13 - 6 AS FLOAT)) AS embedding
               FROM ids
               UNION ALL
               SELECT CAST(9000100 + i AS BIGINT),
                 list_transform(range(0, 64), j -> CAST(((i*31 + j*17) % 13 - 6) * (CASE WHEN i = 2 THEN 2 ELSE 1 END) AS FLOAT))
               FROM ids),
             e AS (SELECT vec_id, embedding FROM embeddings
                   UNION ALL SELECT vec_id, embedding FROM planted),
             pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
               list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))) AS cosine
               FROM e a JOIN e b ON a.vec_id < b.vec_id)
             SELECT d1, d2, cosine FROM pairs
             WHERE cosine >= 0.8 ORDER BY d1, d2""")),

    // Train/test decontamination (DedupOps.crossSplitOverlap): word-8-
    // gram leakage across sp1's deterministic 80/10/10 split — every
    // (train doc, test doc) pair sharing a gram, with the shared count
    // and the contaminated fraction of the test doc. The corpus's shared
    // vocabulary plants organic leakage (4 pairs at sf0.01, 40 at
    // sf0.1), so the report is non-vacuous at every gated SF.
    Q("d8_decontamination",
      (s, d) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("bigint") % 100
        val docs = Tables.load(s, d, "documents")
        graft.operators.DedupOps.crossSplitOverlap(
            docs.filter(bucket < 80), docs.filter(bucket >= 90),
            "doc_id", "text", n = 8)
          .orderBy("train_doc", "test_doc")
      },
      Some(decontOracleSql)),

    // The ACTION face of d8's report: drop every train doc whose
    // overlap with ANY test doc reaches the threshold, and report the
    // cleaned train set per source — report → act, the step a real
    // pipeline runs before training. Composes d8's exact relation
    // (same operator call), so the drop set cannot drift from the
    // report.
    Q("d8c_decontaminated_train",
      (s, d) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("bigint") % 100
        val docs = Tables.load(s, d, "documents")
        val train = docs.filter(bucket < 80)
        // r20: act reads the PUBLISHED report (decontReportStoreDir —
        // the same crossSplitOverlap call d8 hashes) instead of
        // re-running the gram join per execution
        val contaminated = ServingCache.parquetDf(s, decontReportStoreDir(s, d))
          .filter(col("overlap_frac") >= 0.5)
          .select(col("train_doc").as("doc_id")).distinct()
        val keptAgg = train.join(contaminated, Seq("doc_id"), "left_anti")
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), min("doc_id").as("first_kept"))
        // LEFT join from the totals so a fully-dropped source still
        // reports (n_kept = 0), with sentinel first_kept — no nulls
        // reach the compare
        train.groupBy("source").agg(count(lit(1)).as("n_train"))
          .join(keptAgg, Seq("source"), "left")
          .select(col("source"), col("n_train"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("n_train") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
            coalesce(col("first_kept"), lit(-1L)).as("first_kept"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, text, source,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
               FROM documents),
             toks AS (SELECT doc_id, b, string_split(text, ' ') ts FROM d
               WHERE len(string_split(text, ' ')) >= 8),
             idx AS (SELECT doc_id, b, ts, unnest(range(1, len(ts) - 6)) AS i FROM toks),
             sh AS (SELECT DISTINCT doc_id, b,
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
               ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
               FROM idx),
             sizes AS (SELECT doc_id, count(*) AS n FROM sh WHERE b >= 90 GROUP BY doc_id),
             pairs AS (SELECT a.doc_id AS train_doc, t.doc_id AS test_doc, count(*) AS shared_grams
               FROM sh a JOIN sh t ON a.shingle = t.shingle AND a.b < 80 AND t.b >= 90
               GROUP BY 1, 2),
             bad AS (SELECT DISTINCT p.train_doc AS doc_id FROM pairs p
               JOIN sizes s ON p.test_doc = s.doc_id
               WHERE CAST(p.shared_grams AS DOUBLE) / s.n >= 0.5),
             train AS (SELECT doc_id, source FROM d WHERE b < 80),
             kept AS (SELECT t.doc_id, t.source FROM train t
               WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.doc_id = t.doc_id)),
             ka AS (SELECT source, count(*) AS n_kept, min(doc_id) AS first_kept
               FROM kept GROUP BY source),
             ta AS (SELECT source, count(*) AS n_train FROM train GROUP BY source)
           SELECT ta.source, ta.n_train,
             COALESCE(ka.n_kept, 0) AS n_kept,
             ta.n_train - COALESCE(ka.n_kept, 0) AS n_dropped,
             COALESCE(ka.first_kept, -1) AS first_kept
           FROM ta LEFT JOIN ka USING (source) ORDER BY ta.source""")),

    // The same leakage report through the broadcast-Bloom semi-join
    // reduction (DedupOps.crossSplitOverlapBloom): train grams are
    // membership-tested against a bloom over the eval set's grams
    // MAP-SIDE, before any shuffle — at 100 TB the train-side shuffles
    // shrink from O(all train grams) to O(leakage + 1% of train grams).
    // Provably row-identical to d8 (no false negatives; false positives
    // die in the exact equi-join; the df-cap verdict is unchanged
    // because all copies of a gram pass or fail together — proof in the
    // operator scaladoc), so it shares d8's oracle verbatim and the
    // hash check IS the losslessness claim.
    Q("d8b_decontamination_bloom",
      (s, d) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("bigint") % 100
        val docs = Tables.load(s, d, "documents")
        graft.operators.DedupOps.crossSplitOverlapBloom(
            docs.filter(bucket < 80), docs.filter(bucket >= 90),
            "doc_id", "text", n = 8)
          .orderBy("train_doc", "test_doc")
      },
      Some(decontOracleSql)),

    // Duplicate-substring CUT LIST (DedupOps.duplicateSpans, Lee et
    // al. 2022): per document, the maximal merged token spans covered
    // by 8-grams that also occur in at least one OTHER document —
    // "which ranges are copied", the unit surgical substring dedup
    // removes, where d1-d9 answer "which documents are copies".
    Q("d10_duplicate_spans",
      (s, d) => graft.operators.DedupOps.duplicateSpans(
          Tables.load(s, d, "documents"), "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_start"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             g AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
               array_to_string(ts[i : i + 7], ' ') AS gram
               FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS i FROM t)),
             dup AS (SELECT gram FROM g GROUP BY gram
               HAVING min(doc_id) <> max(doc_id)),
             p AS (SELECT doc_id, i FROM g JOIN dup USING (gram)),
             m AS (SELECT doc_id, i,
               max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
               FROM p),
             isl AS (SELECT doc_id, i,
               sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY i) AS span_id
               FROM m)
             SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
               min(i) AS span_start, max(i + 7) AS span_end,
               max(i + 7) - min(i) + 1 AS span_tokens
             FROM isl GROUP BY doc_id, span_id
             ORDER BY doc_id, span_start""")),

    // APPLYING the cut list (DedupOps.substringDedupRewrite): rebuild
    // each document with duplicated runs removed, keeping exactly one
    // copy corpus-wide (in the min-doc_id owner of each duplicated
    // gram). The full cleaned text is hash-compared, so the rebuild
    // (anti-join + per-doc in-order reassembly) is pinned cross-engine
    // token for token.
    Q("d10b_dedup_rewrite",
      (s, d) => graft.operators.DedupOps.substringDedupRewrite(
          Tables.load(s, d, "documents"), "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             g AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
               array_to_string(ts[i : i + 7], ' ') AS gram
               FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS i FROM t)),
             own AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram
               HAVING min(doc_id) <> max(doc_id)),
             cut AS (SELECT DISTINCT doc_id, pos FROM
               (SELECT g.doc_id, unnest(range(g.i, g.i + 8)) AS pos
                FROM g JOIN own USING (gram) WHERE g.doc_id <> own.owner)),
             toks AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, ts[i] AS tok
               FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM t)),
             kept AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS text_clean
               FROM toks ANTI JOIN cut USING (doc_id, pos) GROUP BY doc_id)
             SELECT t.doc_id, CAST(len(t.ts) AS INTEGER) AS n_tokens,
               CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
               CAST(len(t.ts) - COALESCE(n_kept, 0) AS BIGINT) AS n_cut,
               COALESCE(text_clean, '') AS text_clean
             FROM t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""")),

    // Paragraph/segment-level dedup rewrite — the C4 / RefinedWeb
    // granularity between d1 (whole doc) and d10 (gram spans): docs cut
    // into consecutive 10-token segments, every non-owner occurrence of
    // a repeated segment dropped (owner = lexicographically first
    // (doc, idx) occurrence; within-doc repeats collapse too), docs
    // reassembled from kept segments. One segment-keyed shuffle + one
    // doc-keyed reassembly — linear at any corpus; exact-duplicate docs
    // lose ALL their segments to the lower-id copy, which the planted
    // dup pairs in this corpus exercise.
    Q("d12_paragraph_dedup",
      (s, d) => graft.operators.DedupOps.paragraphDedupRewrite(
          Tables.load(s, d, "documents"), "doc_id", "text", segTokens = 10)
        .withColumn("clean_md5", md5(col("text_clean")))
        .drop("text_clean")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
               array_to_string(ts[(i * 10 + 1) : (i * 10 + 10)], ' ') AS seg
               FROM (SELECT doc_id, ts, unnest(range(0, (len(ts) + 9) // 10)) AS i FROM t)),
             own AS (SELECT md5(seg) AS h, min(doc_id * 1000000 + seg_idx) AS okey
               FROM seg GROUP BY 1),
             occ AS (SELECT doc_id, seg_idx, seg, okey
               FROM seg JOIN own ON md5(seg) = own.h),
             kept AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean
               FROM occ WHERE doc_id * 1000000 + seg_idx = okey GROUP BY doc_id),
             tot AS (SELECT doc_id, count(*) AS n_segs FROM occ GROUP BY doc_id)
             SELECT tot.doc_id, n_segs,
               CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
               md5(COALESCE(text_clean, '')) AS clean_md5
             FROM tot LEFT JOIN kept USING (doc_id) ORDER BY tot.doc_id""")),

    // Cross-source overlap matrix — the contamination dashboard a
    // data team reads before mixing sources: pairwise Jaccard of each
    // source pair's DISTINCT 3-gram sets (d2's shingle relation
    // collapsed to source granularity). The gram-keyed self-join
    // explodes at most |sources|² rows PER GRAM — bounded by the
    // source count, not the corpus — and the output is |sources|²/2
    // rows total; jaccard_e6 is exact integer fixed point (positive
    // operands, so Spark `div` ≡ DuckDB `//`). At 100 TB the only
    // growing cost is the (source, gram) distinct — a map-side-
    // combining aggregation keyed by gram; a df cap (d2's knob)
    // drops universal boilerplate grams if the source count is huge.
    Q("d14_cross_source_overlap",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        // r21 note: a localCheckpoint on `sg` (it feeds n and both
        // self-join sides — the t30/e16 shape) was prototyped and
        // measured WORSE (1.51 → 1.98 s, 12 → 13 jobs, same-session
        // A/B): the rows here are wide 3-gram STRINGS, so block-manager
        // materialization costs more than the recompute that
        // ReusedExchange already dedups. Kept lazy — guide §1,
        // measurement recorded (contrast e16, whose narrow
        // (user, day, type) frame won 1.98 → 1.21 s from the same move).
        val sg = graft.operators.DedupOps.shingles(docs, "doc_id", "text", 3)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select("source", "shingle").distinct()
        val n = sg.groupBy("source").agg(count(lit(1)).as("n"))
        val inter = sg.as("a").join(sg.as("b"),
            col("a.shingle") === col("b.shingle") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
          .agg(count(lit(1)).as("n_common"))
        inter
          .join(broadcast(n.select(col("source").as("s1"), col("n").as("n1"))),
            Seq("s1"))
          .join(broadcast(n.select(col("source").as("s2"), col("n").as("n2"))),
            Seq("s2"))
          .select(col("s1"), col("s2"), col("n_common"), col("n1"), col("n2"),
            expr("(n_common * 1000000) div (n1 + n2 - n_common)")
              .as("jaccard_e6"))
          .orderBy("s1", "s2")
      },
      Some("""WITH toksv AS (SELECT doc_id, string_split(text, ' ') ts FROM documents
               WHERE len(string_split(text, ' ')) >= 3),
             idx AS (SELECT doc_id, ts, unnest(range(1, len(ts)-1)) AS i FROM toksv),
             sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM idx),
             sg AS (SELECT DISTINCT d.source, sh.shingle
               FROM sh JOIN documents d USING (doc_id)),
             nn AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
             it AS (SELECT a.source AS s1, b.source AS s2, count(*) AS n_common
               FROM sg a JOIN sg b
                 ON a.shingle = b.shingle AND a.source < b.source
               GROUP BY 1, 2)
           SELECT s1, s2, n_common, na.n AS n1, nb.n AS n2,
             (n_common * 1000000) // (na.n + nb.n - n_common) AS jaccard_e6
           FROM it JOIN nn na ON na.source = it.s1
             JOIN nn nb ON nb.source = it.s2
           ORDER BY s1, s2""")),

    // Graph centrality over the SHARED d2 pair relation (nearDupPairs
    // — the x4/d9 anti-drift discipline): 3 rounds of exact-integer
    // PageRank ranking each dup-graph member by how central its
    // duplication neighborhood is — a canonical-selection signal
    // orthogonal to x4's quality argmax (hub docs vs fringe docs).
    // The oracle unrolls the SAME three steps; every number is a
    // BIGINT, so partial-agg order cannot perturb the hash (see
    // operators/PageRank.scala for the arithmetic contract and the
    // Pregel-shaped scale argument).
    Q("d15_dup_pagerank",
      (s, d) => graft.operators.PageRank
        .pagerank(nearDupPairs(s, d).select("d1", "d2"), iters = 3)
        .orderBy("doc_id"),
      Some {
        def step(prev: String, out: String) =
          s"""s$out AS (SELECT ed.dst AS doc_id,
               CAST(sum(r$prev.pr_e9 // r$prev.deg) AS BIGINT) AS s
               FROM ed JOIN r$prev ON ed.src = r$prev.doc_id GROUP BY 1),
             r$out AS (SELECT dg.src AS doc_id, dg.deg,
               150000000 + (85 * COALESCE(s$out.s, 0)) // 100 AS pr_e9
               FROM dg LEFT JOIN s$out ON s$out.doc_id = dg.src)"""
        s"""WITH $pairsCte,
             ed AS (SELECT d1 AS src, d2 AS dst FROM jp
               UNION ALL SELECT d2, d1 FROM jp),
             dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
             r0 AS (SELECT src AS doc_id, deg,
               CAST(1000000000 AS BIGINT) AS pr_e9 FROM dg),
             ${step("0", "1")},
             ${step("1", "2")},
             ${step("2", "3")}
           SELECT doc_id, deg, CAST(pr_e9 AS BIGINT) AS pr_e9
           FROM r3 ORDER BY doc_id"""
      }),

    // Triangle census of the dup graph — how CLIQUE-LIKE is the
    // duplication structure (boilerplate families form near-cliques;
    // chain-shaped clusters don't): triangles via the oriented
    // wedge-close join on the a<b<c edge orientation (each triangle
    // counted exactly once), wedges from the degree table, global
    // clustering coefficient = 3·T/wedges in exact fixed point. The
    // id orientation is the compact-forward shape; a production run
    // orients low-degree → high-degree instead, bounding join fan-out
    // by graph arboricity rather than max id-order degree — same
    // plan, different orientation column. The three 1-row aggregates
    // cross at the end (the scalar-dashboard shape).
    Q("d16_triangle_stats",
      (s, d) => {
        val e = nearDupPairs(s, d).select(col("d1").as("a"), col("d2").as("b"))
        val deg = e.select(col("a").as("v"))
          .union(e.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("deg"))
        val tri = e.as("e1")
          .join(e.as("e2"), col("e1.b") === col("e2.a"))
          .select(col("e1.a").as("ta"), col("e2.b").as("tc"))
          .join(e.as("e3"),
            col("ta") === col("e3.a") && col("tc") === col("e3.b"))
          .agg(count(lit(1)).as("n_triangles"))
        val nodes = deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
        val edges = e.agg(count(lit(1)).as("n_edges"))
        nodes.crossJoin(edges).crossJoin(tri)
          .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
            col("n_triangles"),
            expr("CASE WHEN n_wedges > 0 THEN (3 * n_triangles * 1000000) div n_wedges ELSE 0 END")
              .as("clustering_e6"))
      },
      Some(s"""WITH $pairsCte,
             e AS (SELECT d1 AS a, d2 AS b FROM jp),
             dg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
               FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
               GROUP BY 1),
             tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
               FROM e e1 JOIN e e2 ON e1.b = e2.a
               JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             nd AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM dg),
             ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
           SELECT n_nodes, n_edges, n_wedges, n_triangles,
             CASE WHEN n_wedges > 0
               THEN (3 * n_triangles * 1000000) // n_wedges ELSE 0 END
               AS clustering_e6
           FROM nd CROSS JOIN ne CROSS JOIN tri""")),

    // INCREMENTAL DEDUP — admit a release delta against the PREVIOUS
    // release instead of re-deduping the world: the delta (docs added
    // or changed in x10's v2 snapshot — same shared `snapshotV2`, so
    // the delta definition cannot drift from the diff report) is
    // checked against v1 with the d8 word-8-gram overlap machinery
    // (train side = v1's df-capped inverted index, test side = the
    // delta), and each source reports how much of its delta is a
    // near-dup of something already shipped vs genuinely admissible.
    // This is the 100 TB update pattern: per release the gram join is
    // bounded by |delta|, never |corpus| — the previous release's index
    // amortizes (in production it persists; here it rebuilds at test
    // scale). Deltas derived from v1 text flag as dups BY CONSTRUCTION
    // — exactly what the report must catch; docs under 8 tokens carry
    // no grams and admit (the d8 contract).
    Q("d17_incremental_dedup",
      (s, d) => {
        val v1 = Tables.load(s, d, "documents")
        val v2 = CorpusPipelineQueries.snapshotV2(v1)
        val f1 = v1.select(col("doc_id"), md5(col("text")).as("fp1"))
        // localCheckpoint kept deliberately (r20: the checkpoint-free
        // twin was measured SLOWER — 1.95 → 2.18 s, 21 → 24 jobs; the
        // double recompute of the delta plus the extra AQE stages cost
        // more than the one eager materialization of the tiny delta)
        val delta = v2.join(f1, Seq("doc_id"), "left")
          .filter(col("fp1").isNull || md5(col("text")) =!= col("fp1"))
          .select("doc_id", "source", "text")
          .localCheckpoint()
        val dupIds = graft.operators.DedupOps
          .crossSplitOverlap(v1, delta, "doc_id", "text", n = 8)
          .filter(col("overlap_frac") >= 0.5)
          .select(col("test_doc").as("doc_id")).distinct()
        delta.join(dupIds.withColumn("is_dup", lit(1L)), Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_delta"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_of_prev"),
            (count(lit(1)) - sum(coalesce(col("is_dup"), lit(0L))))
              .as("n_admitted"),
            min(when(col("is_dup").isNull, col("doc_id"))).as("first_admitted"))
          .orderBy("source")
      },
      Some(s"""WITH ${CorpusPipelineQueries.SnapshotV2Sql},
             f1 AS (SELECT doc_id, md5(text) AS fp1 FROM documents),
             delta AS (SELECT v2.doc_id, v2.source, v2.text
               FROM v2 LEFT JOIN f1 ON v2.doc_id = f1.doc_id
               WHERE f1.fp1 IS NULL OR md5(v2.text) <> f1.fp1),
             ttr AS (SELECT doc_id, string_split(text, ' ') ts FROM documents
               WHERE len(string_split(text, ' ')) >= 8),
             gtr AS (SELECT DISTINCT doc_id AS train_doc,
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
               ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
               FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS i FROM ttr)),
             tte AS (SELECT doc_id, string_split(text, ' ') ts FROM delta
               WHERE len(string_split(text, ' ')) >= 8),
             gte AS (SELECT DISTINCT doc_id,
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
               ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
               FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 6)) AS i FROM tte)),
             sizes AS (SELECT doc_id, count(*) AS n FROM gte GROUP BY doc_id),
             pairs AS (SELECT g.train_doc, t.doc_id AS test_doc, count(*) AS shared
               FROM gtr g JOIN gte t USING (shingle) GROUP BY 1, 2),
             dup AS (SELECT DISTINCT p.test_doc AS doc_id FROM pairs p
               JOIN sizes s ON p.test_doc = s.doc_id
               WHERE CAST(p.shared AS DOUBLE) / s.n >= 0.5)
           SELECT delta.source, CAST(count(*) AS BIGINT) AS n_delta,
             CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_of_prev,
             CAST(sum(CASE WHEN dup.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
             min(CASE WHEN dup.doc_id IS NULL THEN delta.doc_id END) AS first_admitted
           FROM delta LEFT JOIN dup ON delta.doc_id = dup.doc_id
           GROUP BY delta.source ORDER BY delta.source""")),

    // k-core of the dup graph (operators/KCore): the degeneracy lens
    // next to d15's centrality and d16's clique-ness — boilerplate
    // families survive the k=2 peel (dense), chain-shaped incidental
    // dup clusters dissolve; a deterministic "this duplication is
    // STRUCTURAL" gate. Fixed 4-round peel (a no-op once converged)
    // replayed round-for-round by the oracle; rides the session-cached
    // shared pair relation like d9/d15/d16.
    Q("d18_kcore",
      (s, d) => graft.operators.KCore
        .peel(nearDupPairs(s, d).select("d1", "d2"), k = 2, rounds = 4),
      Some(s"""WITH $pairsCte,
           ${graft.operators.KCore.peelOracleSql(k = 2, rounds = 4)}""")),

    // Personalized PageRank from an md5-deterministic 3-node seed set —
    // cluster EXPANSION through the dup graph: d8 flags documents with
    // direct gram overlap, PPR ranks everything CONNECTED to the flags
    // by graph proximity (rank 0 ⟺ unreachable ⟺ unrelated). Same
    // per-round integer Pregel plan as d15; seeds inline into the
    // teleport CASE (no join), and the oracle unrolls the identical
    // trajectory from the seeded start.
    Q("d19_personalized_pagerank",
      (s, d) => {
        val pairs = nearDupPairs(s, d).select("d1", "d2")
        val seeds = pairs.select(col("d1").as("v"))
          .union(pairs.select(col("d2").as("v")))
          .distinct()
          .orderBy(md5(col("v").cast("string")), col("v"))
          .limit(3)
          .collect().map(_.getLong(0)).toSeq // bounded: 3 ids
        graft.operators.PageRank.personalized(pairs, seeds, iters = 3)
          .orderBy("doc_id")
      },
      Some {
        def step(prev: String, out: String) =
          s"""s$out AS (SELECT ed.dst AS doc_id,
               CAST(sum(r$prev.pr_e9 // r$prev.deg) AS BIGINT) AS s
               FROM ed JOIN r$prev ON ed.src = r$prev.doc_id GROUP BY 1),
             r$out AS (SELECT dg.src AS doc_id, dg.deg,
               (CASE WHEN sd.v IS NOT NULL THEN 150000000 ELSE 0 END)
                 + (85 * COALESCE(s$out.s, 0)) // 100 AS pr_e9
               FROM dg LEFT JOIN sd ON sd.v = dg.src
               LEFT JOIN s$out ON s$out.doc_id = dg.src)"""
        s"""WITH $pairsCte,
             ed AS (SELECT d1 AS src, d2 AS dst FROM jp
               UNION ALL SELECT d2, d1 FROM jp),
             dg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
             sd AS (SELECT src AS v FROM dg
               ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 3),
             r0 AS (SELECT dg.src AS doc_id, dg.deg,
               CASE WHEN sd.v IS NOT NULL THEN CAST(1000000000 AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END AS pr_e9
               FROM dg LEFT JOIN sd ON sd.v = dg.src),
             ${step("0", "1")},
             ${step("1", "2")},
             ${step("2", "3")}
           SELECT r3.doc_id, r3.deg, CAST(r3.pr_e9 AS BIGINT) AS pr_e9,
             (sd.v IS NOT NULL) AS is_seed
           FROM r3 LEFT JOIN sd ON sd.v = r3.doc_id ORDER BY r3.doc_id"""
      })
  )
}
