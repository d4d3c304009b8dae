package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.CorpusPipeline

/** The composed corpus-preparation chain (quality filter → exact dedup
  * → deterministic split) as oracle entries — the end-to-end shape a
  * training-data team actually runs, proving the standalone stages
  * (t12 / d1 / sp1) compose without semantic drift: the DuckDB oracle
  * replays the ENTIRE chain, so a regression in any stage's arithmetic
  * or in the composition order surfaces as a hash mismatch here even
  * if each standalone entry still passes.
  */
object CorpusPipelineQueries extends QueryPack {

  /** x7's trusted slice (the DSIR "target" distribution) and how many
    * raw docs it selects.
    */
  private val DsirTargetSources = Seq("src0", "src1")
  private val DsirSelK = 50

  /** ONE session-shared materialization of `CorpusPipeline.clean`
    * (VERDICT r18 #7): x9, x10, and x12 each compose the whole release
    * chain on top of the cleaned corpus, and each used to re-derive
    * the gate → exact-dedup → split stages from scratch per run
    * (first-rep 20.5 s in the r18 driver record, paid three times).
    * The fill follows the `servedTokenVecDir` discipline — built once
    * per (session, dataset), billed to the CacheFills ledger, read as
    * a bare parquet scan by every consumer. At 100 TB this IS the
    * production shape: the cleaned corpus is a published intermediate
    * a release pipeline writes once and every downstream stage mounts,
    * not a view recomputed per consumer. The per-entry ORACLES still
    * replay the clean chain from scratch (CleanSql), so a drift in the
    * persisted round-trip flips those hashes.
    */
  private def servedCleanDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.SessionStore.dir(s, "corpus_clean_store", d) { dir =>
      CorpusPipeline.clean(Tables.load(s, d, "documents"))
        .write.mode("overwrite").parquet(s"$dir/cleaned")
      s"$dir/cleaned"
    }

  /** The derived second snapshot shared by x10 (diff), x11 (drift), and
    * d17 (incremental dedup): md5-selected tenths — one dropped, one
    * EDITED (" rev2" appended: still a near-dup of its predecessor, the
    * case d17 must flag), one genuinely NEW doc per cloned row
    * (word-REVERSED text under a fresh id: same length profile for x11,
    * but sharing no word-8-gram with v1, the case d17 must admit). One
    * definition on each engine so the three entries cannot diverge on
    * what "v2" means (the t18 dirty-twin discipline; the corpus has no
    * real second version).
    */
  private[queries] def snapshotV2(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sel = expr(
      "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), 16, 10) AS BIGINT) % 10")
    val m = docs.select(col("doc_id"), col("source"), col("text"), sel.as("m"))
    m.filter(col("m") =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("m") === 1, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(m.filter(col("m") === 2)
        // clone ids NEGATED (-id - 1): real doc_ids are non-negative,
        // so the derived id can never collide with a corpus id at ANY
        // corpus size (a fixed +offset collides past `offset` docs and
        // both engines would stay consistent, so the hash match could
        // not catch the corruption)
        .select((-col("doc_id") - 1L).as("doc_id"), col("source"),
          expr("array_join(reverse(split(text, ' ')), ' ')").as("text")))
  }

  private[queries] val SnapshotV2Sql =
    """m AS (SELECT doc_id, source, text,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10 AS m
               FROM documents),
             v2 AS (SELECT doc_id, source,
               CASE WHEN m = 1 THEN text || ' rev2' ELSE text END AS text
               FROM m WHERE m <> 0
               UNION ALL
               SELECT -doc_id - 1, source,
                 array_to_string(list_reverse(string_split(text, ' ')), ' ')
               FROM m WHERE m = 2)"""

  /** The t12 logit chain as SQL, shared by the x1/x2/x3 entries and
    * (via the `sm` CTE it carries) the x8 data card.
    */
  private[queries] val CleanSql =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
       wv AS (SELECT doc_id,
         (CAST(('0x' || substr(md5('w:' || CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 1024 AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000 AS w
         FROM tk),
       sm AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS logit FROM wv GROUP BY doc_id),
       surv AS (SELECT d.doc_id, d.source, d.text, COALESCE(sm.logit, 0) AS logit
         FROM documents d LEFT JOIN sm USING (doc_id)
         WHERE COALESCE(sm.logit, 0) >= 0),
       keep AS (SELECT min(doc_id) AS doc_id FROM surv GROUP BY md5(text)),
       cleaned AS (SELECT s.doc_id, s.source, s.logit,
         CAST(len(list_filter(string_split(s.text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
         CASE WHEN CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
         FROM surv s JOIN keep USING (doc_id))"""

  val queries: Seq[Q] = Seq(

    // Per-(split, source) shape of the cleaned corpus — the report a
    // data team reads before training: how many docs and tokens each
    // mixture cell holds after filtering and dedup.
    Q("x1_corpus_pipeline",
      (s, d) => CorpusPipeline.clean(Tables.load(s, d, "documents"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          sum("logit").as("sum_logit"),
          min("doc_id").as("first_doc"))
        .orderBy("split", "source"),
      Some(s"""WITH $CleanSql
           SELECT split, source, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             CAST(sum(logit) AS BIGINT) AS sum_logit,
             min(doc_id) AS first_doc
           FROM cleaned GROUP BY split, source ORDER BY split, source""")),

    // Row-level detail of the cleaned test split (the smallest cell):
    // pins per-doc ids, logits, token counts, and assignments exactly.
    Q("x2_corpus_pipeline_detail",
      (s, d) => CorpusPipeline.clean(Tables.load(s, d, "documents"))
        .filter(col("split") === "test")
        .select("doc_id", "source", "logit", "n_tokens", "split")
        .orderBy("doc_id"),
      Some(s"""WITH $CleanSql
           SELECT doc_id, source, logit, n_tokens, split
           FROM cleaned WHERE split = 'test' ORDER BY doc_id""")),

    // Per-source ADAPTIVE quality gate: a fixed global threshold
    // over-prunes weak sources and under-prunes strong ones, so the
    // production filter is quantile-based — keep each source's top
    // decile by logit. The cut is the EXACT p90 rank value (t9's
    // integer rank arithmetic — approx_percentile's sketch is engine-
    // private and could never oracle-hash); keep = logit ≥ that
    // source's p90 (ties keep everything at the cut, deterministic).
    // Scale: one rank window per source (t9's documented trade — a
    // tolerant 100 TB run swaps in approx_percentile, same plan minus
    // the window) + a broadcast threshold join back.
    Q("x3_quality_quantile_gate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.load(s, d, "documents")
        val scored = docs.select("doc_id", "source")
          .join(graft.operators.QualityModel
            .scoreDerived(docs, "doc_id", "text", dims = 1024), Seq("doc_id"))
        val w = Window.partitionBy("source")
          .orderBy(col("logit"), col("doc_id"))
        val ranked = scored
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        val thr = ranked
          .filter(col("rk") === expr("(9 * n + 9) div 10"))
          .select(col("source"), col("logit").as("thr_logit"))
        scored.join(broadcast(thr), Seq("source"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            max("thr_logit").as("p90_logit"),
            sum(when(col("logit") >= col("thr_logit"), 1L).otherwise(0L))
              .as("n_kept"),
            min(when(col("logit") >= col("thr_logit"), col("doc_id")))
              .as("first_kept"))
          .orderBy("source")
      },
      Some(s"""WITH $CleanSql,
             sc AS (SELECT d.doc_id, d.source, COALESCE(sm.logit, 0) AS logit
               FROM documents d LEFT JOIN sm USING (doc_id)),
             r AS (SELECT source, doc_id, logit,
               row_number() OVER (PARTITION BY source ORDER BY logit, doc_id) AS rk,
               count(*) OVER (PARTITION BY source) AS n
               FROM sc),
             thr AS (SELECT source, logit AS thr_logit FROM r
               WHERE rk = (9 * n + 9) // 10)
           SELECT sc.source, count(*) AS n_total,
             max(thr.thr_logit) AS p90_logit,
             CAST(sum(CASE WHEN sc.logit >= thr.thr_logit THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             min(CASE WHEN sc.logit >= thr.thr_logit THEN sc.doc_id END) AS first_kept
           FROM sc JOIN thr USING (source)
           GROUP BY sc.source ORDER BY sc.source""")),

    // CANONICAL SELECTION: within each near-dup cluster (d9's
    // components over the shared d2 pair relation — literally
    // DedupQueries.nearDupPairs, so the cluster definition cannot
    // drift from d2/d9), keep the HIGHEST-QUALITY member by t12 logit
    // (tie → min doc_id) instead of d9's min-id keeper — the
    // production dedup policy: when copies differ in cleanliness, keep
    // the cleanest, not the earliest-crawled. One row per multi-member
    // cluster; argmax is a single struct-max aggregation.
    Q("x4_canonical_selection",
      (s, d) => {
        val clusters = graft.operators.DedupOps
          .connectedComponents(DedupQueries.nearDupPairs(s, d))
        val docs = Tables.load(s, d, "documents")
        // score ONLY cluster members (review r12): the logit is a pure
        // per-doc function, so restricting before scoreDerived is
        // semantically identical and skips the full-corpus token
        // explode — cluster membership is small, the corpus is not
        val memberDocs = docs.join(clusters.select("doc_id"), Seq("doc_id"))
        val scored = clusters.join(
          graft.operators.QualityModel
            .scoreDerived(memberDocs, "doc_id", "text", dims = 1024),
          Seq("doc_id"))
        scored.groupBy("cluster_id")
          .agg(count(lit(1)).as("cluster_size"),
            max(struct(col("logit"), (-col("doc_id")).as("neg_id"))).as("_best"))
          .select(col("cluster_id"), col("cluster_size"),
            (-col("_best.neg_id")).as("keeper_id"),
            col("_best.logit").as("keeper_logit"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.pairsCte},
             e AS (SELECT d1 u, d2 v FROM jp UNION SELECT d2, d1 FROM jp),
             reach AS (SELECT u, v FROM e
               UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
             lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
               FROM reach GROUP BY u),
             cs AS (SELECT cluster_id, count(*) AS csize FROM lab GROUP BY 1),
             qtoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             qtk AS (SELECT doc_id, token FROM qtoks WHERE token <> ''),
             qwv AS (SELECT doc_id,
               (CAST(('0x' || substr(md5('w:' || CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 1024 AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000 AS w
               FROM qtk),
             qsm AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS logit FROM qwv GROUP BY doc_id),
             m AS (SELECT lab.doc_id, lab.cluster_id, COALESCE(qsm.logit, 0) AS logit
               FROM lab LEFT JOIN qsm USING (doc_id)),
             k AS (SELECT cluster_id, doc_id, logit,
               row_number() OVER (PARTITION BY cluster_id ORDER BY logit DESC, doc_id) AS rn
               FROM m)
           SELECT k.cluster_id, CAST(cs.csize AS BIGINT) AS cluster_size,
             k.doc_id AS keeper_id, k.logit AS keeper_logit
           FROM k JOIN cs USING (cluster_id) WHERE rn = 1 ORDER BY cluster_id""")),

    // DSIR-shaped importance selection (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"):
    // hashed-unigram bag features (t12's 1024-bucket idiom), a
    // TARGET distribution fit on the trusted sources and a RAW
    // distribution on the rest (add-1 smoothed), and a per-raw-doc
    // importance score summed over token occurrences. The paper's
    // log-ratio is replaced by the fixed-point LINEAR surrogate
    // w_e6[b] = p_target_e6[b] − p_raw_e6[b] (exact BIGINTs — all
    // operands positive before the subtraction, so Spark `div` ≡
    // DuckDB `//`): it prefers exactly the buckets the target
    // over-represents, and keeps the whole chain replayable with no
    // transcendental. Ranking is by the raw SUM (the length-biased
    // form; the mean variant is one division away) — docs with zero
    // tokens carry no evidence and are excluded by construction.
    // Scale: the weight table is FIXED-SIZE (1024 rows, broadcast);
    // the corpus pays one token-bucket map + one doc-keyed agg; the
    // top-N rides TakeOrderedAndProject so only SelK rows ever see
    // the rank window.
    Q("x7_dsir_importance",
      (s, d) => {
        val sc = graft.operators.Dsir.importanceScores(
            Tables.load(s, d, "documents"), "doc_id", "text",
            "source", DsirTargetSources)
          .orderBy(col("score_e6").desc, col("doc_id"))
          .limit(DsirSelK)
        val win = org.apache.spark.sql.expressions.Window
          .orderBy(col("score_e6").desc, col("doc_id"))
        sc.withColumn("rnk", row_number().over(win).cast("int"))
          .select("rnk", "doc_id", "score_e6", "n_toks")
          .orderBy("rnk")
      },
      Some {
        val tgt = DsirTargetSources.map(s => s"'$s'").mkString(", ")
        s"""WITH tk AS (SELECT doc_id, source,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024 AS b
               FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
                     FROM documents)
               WHERE tok <> ''),
             c AS (SELECT b,
               sum(CASE WHEN source IN ($tgt) THEN 1 ELSE 0 END) AS ct,
               sum(CASE WHEN source IN ($tgt) THEN 0 ELSE 1 END) AS cr
               FROM tk GROUP BY 1),
             tot AS (SELECT
               sum(CASE WHEN source IN ($tgt) THEN 1 ELSE 0 END) AS tt,
               sum(CASE WHEN source IN ($tgt) THEN 0 ELSE 1 END) AS tr
               FROM tk),
             w AS (SELECT b,
               ((ct + 1) * 1000000) // (tt + 1024) -
               ((cr + 1) * 1000000) // (tr + 1024) AS w_e6
               FROM c CROSS JOIN tot),
             sc AS (SELECT doc_id, CAST(sum(w_e6) AS BIGINT) AS score_e6,
               CAST(count(*) AS INTEGER) AS n_toks
               FROM tk JOIN w USING (b)
               WHERE source NOT IN ($tgt) GROUP BY 1),
             r AS (SELECT doc_id, score_e6, n_toks,
               row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS rnk
               FROM sc)
           SELECT CAST(rnk AS INTEGER) AS rnk, doc_id, score_e6, n_toks
           FROM r WHERE rnk <= $DsirSelK ORDER BY rnk"""
      }),

    // Per-source DATA CARD — the one-page report a data team publishes
    // per source before mixing (datasheets-for-datasets shape): size
    // (docs/chars/tokens), quality (t12 logit sum + gated count),
    // duplication exposure (members of the SHARED d2 pair relation),
    // and language mix (t2's exact stop-ratio rule — shared stopSql,
    // so the column cannot drift from the t2 entry). Every column is
    // a sum/count over per-doc integers: one doc-keyed scoring pass +
    // one source-keyed agg; the dup join is against the session-cached
    // pair relation. The oracle replays ALL feeder chains (CleanSql's
    // sm + pairsCte) — a regression in any feeder surfaces here too.
    Q("x8_source_datacard",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val scored = graft.operators.QualityModel
          .scoreDerived(docs, "doc_id", "text", dims = 1024)
        val dup = DedupQueries.nearDupPairs(s, d)
        val dupDocs = dup.select(col("d1").as("doc_id"))
          .union(dup.select(col("d2").as("doc_id"))).distinct()
          .withColumn("is_dup", lit(1L))
        docs.select(col("doc_id"), col("source"),
            length(col("text")).as("n_chars"),
            expr("size(filter(split(text, ' '), t -> t <> ''))").as("n_toks"),
            expr(s"size(filter(split(text, ' '), t -> t IN (${TextQueries.stopSql})))")
              .as("stop_hits"),
            expr("size(split(text, ' '))").as("n_raw"))
          .join(scored, Seq("doc_id"))
          .join(dupDocs, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum("n_toks").as("sum_tokens"),
            sum("logit").as("sum_logit"),
            sum(when(col("logit") < 0, 1L).otherwise(0L)).as("n_gated"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_members"),
            sum(when(col("stop_hits").cast("double") / col("n_raw") >= 0.05,
              1L).otherwise(0L)).as("n_en"))
          .orderBy("source")
      },
      Some(s"""WITH $CleanSql,
             ${DedupQueries.pairsCte},
             dd AS (SELECT DISTINCT doc_id FROM
               (SELECT d1 AS doc_id FROM jp UNION ALL SELECT d2 FROM jp)),
             b AS (SELECT d.doc_id, d.source,
               length(d.text) AS n_chars,
               len(list_filter(string_split(d.text, ' '), x -> x <> '')) AS n_toks,
               len(list_filter(string_split(d.text, ' '), t -> t IN (${TextQueries.stopSql}))) AS stop_hits,
               len(string_split(d.text, ' ')) AS n_raw,
               COALESCE(sm.logit, 0) AS logit,
               CASE WHEN dd.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
               FROM documents d LEFT JOIN sm USING (doc_id)
               LEFT JOIN dd ON dd.doc_id = d.doc_id)
           SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
             CAST(sum(logit) AS BIGINT) AS sum_logit,
             CAST(sum(CASE WHEN logit < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gated,
             CAST(sum(is_dup) AS BIGINT) AS n_dup_members,
             CAST(sum(CASE WHEN CAST(stop_hits AS DOUBLE) / n_raw >= 0.05
               THEN 1 ELSE 0 END) AS BIGINT) AS n_en
           FROM b GROUP BY source ORDER BY source""")),

    // The RELEASE MANIFEST — the one-row record published with a
    // training-corpus release: the full chain gate → exact dedup →
    // split (CorpusPipeline.clean, x1's relation) → decontaminate the
    // train split against the test split (d8c's 8-gram rule ON THE
    // CLEANED corpus) → final doc count + the s13-shaped
    // order-independent id fingerprint, so two re-runs (or two
    // clusters) can prove they shipped the SAME corpus with one row
    // compare. The oracle replays the ENTIRE chain — any feeder
    // regression, or drift in how the stages compose, flips the
    // fingerprint. Scale: each stage is its own documented plan; the
    // manifest adds one candidate-bounded gram join and scalar aggs.
    Q("x9_release_manifest",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val cleaned = ServingCache.parquetDf(s, servedCleanDir(s, d))
        val withText = cleaned.select("doc_id", "split")
          .join(docs.select("doc_id", "text"), Seq("doc_id"))
        val train = withText.filter(col("split") === "train")
        val test = withText.filter(col("split") === "test")
        val bad = graft.operators.DedupOps
          .crossSplitOverlap(train, test, "doc_id", "text", n = 8)
          .filter(col("overlap_frac") >= 0.5)
          .select(col("train_doc").as("doc_id")).distinct()
        // r20: the counting paths need no text — trainIds comes off
        // the cleaned store alone (cleaned ⊆ documents, inner join on
        // doc_id preserves the count, exactly the oracle's n_train
        // CTE), so the docs join runs only inside the gram-join
        // subtree; and n_decont_dropped ≡ n_train − n_train_final
        // (every bad doc IS a train doc), so the gram join — formerly
        // executed twice, once under the bad-count aggregate and once
        // under the anti-join — executes ONCE per run.
        val trainIds = cleaned.filter(col("split") === "train")
          .select("doc_id")
        val finalTrain = trainIds.join(bad, Seq("doc_id"), "left_anti")
        val h = expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
        docs.agg(count(lit(1)).as("n_raw"))
          .crossJoin(cleaned.agg(count(lit(1)).as("n_clean")))
          .crossJoin(trainIds.agg(count(lit(1)).as("n_train")))
          .crossJoin(finalTrain.select(h.as("h"))
            .agg(count(lit(1)).as("n_train_final"),
              expr("bit_xor(h)").as("xor_id_hash"),
              expr("CAST(sum(h % 1000000007) AS BIGINT)").as("sum_id_hash_mod")))
          .select(col("n_raw"), col("n_clean"), col("n_train"),
            (col("n_train") - col("n_train_final")).as("n_decont_dropped"),
            col("n_train_final"), col("xor_id_hash"),
            col("sum_id_hash_mod"))
      },
      Some(s"""WITH $CleanSql,
             ct AS (SELECT c.doc_id, c.split, d2.text
               FROM cleaned c JOIN documents d2 USING (doc_id)),
             ztoks AS (SELECT doc_id, split, string_split(text, ' ') ts FROM ct
               WHERE len(string_split(text, ' ')) >= 8
                 AND split IN ('train', 'test')),
             zidx AS (SELECT doc_id, split, ts, unnest(range(1, len(ts) - 6)) AS i
               FROM ztoks),
             zsh AS (SELECT DISTINCT doc_id, split,
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
               ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
               FROM zidx),
             zsizes AS (SELECT doc_id, count(*) AS n FROM zsh
               WHERE split = 'test' GROUP BY 1),
             zpairs AS (SELECT a.doc_id AS train_doc, t.doc_id AS test_doc,
               count(*) AS shared
               FROM zsh a JOIN zsh t ON a.shingle = t.shingle
                 AND a.split = 'train' AND t.split = 'test'
               GROUP BY 1, 2),
             zbad AS (SELECT DISTINCT p.train_doc AS doc_id FROM zpairs p
               JOIN zsizes s ON p.test_doc = s.doc_id
               WHERE CAST(p.shared AS DOUBLE) / s.n >= 0.5),
             ftr AS (SELECT c.doc_id FROM cleaned c WHERE c.split = 'train'
               AND c.doc_id NOT IN (SELECT doc_id FROM zbad)),
             fh AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
               FROM ftr)
           SELECT (SELECT count(*) FROM documents) AS n_raw,
             (SELECT count(*) FROM cleaned) AS n_clean,
             (SELECT count(*) FROM cleaned WHERE split = 'train') AS n_train,
             (SELECT count(*) FROM zbad) AS n_decont_dropped,
             (SELECT count(*) FROM fh) AS n_train_final,
             (SELECT bit_xor(h) FROM fh) AS xor_id_hash,
             (SELECT CAST(sum(h % 1000000007) AS BIGINT) FROM fh) AS sum_id_hash_mod""")),

    // SNAPSHOT DIFF — dataset versioning for a released corpus: given
    // two snapshots keyed by doc_id with a content fingerprint, report
    // per source what the next release did (added / removed / changed /
    // unchanged docs + the net token delta). The v2 snapshot is a
    // DETERMINISTIC derived twin of the corpus (md5-selected tenths:
    // one dropped, one edited, one cloned under new ids — the t18
    // dirty-twin discipline; the corpus itself has no second version),
    // so the classification exercises every branch of the diff on both
    // engines. Shape: fingerprints are computed map-side, the diff is
    // ONE doc_id-keyed full-outer join, the report a per-source partial
    // agg — at 100 TB this is the standard two-snapshot reconcile, no
    // all-pairs anywhere, and the fingerprint column means text never
    // shuffles.
    Q("x10_snapshot_diff",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val v2 = snapshotV2(docs)
        def fp(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.select(col("doc_id").as(s"id$tag"), col("source").as(s"src$tag"),
            md5(col("text")).as(s"fp$tag"),
            expr("CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)")
              .as(s"nt$tag"))
        val j = fp(docs, "1").join(fp(v2, "2"),
            col("id1") === col("id2"), "full_outer")
          .select(coalesce(col("src1"), col("src2")).as("source"),
            when(col("id1").isNull, "added")
              .when(col("id2").isNull, "removed")
              .when(col("fp1") =!= col("fp2"), "changed")
              .otherwise("unchanged").as("status"),
            (coalesce(col("nt2"), lit(0L)) - coalesce(col("nt1"), lit(0L)))
              .as("dt"))
        j.groupBy("source")
          .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
            sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
            sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
            sum(col("dt")).as("token_delta"))
          .orderBy("source")
      },
      Some(s"""WITH $SnapshotV2Sql,
             f1 AS (SELECT doc_id, source, md5(text) AS fp,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nt
               FROM documents),
             f2 AS (SELECT doc_id, source, md5(text) AS fp,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nt
               FROM v2),
             j AS (SELECT COALESCE(f1.source, f2.source) AS source,
               CASE WHEN f1.doc_id IS NULL THEN 'added'
                    WHEN f2.doc_id IS NULL THEN 'removed'
                    WHEN f1.fp <> f2.fp THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COALESCE(f2.nt, 0) - COALESCE(f1.nt, 0) AS dt
               FROM f1 FULL OUTER JOIN f2 ON f1.doc_id = f2.doc_id)
           SELECT source,
             CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
             CAST(sum(dt) AS BIGINT) AS token_delta
           FROM j GROUP BY source ORDER BY source""")),

    // DRIFT MONITOR — the distribution-shift face of the release diff:
    // per source, the L1 distance between the two snapshots' doc-length
    // histograms (log2 buckets, t14's sketch shape) in e6 fixed point —
    // the release gate a data team alarms on when a new crawl or a
    // changed filter shifts the length profile even where doc COUNTS
    // look stable. PSI/KL need ln (libm-private, the b2/t15 trade
    // again); total-variation-style L1 over the ≤64-bucket sketch is
    // integer-exact and carries the same monotone drift signal. Scale:
    // two corpus scans fold to ≤64 rows per source each; the compare
    // never exceeds sources × buckets rows. Shares x10's v2 definition
    // (one `snapshotV2`, so diff and drift can't disagree on what
    // changed).
    Q("x11_drift_report",
      (s, d) => {
        import graft.operators.Sketches
        val docs = Tables.load(s, d, "documents")
        def hist(df: org.apache.spark.sql.DataFrame) =
          Sketches.logHistogramBy(
            df.select(col("source"),
              expr("CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT)")
                .as("v")),
            Seq("source"))
        // headroom: cnt ≤ total, so cnt·10⁶ stays in BIGINT while a
        // source holds < 9.2·10¹² docs — past that, decompose as sp12
        def norm(h: org.apache.spark.sql.DataFrame, tag: String) =
          h.join(h.groupBy("source").agg(sum("cnt").as("total")), Seq("source"))
            .select(col("source"), col("bucket"),
              expr("(cnt * 1000000L) div total").as(s"p$tag"),
              col("cnt").as(s"cnt$tag"))
        val a = norm(hist(docs), "1")
          .withColumnRenamed("source", "src_a").withColumnRenamed("bucket", "b_a")
        val b = norm(hist(snapshotV2(docs)), "2")
          .withColumnRenamed("source", "src_b").withColumnRenamed("bucket", "b_b")
        a.join(b, col("src_a") === col("src_b") && col("b_a") === col("b_b"),
            "full_outer")
          .select(coalesce(col("src_a"), col("src_b")).as("source"),
            coalesce(col("p1"), lit(0L)).as("p1"),
            coalesce(col("p2"), lit(0L)).as("p2"),
            coalesce(col("cnt1"), lit(0L)).as("cnt1"),
            coalesce(col("cnt2"), lit(0L)).as("cnt2"))
          .groupBy("source")
          .agg(sum("cnt1").as("n1_docs"), sum("cnt2").as("n2_docs"),
            sum(abs(col("p1") - col("p2"))).as("l1_e6"),
            sum(when(col("p1") =!= col("p2"), 1L).otherwise(0L))
              .as("n_buckets_drifted"))
          .orderBy("source")
      },
      Some(s"""WITH $SnapshotV2Sql,
             t1 AS (SELECT source,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS v
               FROM documents),
             t2 AS (SELECT source,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS v
               FROM v2),
             h1 AS (SELECT source,
               CASE WHEN v <= 0 THEN -1 ELSE CAST(length(bin(v)) - 1 AS INTEGER) END AS bucket,
               CAST(count(*) AS BIGINT) AS cnt FROM t1 GROUP BY 1, 2),
             h2 AS (SELECT source,
               CASE WHEN v <= 0 THEN -1 ELSE CAST(length(bin(v)) - 1 AS INTEGER) END AS bucket,
               CAST(count(*) AS BIGINT) AS cnt FROM t2 GROUP BY 1, 2),
             n1 AS (SELECT h1.source, h1.bucket,
               (h1.cnt * 1000000) // tt.total AS p1, h1.cnt AS cnt1
               FROM h1 JOIN (SELECT source, CAST(sum(cnt) AS BIGINT) AS total
                 FROM h1 GROUP BY 1) tt USING (source)),
             n2 AS (SELECT h2.source, h2.bucket,
               (h2.cnt * 1000000) // tt.total AS p2, h2.cnt AS cnt2
               FROM h2 JOIN (SELECT source, CAST(sum(cnt) AS BIGINT) AS total
                 FROM h2 GROUP BY 1) tt USING (source)),
             j AS (SELECT COALESCE(n1.source, n2.source) AS source,
               COALESCE(p1, 0) AS p1, COALESCE(p2, 0) AS p2,
               COALESCE(cnt1, 0) AS cnt1, COALESCE(cnt2, 0) AS cnt2
               FROM n1 FULL OUTER JOIN n2
                 ON n1.source = n2.source AND n1.bucket = n2.bucket)
           SELECT source, CAST(sum(cnt1) AS BIGINT) AS n1_docs,
             CAST(sum(cnt2) AS BIGINT) AS n2_docs,
             CAST(sum(abs(p1 - p2)) AS BIGINT) AS l1_e6,
             CAST(sum(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_drifted
           FROM j GROUP BY source ORDER BY source""")),

    // THE RELEASE, end to end under ONE hash: quality gate → exact
    // dedup → deterministic split (x1's clean) → byte-BPE token-ID
    // sequences under the frozen artifact (t35) → packed context
    // windows (sp16) → the per-shard manifest (sp17) PLUS a release
    // content hash (md5 of every window's sequence hash in window
    // order) — the full production path from raw documents to the
    // shard store a trainer mounts, composed, so a semantic drift in
    // ANY stage or in their composition order flips this hash even if
    // every standalone entry still passes. The tokenizer stays
    // corpus-trained (artifacts are fit once, before gating — the
    // production order); only gate-surviving train-split docs are
    // tokenized and packed (the semi-join sits BELOW the per-token
    // work, so rejected docs are never tokenized).
    Q("x10_training_shard_release",
      (s, d) => {
        val W = SamplingQueries.WindowW
        val kept = ServingCache.parquetDf(s, servedCleanDir(s, d))
          .filter(col("split") === "train").select("doc_id")
        // kept docs' id sequences from the session token-ids store
        // (r20: per-doc tokenization is deterministic, so reading the
        // materialized table semi-joined to the kept set is
        // bit-identical to re-tokenizing the kept slice)
        val ids = ServingCache.parquetDf(s, TextQueries.tokenIdsStoreDir(s, d))
          .join(kept, Seq("doc_id"), "left_semi")
        graft.operators.ContextPacking.packedWindows(ids, W)
          .select(col("shard"), col("window_id"), col("n_docs"),
            col("n_tokens"),
            md5(concat_ws("|",
              transform(col("window_ids"), i => i.cast("string"))))
              .as("ids_md5"))
          .groupBy("shard")
          .agg(count(lit(1)).cast("bigint").as("n_windows"),
            sum("n_tokens").as("n_tokens"),
            sum(when(col("n_tokens") === W, 1L).otherwise(0L))
              .as("full_windows"),
            sum(col("n_docs").cast("bigint")).as("doc_slices"),
            md5(concat_ws("|", transform(
              array_sort(collect_list(struct(col("window_id"),
                col("ids_md5")))),
              p => concat_ws(":", p("window_id").cast("string"),
                p("ids_md5"))))).as("release_md5"))
          .select(col("shard"), col("n_windows"), col("n_tokens"),
            col("full_windows"),
            expr(s"(n_tokens * 1000000) div (n_windows * $W)")
              .as("mean_fill_e6"),
            col("doc_slices"), col("release_md5"))
          .orderBy("shard")
      },
      Some {
        val extra = s""",
             $CleanSql,
             keepdocs AS (SELECT doc_id FROM cleaned WHERE split = 'train')"""
        s"""${graft.operators.BpeTrainer.packedWindowCtes(
            TextQueries.BpePat, TextQueries.BpeK, 2048L,
            extraCtes = extra,
            candJoin = "JOIN keepdocs USING (doc_id)")}
           SELECT shard, CAST(count(*) AS BIGINT) AS n_windows,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN n_tokens = 2048 THEN 1 ELSE 0 END) AS BIGINT)
               AS full_windows,
             (CAST(sum(n_tokens) AS BIGINT) * 1000000)
               // (CAST(count(*) AS BIGINT) * 2048) AS mean_fill_e6,
             CAST(sum(n_docs) AS BIGINT) AS doc_slices,
             md5(string_agg(CAST(window_id AS VARCHAR) || ':' || ids_md5,
               '|' ORDER BY window_id)) AS release_md5
           FROM wa GROUP BY shard ORDER BY shard"""
      }),

    // The release under the NO-SPLIT policy (VERDICT r16 #3): the
    // identical gate → exact-dedup → train-split → frozen-artifact
    // token-ID chain, but packed by sp19's greedy whole-document
    // windows instead of sp16's boundary-split ones — proving the
    // packing policy composes through the WHOLE production path as a
    // knob (same CleanSql gate CTEs, same release-hash discipline; a
    // drift in any stage, their order, or the greedy fold itself
    // flips the hash). mean_fill_e6 here is the padding bill the
    // no-split policy pays vs x10's ≈10⁶.
    Q("x12_greedy_shard_release",
      (s, d) => {
        val W = SamplingQueries.WindowW
        val kept = ServingCache.parquetDf(s, servedCleanDir(s, d))
          .filter(col("split") === "train").select("doc_id")
        val ids = ServingCache.parquetDf(s, TextQueries.tokenIdsStoreDir(s, d))
          .join(kept, Seq("doc_id"), "left_semi")
        graft.operators.ContextPacking.packGreedyWindows(ids, W)
          .select(col("shard"), col("window_id"), col("n_docs"),
            col("n_tokens"),
            md5(concat_ws("|",
              transform(col("window_ids"), i => i.cast("string"))))
              .as("ids_md5"))
          .groupBy("shard")
          .agg(count(lit(1)).cast("bigint").as("n_windows"),
            sum("n_tokens").as("n_tokens"),
            sum(when(col("n_tokens") === W, 1L).otherwise(0L))
              .as("full_windows"),
            sum(col("n_docs").cast("bigint")).as("doc_slices"),
            md5(concat_ws("|", transform(
              array_sort(collect_list(struct(col("window_id"),
                col("ids_md5")))),
              p => concat_ws(":", p("window_id").cast("string"),
                p("ids_md5"))))).as("release_md5"))
          .select(col("shard"), col("n_windows"), col("n_tokens"),
            col("full_windows"),
            expr(s"(n_tokens * 1000000) div (n_windows * $W)")
              .as("mean_fill_e6"),
            col("doc_slices"), col("release_md5"))
          .orderBy("shard")
      },
      Some {
        val extra = s""",
             $CleanSql,
             keepdocs AS (SELECT doc_id FROM cleaned WHERE split = 'train')"""
        s"""${graft.operators.BpeTrainer.greedyWindowCtes(
            TextQueries.BpePat, TextQueries.BpeK, 2048L,
            extraCtes = extra,
            candJoin = "JOIN keepdocs USING (doc_id)")}
           SELECT shard, CAST(count(*) AS BIGINT) AS n_windows,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN n_tokens = 2048 THEN 1 ELSE 0 END) AS BIGINT)
               AS full_windows,
             (CAST(sum(n_tokens) AS BIGINT) * 1000000)
               // (CAST(count(*) AS BIGINT) * 2048) AS mean_fill_e6,
             CAST(sum(n_docs) AS BIGINT) AS doc_slices,
             md5(string_agg(CAST(window_id AS VARCHAR) || ':' || ids_md5,
               '|' ORDER BY window_id)) AS release_md5
           FROM gwa GROUP BY shard ORDER BY shard"""
      })
  )
}
