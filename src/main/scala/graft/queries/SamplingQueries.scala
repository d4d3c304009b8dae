package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic sampling / split assignment — the data-mixing primitive
  * of a training pipeline: every document lands in train/val/test (or in
  * a p% sample) as a pure function of its id, so the split is stable
  * across runs, engines, and cluster sizes, needs no coordination or
  * state, and is reproducible from the raw data alone.
  *
  * Mechanism: bucket = first 8 hex digits of md5(id) as an integer,
  * mod 100 — uniform, engine-portable (Spark `conv(x, 16, 10)` ≡ DuckDB
  * `CAST('0x' || x AS BIGINT)`), and oracle-checkable bit-for-bit,
  * unlike Bernoulli `sample()` whose RNG is engine-private.
  *
  * Scale: a narrow per-row projection + optional small agg — no shuffle
  * for assignment, embarrassingly parallel at any corpus size.
  */
object SamplingQueries extends QueryPack {

  private val bucketExpr =
    graft.operators.SplitAssign.bucket(col("doc_id")).as("bucket")

  /** sp16's window CENSUS (shard, window_id, n_docs, n_tokens,
    * fill_e6 — no id arrays) persisted ONCE per (session, dataset):
    * the coordinator-side consumers (sp17's manifest, sp20's epoch
    * order) re-ran the whole tokenize+pack chain per execution, where
    * a production dataloader coordinator reads the packed release's
    * manifest — packing is a per-release batch step over a frozen
    * corpus (see ContextPacking's scaladoc), not something re-derived
    * per epoch. sp16/sp19 keep computing the packing itself (it is
    * their operator) — from the shared token-ids store. Oracles
    * unchanged: DuckDB replays merge-fit → tokenize → pack per entry.
    */
  // ADVICE r20: the ONE shared window-width constant — the census
  // store, sp16/sp19's packing and x10/x12's releases must agree on W
  // or the sp16<->sp17/sp20 'cannot disagree' invariant silently breaks
  // (the oracle would catch it, but late). Oracle SQL keeps its 2048
  // literals: those strings ARE the declared computation.
  private[queries] val WindowW = 2048L
  private def windowCensusStoreDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.SessionStore.dir(s, "window_census_store", d) { dir =>
      graft.operators.ContextPacking.packedWindows(
          s.read.parquet(TextQueries.tokenIdsStoreDir(s, d)), WindowW)
        .select("shard", "window_id", "n_docs", "n_tokens", "fill_e6")
        .write.mode("overwrite").parquet(dir + "/census")
      dir + "/census"
    }

  val queries: Seq[Q] = Seq(

    // 80/10/10 train/val/test assignment, stable per document.
    Q("sp1_split_assign",
      (s, d) => Tables.load(s, d, "documents")
        .select(col("doc_id"), bucketExpr)
        .withColumn("split", graft.operators.SplitAssign.split(col("bucket")))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
             FROM documents ORDER BY doc_id""")),

    // Deterministic 10% sample, stratified per source: the sample rate
    // holds within every stratum (counts checked per source), without
    // shuffling or materializing strata.
    Q("sp2_stratified_sample",
      (s, d) => Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), bucketExpr)
        .filter(col("bucket") < 10)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_sampled, min(doc_id) AS first_doc
             FROM documents
             WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
             GROUP BY source ORDER BY source""")),

    // Sequence packing: assign documents to fixed token-budget bins
    // (context windows) by exclusive running token count, per shard. The
    // per-shard window is the scale design — a single global running sum
    // would serialize the corpus through one partition; sharding keeps
    // packing embarrassingly parallel while bins stay deterministic.
    Q("sp3_pack_context_windows",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        Tables.load(s, d, "documents")
          .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
            size(split(col("text"), " ")).as("n_tokens"))
          .withColumn("bin",
            floor(coalesce(sum(col("n_tokens")).over(w), lit(0)) / lit(2048)))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(floor(COALESCE(SUM(len(string_split(text, ' ')))
               OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin
             FROM documents ORDER BY doc_id""")),

    // Per-source quota (mixing weights): keep the top-20 documents of
    // each source by a quality metric — the window top-k-per-group
    // pattern; at scale one shuffle on the stratum key, heap-bounded by
    // Spark's WindowGroupLimit pushdown.
    Q("sp4_source_quota",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("quality").desc, col("doc_id"))
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"),
            (size(array_distinct(split(col("text"), " "))).cast("double") /
              size(split(col("text"), " "))).as("quality"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .orderBy("source", "rk")
      },
      Some("""WITH q AS (SELECT doc_id, source,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS quality
               FROM documents),
             r AS (SELECT doc_id, source, quality,
               row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
               FROM q)
             SELECT doc_id, source, quality, CAST(rk AS INTEGER) AS rk
             FROM r WHERE rk <= 20 ORDER BY source, rk""")),

    // Deterministic weighted interleave — domain MIXING: given
    // per-source weights (here src0/src1 upweighted 3×), emit the
    // global training order by stride scheduling: source s's i-th doc
    // (md5-ranked, the sp1 mechanism) sits at position (2i+1)/(2w_s),
    // so a weight-3 source surfaces three docs for every one of a
    // weight-1 source until it exhausts. Pure function of the data —
    // no RNG, reproducible on any engine/cluster — and exact: integer
    // rank arithmetic, ONE IEEE division. The shuffle is one window
    // per source partition + the final range sort.
    Q("sp5_mix_interleave",
      (s, d) => {
        val w = when(col("source").isin("src0", "src1"), 3L).otherwise(1L)
        val rk = (org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          - 1).cast("long")
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"))
          .withColumn("src_rank", rk)
          .withColumn("mix_pos",
            (col("src_rank") * 2L + 1L).cast("double") / (w * 2L))
          .orderBy("mix_pos", "doc_id")
      },
      Some("""WITH r AS (SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS src_rank,
               CASE WHEN source IN ('src0', 'src1') THEN 3 ELSE 1 END AS w
               FROM documents)
             SELECT doc_id, source, src_rank,
               CAST(2 * src_rank + 1 AS DOUBLE) / (2 * w) AS mix_pos
             FROM r ORDER BY mix_pos, doc_id""")),

    // Token-BUDGET quota — sp4's row-count quota re-expressed in the
    // unit that actually matters when assembling a training mixture:
    // each source contributes its best documents (quality-ranked, the
    // sp4 metric) until a fixed token budget is crossed; the document
    // that crosses the line is included (exclusive-running-sum < budget),
    // so every source lands within one document of its budget. One
    // window per source partition — same WindowGroupLimit-friendly
    // shape as sp3/sp4, embarrassingly parallel across sources, and a
    // pure function of the data (no RNG): re-running on any engine or
    // cluster yields the identical mixture.
    Q("sp6_token_budget",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("n_tokens"),
            (size(array_distinct(split(col("text"), " "))).cast("double") /
              size(split(col("text"), " "))).as("quality"))
          .withColumn("cum_before",
            coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .filter(col("cum_before") < 5000L)
          .orderBy("source", "cum_before", "doc_id")
      },
      Some("""WITH q AS (SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS quality
               FROM documents),
             c AS (SELECT doc_id, source, n_tokens, quality,
               CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
                 ORDER BY quality DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
               FROM q)
             SELECT doc_id, source, n_tokens, quality, cum_before
             FROM c WHERE cum_before < 5000
             ORDER BY source, cum_before, doc_id""")),

    // Deterministic global shuffle into training shards — the last-mile
    // step before a training run: every doc gets a shard (independent
    // md5 with a 'shard#' salt — NOT sp1's bucket, 100 % 8 would skew)
    // and a position inside it (row_number over an md5 rank with a
    // different 'shuf#' salt), giving a reproducible pseudo-random
    // permutation with no RNG, no coordination, and no global sort:
    // one shard-keyed shuffle, then per-shard O(n/S log n/S) sorts —
    // at 100 TB each shard sorts independently and writes its own
    // file set (partitionBy("shard")).
    Q("sp7_shuffle_shards",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy(col("rk"), col("doc_id"))
        Tables.load(s, d, "documents")
          .select(col("doc_id"),
            expr("pmod(CAST(conv(substring(md5(concat('shard#', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT), 8)")
              .as("shard"),
            md5(concat(lit("shuf#"), col("doc_id").cast("string"))).as("rk"))
          .withColumn("pos", row_number().over(w))
          .select("shard", "pos", "doc_id")
          .orderBy("shard", "pos")
      },
      Some("""WITH a AS (SELECT doc_id,
               CAST(('0x' || substr(md5('shard#' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
               md5('shuf#' || CAST(doc_id AS VARCHAR)) AS rk
               FROM documents)
             SELECT shard, row_number() OVER (PARTITION BY shard ORDER BY rk, doc_id) AS pos,
               doc_id
             FROM a ORDER BY shard, pos""")),

    // Leakage-free split — sp1's assignment keyed by the NEAR-DUP
    // CLUSTER representative instead of the doc id, so two near-
    // duplicate documents can never straddle train and test (the
    // contamination d8 then has to detect after the fact; this split
    // prevents it by construction — the standard fix after Lee et al.
    // 2022's dedup analyses). Clusters are literally d9's components
    // over the shared session-cached pair relation, so the cluster
    // definition cannot drift from d2/d9/x4; unclustered docs (the
    // overwhelming majority) key by themselves. Scale: the pair+CC
    // relations are the documented d2/d9 machinery; the assignment
    // itself stays a narrow projection + one broadcast-sized left join
    // (clustered docs are a tiny fraction of any deduped corpus).
    Q("sp8_cluster_split",
      (s, d) => {
        import graft.operators.SplitAssign
        val docs = Tables.load(s, d, "documents").select("doc_id")
        val cc = graft.operators.DedupOps
          .connectedComponents(DedupQueries.nearDupPairs(s, d))
        docs.join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("rep"))
          .withColumn("bucket", SplitAssign.bucket(col("rep")))
          .withColumn("split", SplitAssign.split(col("bucket")))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.pairsCte},
             e AS (SELECT d1 u, d2 v FROM jp UNION SELECT d2, d1 FROM jp),
             reach AS (SELECT u, v FROM e
               UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
             lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
               FROM reach GROUP BY u),
             rp AS (SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS rep
               FROM documents d LEFT JOIN lab USING (doc_id)),
             a AS (SELECT doc_id, rep,
               CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
               FROM rp)
             SELECT doc_id, rep, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
             FROM a ORDER BY doc_id"""))
  ) ++ Seq(

    // Temperature-scaled mixture weights — the training-mixture math
    // (sample source s with weight ∝ n_s^α, α < 1 upsampling small
    // sources): α = 1/2 so the power is ONE IEEE sqrt (correctly
    // rounded by mandate — no libm variance; published α≈0.7 needs
    // exp/ln, the b2/t15 log-free trade again), then everything is
    // fixed-point BIGINT: w_e6 = ⌊√n·10⁶⌋, total = Σw_e6 (integer —
    // ORDER-INDEPENDENT, no float-summation fold to pin), allocation =
    // budget·w_e6 div total, epochs_e6 = alloc·10⁶ div n. One
    // source-keyed aggregate + a broadcast-scalar join; trivially flat
    // at any corpus.
    Q("sp9_temperature_mix",
      (s, d) => {
        val per = Tables.load(s, d, "documents")
          .groupBy("source")
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
          .withColumn("w_e6",
            expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)"))
        per.crossJoin(broadcast(per.agg(sum("w_e6").as("total_e6"))))
          .select(col("source"), col("n_tokens"), col("w_e6"),
            expr("(100000L * w_e6) div total_e6").as("alloc_tokens"),
            expr("((100000L * w_e6) div total_e6 * 1000000L) div n_tokens")
              .as("epochs_e6"))
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
             w AS (SELECT source, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_e6
               FROM per),
             t AS (SELECT CAST(sum(w_e6) AS BIGINT) AS total_e6 FROM w)
             SELECT source, n_tokens, w_e6,
               (100000 * w_e6) // total_e6 AS alloc_tokens,
               ((100000 * w_e6) // total_e6 * 1000000) // n_tokens AS epochs_e6
             FROM w, t ORDER BY source""")),

    // Deterministic WEIGHTED sampling without replacement — the
    // Efraimidis–Spirakis priority-sample shape with the repo's
    // no-RNG discipline: the "random" key is the doc's md5-derived
    // 32-bit integer (uniform, reproducible), the priority is
    // key·10⁶ div weight (weight = n_chars), and the sample is the
    // k SMALLEST priorities — so a doc's selection odds scale with
    // its weight while the whole draw replays bit-for-bit in any
    // engine (the paper's u^(1/w) key needs pow; the integer
    // surrogate preserves the same weight-monotone selection
    // pressure, documented as such). TakeOrderedAndProject carries
    // the top-k; only k rows reach the rank window.
    Q("sp10_weighted_priority_sample",
      (s, d) => {
        val prio = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("n_chars").as("weight"),
            expr("(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) * 1000000) div n_chars")
              .as("priority"))
          .orderBy(col("priority"), col("doc_id"))
          .limit(100)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("priority"), col("doc_id"))
        prio.withColumn("rnk", row_number().over(w).cast("int"))
          .select("rnk", "doc_id", "weight", "priority")
          .orderBy("rnk")
      },
      Some("""WITH p AS (SELECT doc_id, n_chars AS weight,
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) * 1000000) // n_chars AS priority
               FROM documents),
             r AS (SELECT doc_id, weight, priority,
               row_number() OVER (ORDER BY priority, doc_id) AS rnk FROM p)
           SELECT CAST(rnk AS INTEGER) AS rnk, doc_id, weight, priority
           FROM r WHERE rnk <= 100 ORDER BY rnk""")),

    // k-fold cross-validation assignment, LEAKAGE-FREE: folds are
    // keyed by the near-dup CLUSTER representative (sp8's rep — the
    // shared d2/d9 relation), so near-duplicate documents can never
    // land in different folds and leak eval into train. The fold hash
    // is namespaced ("fold:") so it is independent of sp1's split
    // buckets — re-foldings don't correlate with the train/val/test
    // assignment. Deterministic, engine-replayable, no RNG.
    Q("sp11_kfold_split",
      (s, d) => {
        val docs = Tables.load(s, d, "documents").select("doc_id")
        val cc = graft.operators.DedupOps
          .connectedComponents(DedupQueries.nearDupPairs(s, d))
        docs.join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("rep"))
          .withColumn("fold", expr(
            "CAST(pmod(CAST(conv(substring(md5(concat('fold:', CAST(rep AS STRING))), 1, 8), 16, 10) AS BIGINT), 5) AS INT)"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.pairsCte},
             e AS (SELECT d1 u, d2 v FROM jp UNION SELECT d2, d1 FROM jp),
             reach AS (SELECT u, v FROM e
               UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
             lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
               FROM reach GROUP BY u),
             rp AS (SELECT d.doc_id, COALESCE(lab.cluster_id, d.doc_id) AS rep
               FROM documents d LEFT JOIN lab USING (doc_id))
           SELECT doc_id, rep,
             CAST(CAST(('0x' || substr(md5('fold:' || CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS INTEGER) AS fold
           FROM rp ORDER BY doc_id""")),

    // Quality-driven DOMAIN REWEIGHTING — the DoReMi shape (Xie et al.
    // 2023: learn domain mixture weights from a proxy signal instead of
    // raw token counts) with the repo's no-float discipline: the proxy
    // is t12's integer quality logit, per-source mean in e6 fixed point
    // (sum·10⁶ div n — truncation matches DuckDB //), shifted by the
    // global minimum so every source keeps a positive floor weight
    // (min-quality source gets exactly the floor, 10⁶), then normalized
    // and priced against sp9's 100k-token budget. The REAL DoReMi runs
    // a reference/proxy model excess-loss loop; this is its one-shot
    // integer surrogate — the mixture math is identical once the proxy
    // scores exist, and the whole chain (scoring included) replays in
    // DuckDB. Scale: t12's doc-keyed partial agg, then a source-keyed
    // k-row agg + two broadcast scalars — flat at any corpus.
    Q("sp12_domain_reweight",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val logits = graft.operators.QualityModel
          .scoreDerived(docs, "doc_id", "text", dims = 1024, bias = 0L)
        // mean in e6 via the overflow-safe decomposition
        // (a·K) div n = (a div n)·K + ((a % n)·K) div n — exact for
        // truncating division with sign-of-dividend remainders (both
        // engines), and the largest intermediate is (n−1)·10⁶ instead
        // of sum_logit·10⁶, which at fact scale (10¹⁰ docs × 10⁴-token
        // logits) would wrap BIGINT silently in Spark while DuckDB
        // widens to HUGEINT — the e16 cross-engine divergence shape.
        val per = docs.select("doc_id", "source")
          .join(logits, Seq("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("logit").as("sum_logit"))
          .withColumn("m_e6", expr(
            "(sum_logit div n_docs) * 1000000L + ((sum_logit % n_docs) * 1000000L) div n_docs"))
        val shifted = per
          .crossJoin(broadcast(per.agg(min("m_e6").as("min_e6"))))
          .withColumn("w_raw", col("m_e6") - col("min_e6") + lit(1000000L))
        shifted
          .crossJoin(broadcast(shifted.agg(sum("w_raw").as("total"))))
          .select(col("source"), col("n_docs"), col("m_e6"),
            expr("(w_raw * 1000000L) div total").as("w_e6"),
            expr("(100000L * w_raw) div total").as("alloc_tokens"))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
             wv AS (SELECT doc_id,
               (CAST(('0x' || substr(md5('w:' || CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 1024 AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000 AS w
               FROM t),
             sm AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS logit FROM wv GROUP BY doc_id),
             dl AS (SELECT d.doc_id, d.source, COALESCE(sm.logit, 0) AS logit
               FROM documents d LEFT JOIN sm USING (doc_id)),
             per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(logit) AS BIGINT) AS sum_logit FROM dl GROUP BY 1),
             m AS (SELECT source, n_docs,
               (sum_logit // n_docs) * 1000000
                 + ((sum_logit % n_docs) * 1000000) // n_docs AS m_e6 FROM per),
             mn AS (SELECT min(m_e6) AS min_e6 FROM m),
             w AS (SELECT source, n_docs, m_e6,
               m_e6 - min_e6 + 1000000 AS w_raw FROM m, mn),
             tt AS (SELECT CAST(sum(w_raw) AS BIGINT) AS total FROM w)
           SELECT source, n_docs, m_e6,
             (w_raw * 1000000) // total AS w_e6,
             (100000 * w_raw) // total AS alloc_tokens
           FROM w, tt ORDER BY source""")),

    // Leakage-safe TEMPORAL split with an embargo gap — the split a
    // time-series / recommendation training set needs where sp1's
    // hash split would leak: train strictly before t1, test strictly
    // from t2, and the [t1, t2) embargo absorbs any feature window
    // that straddles the boundary (a model reading k-day history at
    // test time never sees train-future rows). The report carries the
    // integrity bounds (last train ts, first test ts) so the gap is
    // ASSERTED by the output itself, plus per-split user reach —
    // purely map-side tagging + one 3-row aggregate; at 100 TB the
    // tag rides the events scan and the date predicates partition-
    // prune a date-partitioned layout.
    Q("sp13_temporal_split",
      (s, d) => Tables.load(s, d, "events")
        .withColumn("split",
          when(col("ts") < lit("2024-01-20"), "train")
            .when(col("ts") < lit("2024-01-22"), "embargo")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("ts")).cast("timestamp_ntz").as("first_ts"),
          max(col("ts")).cast("timestamp_ntz").as("last_ts"))
        .orderBy("split"),
      Some("""SELECT CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 'train'
                  WHEN ts < TIMESTAMP '2024-01-22' THEN 'embargo'
                  ELSE 'test' END AS split,
             count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             min(ts) AS first_ts, max(ts) AS last_ts
             FROM events GROUP BY 1 ORDER BY 1""")),

    // Budget WATERFILLING — the closed-form single-pass allocation the
    // mixture arithmetic of real pretraining runs needs: a global
    // token budget (¾ of the corpus here) split across sources in
    // proportion to externally-supplied mix weights, CAPPED by each
    // source's availability, the surplus of capped sources
    // redistributed to the rest. Classic water-filling: sort by
    // cap/weight (the e6 fixed-point key — deterministic and
    // engine-identical; exact-rational order would need pairwise
    // cross-mults), saturate a prefix, spread the remainder
    // proportionally. The saturation test is an EXACT DECIMAL(38)
    // cross-multiplication (cap·W_rest ≤ R_rest·w — no division), the
    // proportional share uses sp12's div/mod decomposition, and a
    // running min makes the prefix rule deterministic even if the
    // fixed-point key mis-orders a near-tie. Corpus-scale work is the
    // per-source token count; the waterfill itself is a sources-sized
    // single-partition window (bounded by construction — documented
    // WindowExec single-partition, ~10²-10³ rows at any corpus size).
    // Weights here are md5-derived 1..5 standing in for the external
    // mix preference.
    Q("sp14_budget_waterfill",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val per = Tables.load(s, d, "documents")
          .groupBy("source")
          .agg(expr("CAST(sum(size(filter(split(text, ' '), x -> x != ''))) AS BIGINT)")
            .as("cap"))
          .withColumn("w", expr(
            "CAST(conv(substring(md5(source), 1, 8), 16, 10) AS BIGINT) % 5 + 1"))
        val tot = per.agg(expr("(sum(cap) * 3) div 4").as("b"),
          sum("w").as("tw"))
        val wOrd = Window.orderBy(col("ratio_e6"), col("source"))
        val pre = per.crossJoin(broadcast(tot))
          .withColumn("ratio_e6",
            expr("(cap div w) * 1000000 + ((cap % w) * 1000000) div w"))
          .withColumn("pc", coalesce(sum("cap").over(
            wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("pw", coalesce(sum("w").over(
            wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("c0", expr(
            "CAST(cap AS DECIMAL(38,0)) * (tw - pw) <= CAST(b - pc AS DECIMAL(38,0)) * w"))
          .withColumn("saturated", min(when(col("c0"), 1).otherwise(0))
            .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)) === 1)
        val fin = pre.agg(
          (first(col("b")) - coalesce(sum(when(col("saturated"), col("cap"))), lit(0L)))
            .as("rstar"),
          coalesce(sum(when(!col("saturated"), col("w"))), lit(0L)).as("wstar"))
        pre.crossJoin(broadcast(fin))
          .select(col("source"), col("w"), col("cap"), col("saturated"),
            expr("""CASE WHEN saturated OR wstar = 0 THEN cap
                 ELSE (rstar div wstar) * w + ((rstar % wstar) * w) div wstar
                 END""").as("alloc"))
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source,
               CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT) % 5 + 1 AS w,
               CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS cap
               FROM documents GROUP BY source),
             tot AS (SELECT (CAST(sum(cap) AS BIGINT) * 3) // 4 AS b,
               CAST(sum(w) AS BIGINT) AS tw FROM per),
             srt AS (SELECT per.*, b, tw,
               (cap // w) * 1000000 + ((cap % w) * 1000000) // w AS ratio_e6,
               COALESCE(CAST(sum(cap) OVER (ORDER BY (cap // w) * 1000000 + ((cap % w) * 1000000) // w, source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pc,
               COALESCE(CAST(sum(w) OVER (ORDER BY (cap // w) * 1000000 + ((cap % w) * 1000000) // w, source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS pw
               FROM per, tot),
             cond AS (SELECT *,
               (CAST(cap AS DECIMAL(38,0)) * (tw - pw) <= CAST(b - pc AS DECIMAL(38,0)) * w) AS c0
               FROM srt),
             sat AS (SELECT *, CAST(min(CASE WHEN c0 THEN 1 ELSE 0 END)
                 OVER (ORDER BY ratio_e6, source) AS INTEGER) = 1 AS saturated
               FROM cond),
             fin AS (SELECT CAST(any_value(b) - COALESCE(sum(CASE WHEN saturated THEN cap END), 0) AS BIGINT) AS rstar,
               CAST(COALESCE(sum(CASE WHEN NOT saturated THEN w END), 0) AS BIGINT) AS wstar
               FROM sat)
           SELECT s.source, s.w, s.cap, s.saturated,
             CASE WHEN s.saturated OR f.wstar = 0 THEN s.cap
               ELSE (f.rstar // f.wstar) * s.w + ((f.rstar % f.wstar) * s.w) // f.wstar
               END AS alloc
           FROM sat s, fin f ORDER BY s.source""")),

    // Context-window SPANS from REAL token sequences — sp3 completed:
    // sp3 binned documents by a whitespace-count proxy; this packs by
    // each document's ACTUAL byte-level BPE length (the frozen t32
    // artifact via TextQueries' shared cache — the pipeline a trainer
    // runs: tokenize, then pack). Per shard, documents concatenate in
    // doc_id order; a document occupies global token positions
    // [offset, offset + n) and therefore TOUCHES windows
    // [offset div W, (offset + n - 1) div W] of the fixed W = 2048 —
    // the split map a packed-shard writer needs (n_windows > 1 ⟺ the
    // document straddles a boundary and is split). Zero-token docs
    // touch no window (n_windows = 0; first/last pinned at the offset
    // window for determinism). Exact integer arithmetic end to end;
    // one window-function pass per shard — at 100 TB the shard count
    // scales and each shard's running sum is the standard prefix-sum
    // shuffle.
    Q("sp15_token_window_spans",
      (s, d) => {
        val W = 2048L
        val counts = graft.operators.BpeTrainer.docTokenCounts(
          Tables.load(s, d, "documents"),
          TextQueries.frozenByteMerges(s, d), TextQueries.BpePat,
          byteLevel = true)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        counts
          .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
            col("n_tokens"))
          .withColumn("offset", coalesce(sum("n_tokens").over(w), lit(0L)))
          .select(col("doc_id"), col("shard"), col("n_tokens"), col("offset"),
            expr(s"`offset` div $W").as("first_window"),
            when(col("n_tokens") > 0,
                expr(s"(`offset` + n_tokens - 1) div $W"))
              .otherwise(expr(s"`offset` div $W")).as("last_window"))
          .withColumn("n_windows",
            when(col("n_tokens") > 0,
              col("last_window") - col("first_window") + 1).otherwise(lit(0L)))
          .orderBy("doc_id")
      },
      Some({
        s"""${graft.operators.BpeTrainer.docSeqCtes(
            TextQueries.BpePat, TextQueries.BpeK, byteLevel = true)},
             sh AS (SELECT doc_id, n_tokens, doc_id % 8 AS shard,
               COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY doc_id % 8
                 ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING) AS BIGINT), 0) AS o
               FROM dn)
           SELECT doc_id, shard, n_tokens, o AS "offset",
             o // 2048 AS first_window,
             CASE WHEN n_tokens > 0 THEN (o + n_tokens - 1) // 2048
               ELSE o // 2048 END AS last_window,
             CASE WHEN n_tokens > 0 THEN
               (CASE WHEN n_tokens > 0 THEN (o + n_tokens - 1) // 2048
                 ELSE o // 2048 END) - o // 2048 + 1
               ELSE 0 END AS n_windows
           FROM sh ORDER BY doc_id"""
      })),

    // The packed windows MATERIALIZED — sp15 reported which windows
    // each document touches; this emits what a pretraining dataloader
    // actually reads: per (shard, window_id) of fixed W = 2048, the
    // ordered token-id sequence (t35's `docTokenIds` sliced at the
    // window boundaries and re-concatenated in position order), the
    // document-boundary map (doc_id:start:len triples — the offsets a
    // loader needs to mask cross-document attention), and the
    // per-window fill (the padding-waste metric; every window is
    // exactly full except each shard's last). Token positions come
    // from the SAME shard/prefix-sum arithmetic as sp15 over the SAME
    // frozen merges as t34/t35, so the four entries cannot disagree on
    // what a document weighs or where it lands; a straddling
    // document's tokens split losslessly across its windows
    // (SamplingSpec re-concatenates a planted straddler). Exact
    // integer arithmetic end to end; sequences pinned by md5 of the
    // '|'-joined ids (the t19 discipline). Scale: one prefix-sum
    // window per shard (shard count grows with the corpus), the
    // explode adds one row per boundary straddle (≤ total_tokens/W
    // extra rows), and the (shard, window) group-by is one
    // evenly-keyed shuffle of W-bounded groups — no state ever exceeds
    // one window.
    Q("sp16_packed_windows",
      (s, d) => graft.operators.ContextPacking.packedWindows(
          ServingCache.parquetDf(s, TextQueries.tokenIdsStoreDir(s, d)), WindowW)
        .select(col("shard"), col("window_id"), col("n_docs"),
          col("n_tokens"), col("fill_e6"),
          md5(concat_ws("|",
            transform(col("window_ids"), i => i.cast("string"))))
            .as("ids_md5"),
          md5(concat_ws("|", transform(col("bounds"), b =>
            concat_ws(":", b("doc_id").cast("string"),
              b("wstart").cast("string"), b("wlen").cast("string")))))
            .as("bounds_md5"))
        .orderBy("shard", "window_id"),
      Some(graft.operators.BpeTrainer.packedWindowsOracleSql(
        TextQueries.BpePat, TextQueries.BpeK, 2048L))),

    // The SHARD MANIFEST over sp16's windows — what a dataloader
    // coordinator reads before assigning ranks: per shard, window and
    // token totals, how many windows are exactly full (all but each
    // shard's tail, unless the total lands on a boundary), the exact
    // mean fill (the corpus-level padding-waste number training teams
    // budget), and the slice count (doc_slices − non-empty docs =
    // boundary straddles). One aggregate over the SAME window frame
    // sp16 hashes — the two entries cannot disagree on the packing.
    Q("sp17_shard_manifest",
      (s, d) => {
        val W = WindowW
        ServingCache.parquetDf(s, windowCensusStoreDir(s, d))
          .groupBy("shard")
          .agg(count(lit(1)).cast("bigint").as("n_windows"),
            sum("n_tokens").as("n_tokens"),
            sum(when(col("n_tokens") === W, 1L).otherwise(0L))
              .as("full_windows"),
            sum(col("n_docs").cast("bigint")).as("doc_slices"))
          .select(col("shard"), col("n_windows"), col("n_tokens"),
            col("full_windows"),
            expr(s"(n_tokens * 1000000) div (n_windows * $W)")
              .as("mean_fill_e6"),
            col("doc_slices"))
          .orderBy("shard")
      },
      Some(graft.operators.BpeTrainer.shardManifestOracleSql(
        TextQueries.BpePat, TextQueries.BpeK, 2048L))),

    // GREEDY whole-document packing — the NO-SPLIT alternative to
    // sp16 (zero cross-document contamination without attention
    // masking, paid for in padding): per shard in doc_id order, a
    // document goes entirely into the current window if it fits, else
    // opens a new one; oversize documents overflow alone. The window
    // assignment is a genuinely sequential fold (running fill with
    // data-dependent resets — no prefix sum expresses it), so the
    // Spark side is the documented per-shard mapPartitions fold
    // (parallelism = shard count, O(1) state) and the oracle replays
    // the SAME fold as a linear recursive CTE over the shared `dn`
    // counts — a hash match pins every document's window under both
    // execution models.
    Q("sp18_greedy_doc_packing",
      (s, d) => graft.operators.ContextPacking.packGreedyCounts(
          graft.operators.BpeTrainer.docTokenCounts(
            Tables.load(s, d, "documents"),
            TextQueries.frozenByteMerges(s, d), TextQueries.BpePat,
            byteLevel = true)
            .select("doc_id", "n_tokens"),
          2048L)
        .orderBy("doc_id"),
      Some(graft.operators.BpeTrainer.greedyPackOracleSql(
        TextQueries.BpePat, TextQueries.BpeK, 2048L))),

    // sp18's assignment MATERIALIZED as the dataloader artifact — the
    // no-split policy's sp16 (VERDICT r16 #2): per (shard, window_id),
    // the ordered token-id sequence (whole documents concatenated in
    // doc_id order — no boundary straddles, by the greedy rule), the
    // boundary map, and the fill (< 10⁶ wherever a window closed
    // early: the padding the no-split policy pays; > 10⁶ only on an
    // oversize document's lone window). Flows through the SAME
    // saveWindows/loadWindows store, manifest aggregate, and release
    // hash as sp16's split windows, so the packing policy is a knob,
    // not a fork. The oracle composes the sp18 recursive greedy fold
    // with the sp16 per-window hashing over the shared t35 id CTEs —
    // a hash match pins assignment, order, offsets, and sequences
    // under both execution models.
    Q("sp19_greedy_packed_windows",
      (s, d) => graft.operators.ContextPacking.packGreedyWindows(
          ServingCache.parquetDf(s, TextQueries.tokenIdsStoreDir(s, d)), WindowW)
        .select(col("shard"), col("window_id"), col("n_docs"),
          col("n_tokens"), col("fill_e6"),
          md5(concat_ws("|",
            transform(col("window_ids"), i => i.cast("string"))))
            .as("ids_md5"),
          md5(concat_ws("|", transform(col("bounds"), b =>
            concat_ws(":", b("doc_id").cast("string"),
              b("wstart").cast("string"), b("wlen").cast("string")))))
            .as("bounds_md5"))
        .orderBy("shard", "window_id"),
      Some(graft.operators.BpeTrainer.greedyWindowsOracleSql(
        TextQueries.BpePat, TextQueries.BpeK, 2048L))),

    // DETERMINISTIC EPOCH SHUFFLE — the dataloader's missing ordering
    // piece: each training epoch reads every shard's windows in a
    // DIFFERENT pseudorandom order, derived COORDINATION-FREE from a
    // hash of (epoch, shard, window_id) — any rank computes its own
    // shard's epoch-e order locally, no global shuffle state, no RNG
    // to checkpoint (the md5-priority idiom sp10's sampler pinned,
    // applied per epoch). Output: (epoch, shard, window_id, ord) for 3
    // epochs over sp16's window census. Scale: the permutation relation
    // is windows × epochs rows, the rank window is per-(epoch, shard)
    // (bounded groups), and the epoch axis is an EXPLODE — map-side,
    // no join. The oracle replays census, keys, and rank windows under
    // one hash: epoch orders are pinned values, not just "some
    // permutation".
    Q("sp20_epoch_shuffle",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("epoch", "shard")
          .orderBy(col("ekey"), col("window_id"))
        ServingCache.parquetDf(s, windowCensusStoreDir(s, d))
          .select(col("shard"), col("window_id"))
          .withColumn("epoch", explode(sequence(lit(0L), lit(2L))))
          .withColumn("ekey", md5(concat_ws(":", lit("ep"),
            col("epoch").cast("string"), col("shard").cast("string"),
            col("window_id").cast("string"))))
          .withColumn("ord", row_number().over(w).cast("int"))
          .select("epoch", "shard", "window_id", "ord")
          .orderBy("epoch", "shard", "ord")
      },
      Some(s"""${graft.operators.BpeTrainer.packedWindowCtes(
          TextQueries.BpePat, TextQueries.BpeK, 2048L)},
             ep AS (SELECT unnest(range(0, 3)) AS epoch),
             sw AS (SELECT ep.epoch, wa.shard, wa.window_id,
               md5('ep:' || CAST(ep.epoch AS VARCHAR) || ':' ||
                 CAST(wa.shard AS VARCHAR) || ':' ||
                 CAST(wa.window_id AS VARCHAR)) AS ekey
               FROM wa, ep),
             so AS (SELECT epoch, shard, window_id,
               CAST(row_number() OVER (PARTITION BY epoch, shard
                 ORDER BY ekey, window_id) AS INTEGER) AS ord
               FROM sw)
           SELECT epoch, shard, window_id, ord
           FROM so ORDER BY epoch, shard, ord"""))
  )
}
