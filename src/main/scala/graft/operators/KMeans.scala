package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed fixed-point k-means over the embedding column — Lloyd's
  * algorithm re-expressed so every step is exact integer arithmetic and
  * therefore (a) independent of partitioning / aggregation order and
  * (b) bit-replayable in the DuckDB oracle as K unrolled CTE rounds
  * (the `PageRank` / `BpeTrainer` fixed-iteration discipline).
  *
  * Vectors are first quantized to e6 fixed point (`floor(x·10⁶)` per
  * dimension — float→double is exact, one IEEE multiply, one floor:
  * identical in any IEEE engine). From then on:
  *
  *  - assignment: argmin over k centroids of the integer squared L2
  *    distance, computed per row against an INLINED centroid literal
  *    (the centroids are k·dims longs — driver-held between rounds, the
  *    fixed-size-model-state idiom of `QualityModel`): a pure map-side
  *    codegen'd expression, NO join and NO shuffle; ties break to the
  *    smaller cluster id via lexicographic `array_min` on
  *    (dist2, cluster) structs.
  *  - update: one `groupBy(cluster)` with per-dimension BIGINT sums +
  *    a count — a k-row shuffle with map-side partial aggregation; the
  *    k result rows come to the driver (bounded by k — the documented
  *    bounded-collect contract) and the new centroid is `sum / n` in
  *    Long division (truncates toward zero, matching DuckDB `//`).
  *    A cluster that loses all members keeps its previous centroid.
  *
  * Per round the corpus is scanned once (quantized input is
  * `localCheckpoint`ed first) and the only exchange is the k-row
  * partial agg — this IS the distributed fit the single-task
  * `IvfIndex` fit (bounded by its maxTrainRows sampling contract)
  * deliberately is not: state never exceeds k·dims longs on any node,
  * so the same loop runs unchanged on a 1000-executor 100 TB corpus.
  *
  * Seeding: the k rows with the smallest (md5(vec_id), vec_id) — the
  * repo-wide deterministic-sampling idiom (`SplitAssign`), replayable
  * verbatim in DuckDB.
  *
  * Overflow headroom (BIGINT, documented like e15/e16): with |x| ≤ 8
  * the quantized components are ≤ 8·10⁶, so a per-dimension update sum
  * stays exact through ~10¹¹ members per cluster and a per-row dist2
  * through any dims ≤ 10⁴; the summary's wcss = Σ dist2 is accumulated
  * in DECIMAL(38,0) (`wcssExact` — exact to ~10²² vectors at
  * dims = 64) and narrowed back to BIGINT behind a fail-loud range
  * check, so a corpus whose sum no longer fits 2⁶³ errors instead of
  * silently wrapping while DuckDB widens to HUGEINT.
  */
object KMeans {

  /** e6 fixed-point quantization of the float embedding. */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000) as bigint))")
        .as("qv"))

  private def distStruct(cent: Array[Long], cluster: Int): Column = {
    val arr = cent.mkString("array(", "L, ", "L)")
    struct(
      expr(s"aggregate(zip_with(qv, $arr, (a, b) -> (a - b) * (a - b)), " +
        "cast(0 as bigint), (acc, x) -> acc + x)").as("dist2"),
      lit(cluster).cast("int").as("cluster"))
  }

  /** Largest k the UNROLLED-LITERAL assignment uses before `withBest`
    * dispatches to the packed path: the unrolled plan builds k
    * separate argmin candidate expressions over k array literals
    * (k·dims literal AST nodes), so plan construction, analysis, and
    * serialization all grow linearly with k — perfect at IVF-probe
    * scale (k ≤ ~64) and pathological at the nlist a 100 TB IVF wants
    * (~10⁵ cells). The packed path is bit-identical (KMeansJoinSpec
    * proves it on the same corpus and on planted ties), so the
    * dispatch is purely physical.
    */
  val MaxLiteralK = 64

  /** All centroids as ONE nested-array value — a single `typedlit`
    * Literal node whose payload is k·dims longs of ArrayData, NOT
    * k·dims AST nodes: the plan stays flat in k while the payload
    * ships with the task binary exactly once per executor.
    */
  def centroidsLit(cents: Seq[Array[Long]]): Column =
    typedlit(cents.map(_.toSeq))

  /** PACKED map-side argmin — the large-k twin of the unrolled
    * literal, and still ZERO join / ZERO shuffle: `transform` walks
    * the single nested-array centroid literal with its index, prices
    * the SAME `zip_with` integer distance per cell, and `array_min`
    * picks the lexicographic (dist2, cluster) minimum — ties to the
    * smaller cluster id, exactly the unrolled form's convention. The
    * 100 TB shape: per-row work is the unavoidable O(k·dims) of a flat
    * assignment (a 10⁵-cell IVF wants the coarse/fine hierarchy to cut
    * THAT — see IvfPq), but plan size, compile time, and shuffle
    * volume are all flat in k (measured at k = 8 → 4096 by the
    * one-off `KMeansLargeKProbe`, since deleted; it is in git history).
    */
  def assignPackedFull(q: DataFrame, cents: Seq[Array[Long]]): DataFrame = {
    val best = array_min(transform(centroidsLit(cents), (cv, i) =>
      struct(
        aggregate(zip_with(col("qv"), cv, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist2"),
        i.cast("int").as("cluster"))))
    bestBarrier(q, best)
  }

  /** Emit the argmin struct through a one-row `inline` generator so
    * `cluster`/`dist2` become ATTRIBUTES of a Generate node rather
    * than fields extracted from the argmin expression: Catalyst's
    * CollapseProject inlines a projected expression into EVERY
    * downstream consumer, so without the barrier the O(k·dims) argmin
    * re-evaluates once per field AND once per composed consumer (the
    * IVF-PQ encode referenced it ~6× per row — the residual and each
    * code argmin — measured 6-10 s vs sub-second at nlist = 256,
    * N26 decomposition). A generator's input is evaluated exactly once
    * per row, stays map-side (one-element array → one output row), and
    * projections do not collapse across it. Values are bit-identical;
    * only the evaluation count changes.
    */
  private def bestBarrier(q: DataFrame,
      best: org.apache.spark.sql.Column): DataFrame =
    q.select(col("vec_id"), col("qv"), inline(array(best)))
      .select(col("vec_id"), col("qv"), col("cluster"), col("dist2"))

  /** Driver-held centroids as a broadcast-able relation
    * (cluster INT, cv ARRAY<BIGINT>) — the join-path face for callers
    * whose centroids already live in a DataFrame.
    */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[Array[Long]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cluster", "cv")
  }

  /** Broadcast-JOIN argmin assignment — (vec_id, cluster, dist2),
    * bit-identical to the other two paths: the corpus joins the
    * broadcast centroid relation (no shuffle on the corpus), each
    * candidate row prices the SAME `zip_with` integer distance, and
    * the per-vector argmin is `min` over the (dist2, cluster) struct —
    * lexicographic, ties to the smaller cluster id.
    *
    * Use `assignPackedFull` by default: a struct-valued `min` is not
    * hash-aggregable, so this form pays a per-partition sort of the
    * k-way candidate expansion (narrow 3-primitive rows — qv is
    * deliberately NOT carried through it) plus one corpus-keyed
    * exchange. It exists for centroids that already live in a
    * DataFrame too large to collect — at which point the flat argmin
    * is the wrong algorithm anyway and the coarse/fine hierarchy
    * (IvfPq) should bound the candidate cells first.
    */
  def assignJoin(q: DataFrame, centsDf: DataFrame): DataFrame =
    q.select(col("vec_id"), col("qv")).join(broadcast(centsDf))
      .select(col("vec_id"),
        struct(
          expr("aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), " +
            "cast(0 as bigint), (acc, x) -> acc + x)").as("dist2"),
          col("cluster")).as("cand"))
      .groupBy("vec_id")
      .agg(min("cand").as("best"))
      .select(col("vec_id"),
        col("best.cluster").as("cluster"), col("best.dist2").as("dist2"))

  /** (vec_id, qv, cluster, dist2) — argmin against driver-held
    * centroids; unrolled-literal at k ≤ MaxLiteralK, packed
    * single-literal above (both map-side, no shuffle). `packed`
    * forces a path (specs pin bit-identity).
    */
  private def withBest(q: DataFrame, cents: Seq[Array[Long]],
      packed: Option[Boolean] = None): DataFrame =
    if (packed.getOrElse(cents.length > MaxLiteralK))
      assignPackedFull(q, cents)
    else
      bestBarrier(q, array_min(array(
        cents.zipWithIndex.map { case (c, i) => distStruct(c, i) }: _*)))

  /** Argmin assignment: (vec_id, cluster, dist2). Physical path picked
    * by k (see `MaxLiteralK`); `packed` forces one.
    */
  def assign(q: DataFrame, cents: Seq[Array[Long]],
      packed: Option[Boolean] = None): DataFrame =
    withBest(q, cents, packed).drop("qv")

  /** `assign` with the quantized vector retained — (vec_id, qv,
    * cluster, dist2); the entry point residual quantizers (`IvfPq`)
    * need to subtract the assigned centroid from.
    */
  def assignFull(q: DataFrame, cents: Seq[Array[Long]],
      packed: Option[Boolean] = None): DataFrame =
    withBest(q, cents, packed)

  /** `iters` Lloyd rounds from the md5 seeding; returns the final
    * centroids (cluster index = position). `dims` is asserted against
    * the data (fail loud, not silently wrong distances).
    */
  def fit(emb: DataFrame, k: Int, iters: Int, dims: Int = 64,
      packed: Option[Boolean] = None): Seq[Array[Long]] =
    fitQ(quantized(emb).localCheckpoint(), k, iters, dims, packed)

  /** The same fit over an already-quantized `(vec_id, qv)` relation —
    * the entry point `PqIndex` uses to fit one codebook per subspace
    * slice without re-quantizing the corpus per subspace. Callers
    * should `localCheckpoint` the input once (as `fit` does) so the
    * per-round scans don't recompute the lineage.
    *
    * `maxTrainRows > 0` bounds the FIT to a deterministic sample (the
    * `IvfIndex.fitAssign(maxTrainRows)` discipline, VERDICT r19 #6):
    * the Lloyd rounds scan only the `maxTrainRows` smallest
    * (md5(vec_id), vec_id) rows — the same ordering the seeds already
    * use, so the seeds are the sample's own prefix and a sample at
    * least as large as the corpus is EXACTLY the unsampled fit (the
    * hash-compat property the oracle replay relies on: one static SQL
    * with a `qt` prefix CTE degenerates to the full chain wherever
    * n ≤ maxTrainRows). Fit cost becomes bounded by the sample, never
    * by the corpus — the final assignment of all vectors stays with
    * the caller (`assignFull`/`encodeQ`), which is linear once, not
    * per round.
    */
  def fitQ(q: DataFrame, k: Int, iters: Int, dims: Int,
      packed: Option[Boolean] = None,
      maxTrainRows: Long = 0L): Seq[Array[Long]] = {
    require(maxTrainRows == 0L || maxTrainRows >= k,
      s"maxTrainRows=$maxTrainRows cannot seed k=$k clusters")
    val qt = if (maxTrainRows > 0L)
      q.withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy(col("h"), col("vec_id"))
        .limit(maxTrainRows.min(Int.MaxValue.toLong).toInt)
        .select("vec_id", "qv")
        .localCheckpoint()
    else q
    val seedRows = qt
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .select("qv")
      .collect()
    var cents: Seq[Array[Long]] =
      seedRows.map(_.getSeq[Long](0).toArray).toSeq
    require(cents.nonEmpty && cents.head.length == dims,
      s"expected $dims-dim embeddings, got ${cents.headOption.map(_.length)}")
    for (_ <- 1 to iters) {
      val sums = (0 until dims).map(d =>
        sum(element_at(col("qv"), d + 1)).as(s"s$d"))
      val rows = withBest(qt, cents, packed)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      val next = cents.map(_.clone).toArray
      rows.foreach { r =>
        val c = r.getAs[Int]("cluster")
        val n = r.getAs[Long]("n")
        next(c) = Array.tabulate(dims)(d => r.getAs[Long](s"s$d") / n)
      }
      cents = next.toSeq
    }
    cents
  }

  /** fit + final assignment in one call. */
  def fitAssign(emb: DataFrame, k: Int, iters: Int, dims: Int = 64): DataFrame =
    assign(quantized(emb), fit(emb, k, iters, dims))

  /** Exact wcss = Σ dist2 with a fail-loud narrowing: a plain BIGINT
    * `sum(dist2)` wraps silently in Spark past ~5·10⁵ vectors at
    * dims = 64 (the scaladoc bound) while DuckDB widens to HUGEINT —
    * a silent cross-engine divergence. Accumulate in DECIMAL(38,0)
    * (exact to 38 digits — ~10²² vectors at dims = 64) and error on
    * the first corpus whose sum no longer fits the declared BIGINT
    * output, mirroring DuckDB's own overflow-raising HUGEINT→BIGINT
    * cast on the oracle side.
    */
  def wcssExact: Column = {
    val dec = sum(col("dist2").cast("decimal(38,0)"))
    when(dec.between(lit(Long.MinValue), lit(Long.MaxValue)),
        dec.cast("long"))
      .otherwise(raise_error(concat(
        lit("wcss overflows BIGINT (exact decimal sum = "),
        dec.cast("string"),
        lit("); report per-cluster mean dist2 at this scale"))))
  }

  /** Per-cluster report over the final assignment: member count, within-
    * cluster sum of squares, and the exact centroid norm² — every
    * cluster reports (an emptied cluster keeps its centroid, n = 0).
    */
  def summary(emb: DataFrame, k: Int, iters: Int, dims: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = fit(emb, k, iters, dims)
    val agg = assign(quantized(emb), cents)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), wcssExact.as("wcss"))
    val norms = cents.zipWithIndex
      .map { case (c, i) => (i, c.map(v => v * v).sum) }
      .toDF("cluster", "cent_norm2")
    norms.join(agg, Seq("cluster"), "left")
      .select(col("cluster"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("wcss"), lit(0L)).as("wcss"),
        col("cent_norm2"))
      .orderBy("cluster")
  }

  // ---------------------------------------------------------------- oracle

  /** The shared DuckDB CTE chain: quantization, the per-dimension
    * explode, md5 seeding, then per round the distance join, the argmin
    * assignment, and the coalescing centroid update — the Spark loop
    * unrolled arithmetic-for-arithmetic. MATERIALIZED for the same
    * reason as `BpeTrainer.chainSql`: each round references its
    * predecessor more than once.
    *
    * `qSrc` overrides the quantized-source CTE body (default: the e6
    * quantization of the `embeddings` table) so the same fit/search
    * replay runs over ANY (vec_id, qv) relation — e.g. the b13 oracle
    * feeds the token-table document vectors through the identical
    * chain. The override must SELECT (vec_id, qv) with qv a BIGINT
    * list of exactly `dims` elements.
    *
    * `kLimitExpr` overrides the literal seed-count LIMIT with a scalar
    * SQL expression (e.g. `(SELECT nlist FROM geo)`) — the hook that
    * lets ONE static oracle string replay a SCALE-DERIVED k
    * (`SimilarityOps.deriveNlist`) at every SF: k appears in the chain
    * only as the seeds cutoff, so a dynamic LIMIT is the whole change.
    *
    * `trainLimitExpr` replays `fitQ(maxTrainRows)`'s bounded-sample
    * fit (VERDICT r19 #6): the Lloyd rounds scan `evt` — the per-dim
    * rows of the `trainLimitExpr` smallest (md5(vec_id), vec_id)
    * vectors — while the FINAL assignment (`asgF`) stays over the full
    * `ev`, exactly as the Spark fit trains on the sample and assigns
    * everything. The sample prefix shares the seeds' ordering, so
    * wherever the corpus fits inside the bound the chain degenerates
    * to the unsampled one (same hash — the driver-SF compatibility
    * property).
    */
  def chainSql(k: Int, iters: Int, dims: Int, qSrc: String = "",
      kLimitExpr: String = "", trainLimitExpr: String = ""): String = {
    val kLimit = if (kLimitExpr.nonEmpty) kLimitExpr else k.toString
    // fitsmp/evfit: collision-free vs every proven namespace (the BM25
    // score chain already owns `qt`)
    val evFit = if (trainLimitExpr.nonEmpty) "evfit" else "ev"
    val trainCtes = if (trainLimitExpr.isEmpty) ""
      else s"""fitsmp AS MATERIALIZED (SELECT vec_id FROM q
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $trainLimitExpr),
         evfit AS MATERIALIZED (SELECT e.vec_id, e.d, e.v
           FROM ev e JOIN fitsmp USING (vec_id)),
         """
    val rounds = (1 to iters).map { t =>
      val p = t - 1
      s"""dist$t AS MATERIALIZED (SELECT e.vec_id, c.cluster,
             CAST(sum((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS dist2
             FROM $evFit e JOIN ct$p c USING (d) GROUP BY 1, 2),
           asg$t AS MATERIALIZED (SELECT vec_id, cluster FROM (
             SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
             FROM dist$t) WHERE rn = 1),
           ct$t AS MATERIALIZED (SELECT p.cluster, p.d,
             COALESCE(CAST(u.s AS BIGINT) // u.n, p.c) AS c
             FROM ct$p p LEFT JOIN (
               SELECT a.cluster, e.d, sum(e.v) AS s, CAST(count(*) AS BIGINT) AS n
               FROM asg$t a JOIN $evFit e USING (vec_id) GROUP BY 1, 2) u
             ON u.cluster = p.cluster AND u.d = p.d)"""
    }.mkString(",\n           ")
    val f = iters + 1
    val qBody = if (qSrc.nonEmpty) qSrc
      else """SELECT vec_id,
           list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
           FROM embeddings"""
    s"""q AS MATERIALIZED ($qBody),
         ev AS MATERIALIZED (SELECT vec_id, d, qv[d] AS v
           FROM q, (SELECT unnest(range(1, ${dims + 1})) AS d)),
         ${trainCtes}seeds AS MATERIALIZED (SELECT vec_id,
           CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS cluster
           FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $kLimit),
         ct0 AS MATERIALIZED (SELECT s.cluster, e.d, e.v AS c
           FROM seeds s JOIN ev e USING (vec_id)),
         $rounds,
         dist$f AS MATERIALIZED (SELECT e.vec_id, c.cluster,
           CAST(sum((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS dist2
           FROM ev e JOIN ct$iters c USING (d) GROUP BY 1, 2),
         asgF AS MATERIALIZED (SELECT vec_id, cluster, dist2 FROM (
           SELECT vec_id, cluster, dist2,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
           FROM dist$f) WHERE rn = 1)"""
  }

  /** DuckDB replay of `fitAssign`. */
  def assignOracleSql(k: Int, iters: Int, dims: Int): String =
    s"""WITH ${chainSql(k, iters, dims)}
       SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, dist2
       FROM asgF ORDER BY vec_id"""

  /** DuckDB replay of `summary`. */
  def summaryOracleSql(k: Int, iters: Int, dims: Int): String =
    s"""WITH ${chainSql(k, iters, dims)},
         g AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(dist2) AS BIGINT) AS wcss FROM asgF GROUP BY 1),
         nrm AS (SELECT cluster, CAST(sum(c * c) AS BIGINT) AS cent_norm2
           FROM ct$iters GROUP BY 1)
       SELECT nrm.cluster, COALESCE(g.n, 0) AS n, COALESCE(g.wcss, 0) AS wcss,
         nrm.cent_norm2
       FROM nrm LEFT JOIN g USING (cluster) ORDER BY nrm.cluster"""

  /** Cluster-balanced coreset selection: the `quota` smallest
    * (md5(vec_id), vec_id) members of every final cluster — the
    * semantic-diversity sampling step of cluster-then-sample corpus
    * curation (the SemDeDup / cluster-based selection family): a
    * k-means pass groups the corpus by content region, then a bounded
    * per-region quota keeps the sample from collapsing onto the densest
    * region. One window over the final assignment; determinism from the
    * md5 idiom, no RNG.
    */
  def coreset(emb: DataFrame, k: Int, iters: Int, quota: Int,
      dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster")
      .orderBy(col("h"), col("vec_id"))
    fitAssign(emb, k, iters, dims)
      .withColumn("h", md5(col("vec_id").cast("string")))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= quota)
      .select(col("vec_id"), col("cluster"), col("rn"))
      .orderBy("cluster", "rn")
  }

  /** DuckDB replay of `coreset`. */
  def coresetOracleSql(k: Int, iters: Int, quota: Int, dims: Int): String =
    s"""WITH ${chainSql(k, iters, dims)},
         r AS (SELECT vec_id, cluster,
           CAST(row_number() OVER (PARTITION BY cluster
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS rn
           FROM asgF)
       SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, rn
       FROM r WHERE rn <= $quota ORDER BY cluster, rn"""
}
