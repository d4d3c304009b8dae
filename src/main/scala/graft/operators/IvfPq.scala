package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts

/** IVF-PQ: the composed cell-pruned, codes-only ANN index (Jégou et
  * al. 2011 §V, the shape FAISS ships as `IndexIVFPQ`) — the 100 TB
  * vector-search workhorse this library's two halves were built for:
  *
  *  - the COARSE quantizer is the distributed fixed-point `KMeans`
  *    (n13): every vector belongs to one of `nlist` cells, and search
  *    probes only the `nprobe` cells nearest the query — the
  *    partition-pruning lever (`IvfIndex`'s contract, but with the
  *    integer-replayable fit);
  *  - WITHIN each cell, vectors store as PQ codes of their RESIDUAL
  *    (vector − assigned centroid): residuals concentrate near zero,
  *    so the same codebook budget quantizes them far tighter than raw
  *    vectors — the reason IVF-PQ beats flat PQ at equal bytes;
  *  - search prices candidates by ADC against per-(query, cell)
  *    residual lookup tables — floats are never touched after encode.
  *
  * Everything stays in the `KMeans`/`PqIndex` exact-integer regime, so
  * the DuckDB oracle replays the coarse fit, the residual computation,
  * all m residual-codebook fits, the encoding, the probe selection,
  * and the ADC ranking — a hash match pins the entire index build and
  * search trajectory.
  *
  * Overflow headroom: residual components are bounded by 2× the
  * quantized range (|qv − cent| ≤ 2·8·10⁶ with the `KMeans` |x| ≤ 8
  * contract), so a subspace ADC term ≤ sub·(2·1.6·10⁷)² ≈ 1.6·10¹⁶ at
  * sub = 16 and the m-term sum ≤ ~6.5·10¹⁶ — two orders under BIGINT,
  * exact in both engines (4× the flat-PQ bound in `PqIndex`).
  *
  * Scale shape: encode is map-side (inlined coarse centroids → one
  * `zip_with` subtraction → m inlined argmins; no join, no shuffle).
  * Search broadcasts a (queries · nprobe)-row LUT frame and INNER-joins
  * it on the cell id, so non-probed cells drop at the join — with the
  * codes table written `partitionBy(cell)` (the `IvfIndex.save`
  * layout) the probe set prunes at the FILE level too. The only
  * exchange is the final per-query top-k.
  */
object IvfPq {

  /** (vec_id, cell, qv = residual): coarse-assign and subtract the
    * assigned centroid — map-side against inlined literals. The
    * residual keeps the name `qv` so `PqIndex.encodeQ`/`fitQuantized`
    * consume it unchanged.
    */
  def residuals(q: DataFrame, cents: Seq[Array[Long]]): DataFrame =
    if (cents.length > KMeans.MaxLiteralK) {
      // large-nlist path: the assignment already came from the packed
      // argmin (`KMeans.MaxLiteralK` dispatch); the subtraction looks
      // the assigned centroid up in the SAME single nested-array
      // literal instead of a k·dims unrolled lookup — still map-side,
      // no join, and plan size flat in nlist (measured by the
      // since-deleted `KMeansLargeKProbe`, in git history)
      KMeans.assignFull(q, cents)
        .select(col("vec_id"), col("cluster").as("cell"),
          zip_with(col("qv"),
            element_at(KMeans.centroidsLit(cents), col("cluster") + 1),
            (a, b) => a - b).as("qv"))
    } else {
      val centsLit = cents
        .map(_.mkString("array(", "L, ", "L)"))
        .mkString("array(", ", ", ")")
      KMeans.assignFull(q, cents)
        .select(col("vec_id"), col("cluster").as("cell"),
          expr(s"zip_with(qv, element_at($centsLit, cluster + 1), (a, b) -> a - b)")
            .as("qv"))
    }

  /** Residual codebooks: `PqIndex.fitQuantized` over the residual
    * relation (checkpointed once — m·iters scans of it, the `PqIndex`
    * fit contract).
    */
  def fit(emb: DataFrame, cents: Seq[Array[Long]], m: Int, k: Int,
      iters: Int, dims: Int = 64): Seq[Seq[Array[Long]]] =
    PqIndex.fitQuantized(
      residuals(KMeans.quantized(emb), cents).localCheckpoint(),
      m, k, iters, dims)

  /** (vec_id, cell, c0..c{m-1}, err2): one map-side projection — coarse
    * argmin, residual subtraction, m code argmins, all inlined.
    */
  def encode(emb: DataFrame, cents: Seq[Array[Long]],
      books: Seq[Seq[Array[Long]]], dims: Int = 64): DataFrame =
    PqIndex.encodeQ(residuals(KMeans.quantized(emb), cents), books, dims,
      carry = Seq("cell"))

  /** Cell-pruned ADC top-k. `queries` are (query_id, qv) EXACT
    * quantized vectors, collected (bounded by the batch). Per query the
    * driver picks the `nprobe` nearest coarse cells (the KMeans argmin
    * order: dist2, then smaller cell id) and builds one residual LUT
    * per probed cell — (queries · nprobe) rows × (m · k) longs,
    * broadcast; the INNER join on `cell` prunes every non-probed cell's
    * candidates before any distance math.
    */
  def search(codes: DataFrame, queries: DataFrame,
      cents: Seq[Array[Long]], books: Seq[Seq[Array[Long]]],
      nprobe: Int, k: Int, dims: Int = 64,
      excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = codes.sparkSession
    val m = books.length
    val sub = dims / m
    val qRows = queries.select("query_id", "qv").collect()
    val lutRows = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Long](1).toArray
      val probed = cents.zipWithIndex.map { case (c, cell) =>
        var s = 0L
        var d = 0
        while (d < dims) { val diff = qv(d) - c(d); s += diff * diff; d += 1 }
        (s, cell)
      }.sorted.take(nprobe)
      probed.map { case (_, cell) =>
        val qres = Array.tabulate(dims)(d => qv(d) - cents(cell)(d))
        val luts = books.zipWithIndex.map { case (book, i) =>
          book.map { cw =>
            var s = 0L
            var d = 0
            while (d < sub) {
              val diff = qres(i * sub + d) - cw(d); s += diff * diff; d += 1
            }
            s
          }.toSeq
        }
        org.apache.spark.sql.Row.fromSeq(qid +: cell +: luts)
      }
    }
    val lutSchema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("p_cell",
          org.apache.spark.sql.types.IntegerType, nullable = false)) ++
        (0 until m).map(i => org.apache.spark.sql.types.StructField(
          s"lut$i", org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = false)))
    val lutDf = spark.createDataFrame(
      java.util.Arrays.asList(lutRows.toSeq: _*), lutSchema)
    val adist = (0 until m)
      .map(i => element_at(col(s"lut$i"), col(s"c$i") + 1))
      .reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist2"), col("neighbor_id"))
    val joined = codes.join(broadcast(lutDf), col("cell") === col("p_cell"))
    // external query ids (a serving stream) may collide with corpus
    // vec_ids — self-exclusion only makes sense for corpus-member
    // queries (the n20 entry shape)
    (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id"))
     else joined)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cell"), adist.as("adist2"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .orderBy("query_id", "rnk")
  }

  /** DataFrame-NATIVE cell-pruned ADC top-k — `search` with the
    * query-batch work moved off the driver (the `IvfIndex
    * .searchPrunedDf` contract at the codes tier): the query batch
    * stays a DataFrame end to end, so the serving plan's size is
    * independent of the batch size and a 10⁶-query scoring pass never
    * round-trips vectors through the driver.
    *
    * Executor-side replay of exactly `search`'s arithmetic, in-plan:
    *
    *  - PROBE SELECTION: the nlist coarse distances are priced per
    *    query against the single nested-array centroid literal
    *    (`KMeans.centroidsLit` — one Literal node, payload shipped
    *    once per executor), `array_sort` over (dist2, cell) structs
    *    reproduces the driver's (s, cell) ascending tie-break, and
    *    `slice(..., 1, nprobe)` keeps the probe set;
    *  - RESIDUAL LUTs: per (query, probed cell), each subspace's k
    *    ADC entries are `(qres − cw)²` sums against the nested-array
    *    codebook literal — pure integer arithmetic per row, the same
    *    BIGINT values the driver loop computes.
    *
    * The O(nlist·dims) sort-and-slice is emitted through an `inline`
    * generator (the `KMeans.bestBarrier` discipline) so it evaluates
    * once per query however many consumers reference the probe row;
    * the LUT frame — still (queries · nprobe) rows, batch-bounded —
    * is INNER-joined on the cell id exactly as in `search`, so
    * non-probed cells prune before any distance math (file-level with
    * the `partitionBy(cell)` layout). Values are bit-identical to
    * `search` (integer arithmetic, same orderings — IvfPqSpec pins it
    * and the n28 entry shares n20's oracle verbatim); only where the
    * LUTs are computed changes.
    *
    * LUT-join physical shape (ADVICE r17): the zero-collect property
    * holds at ANY batch size, but the default BROADCAST of the LUT
    * frame does not — each LUT row carries m arrays of k longs
    * (~m·k·8 bytes; 16 KB at m=8, k=256), so a 10⁶-query batch at
    * nprobe=32 is 3.2·10⁷ rows ≈ hundreds of GB, far past any
    * broadcast/driver limit. Broadcast is right for serving batches up
    * to ~10⁴ queries; ABOVE that pass `broadcastLuts = false` and the
    * join degrades gracefully to a shuffle join on `cell` — both sides
    * repartition by cell id (real nlist is ~10⁵ cells, so the shuffle
    * keys are well-spread), the plan stays flat in batch size, and the
    * values are unchanged (IvfPqSpec pins the two shapes equal). What
    * the shuffle shape GIVES UP is the file-level cell pruning: with
    * no broadcast there is no plan-time partition filter, so every
    * cell's codes are read and shuffled — acceptable exactly in the
    * huge-batch regime, where the union of 10⁶ queries' probe sets
    * approaches all cells anyway and the scan amortizes over the
    * batch; small batches should keep the default.
    */
  def searchDf(codes: DataFrame, queries: DataFrame,
      cents: Seq[Array[Long]], books: Seq[Seq[Array[Long]]],
      nprobe: Int, k: Int, dims: Int = 64,
      excludeSelf: Boolean = true,
      broadcastLuts: Boolean = true,
      scopeCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = books.length
    val sub = dims / m
    val centsL = KMeans.centroidsLit(cents)
    val booksL = typedlit(books.map(_.map(_.toSeq)))
    val keyCols = scopeCols :+ "query_id"
    // (dist2, cell) per cell → sorted ascending (struct comparison is
    // lexicographic: dist2, then the smaller cell id — the driver
    // loop's .sorted) → top nprobe → each probe carries its residual
    val probes = transform(
      slice(array_sort(transform(centsL, (cv, i) =>
        struct(
          aggregate(zip_with(col("qv"), cv, (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("dist2"),
          i.cast("int").as("p_cell")))), 1, nprobe),
      p => struct(p("p_cell").as("p_cell"),
        zip_with(col("qv"), element_at(centsL, p("p_cell") + 1),
          (a, b) => a - b).as("qres")))
    val probeRows = queries.select(
      scopeCols.map(col) ++ Seq(col("query_id"), inline(probes)): _*)
    val luts = (0 until m).map { i =>
      transform(element_at(booksL, i + 1), cw =>
        aggregate(zip_with(slice(col("qres"), i * sub + 1, sub), cw,
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)).as(s"lut$i")
    }
    val lutDf = probeRows.select(
      keyCols.map(col) ++ (col("p_cell") +: luts): _*)
    val adist = (0 until m)
      .map(i => element_at(col(s"lut$i"), col(s"c$i") + 1))
      .reduce(_ + _)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("adist2"), col("neighbor_id"))
    // scoped serving (VERDICT r19 #4): `scopeCols` name key columns
    // present on BOTH sides — the query's grant key and the codes rows
    // tagged with the grants covering them — and the LUT join adds
    // their equality below the cell match, so a candidate is never
    // priced for a scope that doesn't grant it (pre-filter semantics,
    // per scope, in ONE plan). The lut-side keys are renamed before the
    // join to keep the equality unambiguous.
    val lutRenamed = scopeCols.foldLeft(lutDf)(
      (d, c) => d.withColumnRenamed(c, s"_q_$c"))
    val lutSide = if (broadcastLuts) broadcast(lutRenamed) else lutRenamed
    val joinCond = scopeCols
      .map(c => col(c) === col(s"_q_$c"))
      .foldLeft(col("cell") === col("p_cell"))(_ && _)
    val joined = codes.join(lutSide, joinCond)
    (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id"))
     else joined)
      .select(scopeCols.map(col) ++ Seq(col("query_id"),
        col("vec_id").as("neighbor_id"),
        col("cell"), adist.as("adist2")): _*)
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .orderBy(keyCols.map(col) :+ col("rnk"): _*)
  }

  /** `searchRerank` with the stage-1 candidates from `searchDf` — the
    * fully DataFrame-native two-stage serving path (same exact-integer
    * re-rank tail, so it shares n23's oracle transitively).
    * `broadcastLuts` as in `searchDf` (huge batches pass false) — the
    * flag now reaches the TAIL too (ADVICE r18): with it false, the
    * candidate list and the query-vector batch join the vector store by
    * shuffle instead of broadcast, so the advertised ~10⁶-query regime
    * holds end to end, not just through stage 1 (values unchanged —
    * IvfPqSpec pins the two shapes equal).
    */
  def searchRerankDf(codes: DataFrame, vectors: DataFrame,
      queries: DataFrame, cents: Seq[Array[Long]],
      books: Seq[Seq[Array[Long]]], nprobe: Int, kCand: Int, k: Int,
      dims: Int = 64, excludeSelf: Boolean = true,
      broadcastLuts: Boolean = true,
      scopeCols: Seq[String] = Nil): DataFrame =
    rerankTail(vectors, queries,
      searchDf(codes, queries, cents, books, nprobe, kCand, dims,
        excludeSelf, broadcastLuts, scopeCols), k,
      broadcastCand = broadcastLuts, scopeCols = scopeCols)

  /** Two-stage search with an EXACT re-rank tail — the standard PQ
    * refinement recipe (Jégou et al. 2011 §V-C's re-ranking variant):
    * stage 1 prices a WIDE candidate set (`kCand` ≥ `k`) from codes
    * alone (`search` — cell-pruned ADC, floats never touched), stage 2
    * fetches ONLY those candidates' stored exact vectors and re-ranks
    * by the exact integer distance. Recall lost to code quantization
    * INSIDE the probed cells is recovered (IvfPqSpec plants the case
    * where ADC's top-1 is exact-wrong and the tail fixes it) at the
    * price of kCand·|queries| row fetches — never a corpus scan: the
    * candidate list (bounded, queries·kCand rows) broadcasts into the
    * vector store, so the store is touched by one semi-join-shaped
    * pruned read. `vectors` is the (vec_id, qv) exact quantized store
    * (at 100 TB: the on-disk vec_id-keyed table, of which only the
    * candidates' rows are read); everything stays in the exact-integer
    * regime, so the oracle replays the refinement verbatim.
    */
  def searchRerank(codes: DataFrame, vectors: DataFrame, queries: DataFrame,
      cents: Seq[Array[Long]], books: Seq[Seq[Array[Long]]],
      nprobe: Int, kCand: Int, k: Int, dims: Int = 64,
      excludeSelf: Boolean = true): DataFrame =
    rerankTail(vectors, queries,
      search(codes, queries, cents, books, nprobe, kCand, dims,
        excludeSelf), k)

  /** The shared exact-integer refinement tail: fetch only the
    * candidates' stored vectors (candidate-bounded join shape — never a
    * corpus scan) and re-rank by exact distance. `broadcastCand = true`
    * (the serving default) broadcasts the candidate list
    * (queries · kCand rows) and the query-vector batch so the store is
    * touched by one semi-join-shaped pruned read; `false` (the
    * huge-batch mode `searchRerankDf` threads from `broadcastLuts` —
    * ADVICE r18) degrades both joins to shuffles on
    * neighbor_id/query_id, since at ~10⁶ queries the candidate frame
    * itself is past any broadcast/driver limit. Values are identical —
    * only the physical join strategy changes.
    */
  private def rerankTail(vectors: DataFrame, queries: DataFrame,
      candidates: DataFrame, k: Int,
      broadcastCand: Boolean = true,
      scopeCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bc = if (broadcastCand) (df: DataFrame) => broadcast(df)
             else (df: DataFrame) => df
    val keyCols = scopeCols :+ "query_id"
    val cand = candidates
      .select(keyCols.map(col) ++ Seq(col("neighbor_id"), col("cell"),
        col("adist2")): _*)
    val qs = queries.select(
      keyCols.map(col) :+ col("qv").as("q_qv"): _*)
    val exact = vectors
      .select(col("vec_id").as("neighbor_id"), col("qv").as("n_qv"))
      .join(bc(cand), Seq("neighbor_id"))
      .join(bc(qs), keyCols)
      .select(keyCols.map(col) ++ Seq(col("neighbor_id"), col("cell"),
        col("adist2"),
        aggregate(zip_with(col("q_qv"), col("n_qv"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist2")): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("dist2"), col("neighbor_id"))
    exact.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .orderBy(keyCols.map(col) :+ col("rnk"): _*)
  }

  /** Compact a `PqStream.encodeIvf` output (one tiny partition per
    * micro-batch) into the CELL-partitioned serving layout `search`
    * prunes at the file level: drop the `_batch_id` ingestion key,
    * collapse at-least-once duplicates (encoding is deterministic, so
    * duplicate vec_ids carry identical rows), and rewrite
    * `partitionBy(cell)` — the stream→compact→serve lifecycle step
    * (the `Compaction.compactIvf` contract at the codes tier). Readers
    * of `servedDir` filtered on `cell` touch only the probed cells'
    * files; IvfPqStreamSpec asserts the pruned read.
    */
  def compactToCells(spark: SparkSession, streamDir: String,
      servedDir: String): Unit = {
    spark.read.parquet(streamDir)
      .drop("_batch_id")
      .dropDuplicates("vec_id")
      .write.mode("overwrite")
      .partitionBy("cell").parquet(servedDir)
  }

  /** Persist the COMPLETE serving artifact of a fitted IVF-PQ index —
    * what a serving tier loads so it never refits (the
    * `IvfIndex.saveQuantized` / `BpeTrainer.saveMerges` discipline at
    * the composed-index tier): the coarse centroids (`cents/`, nlist
    * rows), the m residual codebooks (`books/`, m·k rows), the encoded
    * codes laid out CELL-PARTITIONED (`codes/` — `compactToCells`'
    * serving layout, so probed cells prune at the file level), and the
    * exact quantized vector store the re-rank tail fetches from
    * (`vectors/`). The one-time fit cost (183 s at nlist = 256 over
    * the 10× corpus) is paid at save time, once, instead of per
    * serving session.
    */
  def save(emb: DataFrame, dir: String, cents: Seq[Array[Long]],
      books: Seq[Seq[Array[Long]]], dims: Int = 64): Unit =
    saveQ(KMeans.quantized(emb), dir, cents, books, dims)

  /** `save` from an already-quantized `(vec_id, qv)` relation — the
    * entry point `retrain` uses to rebuild an artifact from its OWN
    * vector store (quantization is exact integers, so a store
    * round-trip loses nothing and a refit from it equals a refit from
    * the raw corpus bit-for-bit — IvfPqArtifactSpec pins the equality).
    */
  def saveQ(q: DataFrame, dir: String, cents: Seq[Array[Long]],
      books: Seq[Seq[Array[Long]]], dims: Int = 64): Unit = {
    val spark = q.sparkSession
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/cents")
    books.zipWithIndex.flatMap { case (book, mi) =>
      book.zipWithIndex.map { case (cw, code) => (mi, code, cw.toSeq) } }
      .toDF("m", "code", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/books")
    PqIndex.encodeQ(residuals(q, cents), books, dims, carry = Seq("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    q.write.mode("overwrite").parquet(s"$dir/vectors")
    // Drift baseline for `appendToSaved`: the build corpus's mean
    // quantization error. err2 is ALREADY computed per row by encode —
    // the PQ tier gets the IvfIndex drift discipline for the price of
    // one column aggregate over the just-written codes.
    val base = spark.read.parquet(s"$dir/codes")
      .agg(count(lit(1)).as("n"),
        avg(col("err2").cast("double")).as("mean_err2"))
    base.coalesce(1).write.mode("overwrite").parquet(s"$dir/err_baseline")
  }

  /** Refit and ATOMICALLY republish a saved artifact from its own
    * vector store — the drift response `appendToSaved`'s flag calls
    * for, closing the lifecycle loop (save → serve → append → drift →
    * retrain) without ever needing the original corpus: the store
    * holds exact quantized vectors, so `KMeans.fitQ` + the residual
    * codebook fit reproduce what a from-scratch fit over the corpus
    * would produce, bit for bit. The swap is `Artifacts.publish`: the
    * full new artifact is built at a staging dir and renamed over the
    * live one. Serving sessions that loaded the OLD model keep
    * working (their model state is driver-held and their codes/vectors
    * frames bound the old files); new sessions load the new artifact.
    */
  def retrain(spark: SparkSession, dir: String, nlist: Int, m: Int,
      k: Int, coarseIters: Int, pqIters: Int, dims: Int = 64,
      maxTrainRows: Long = 0L): Unit = {
    // a prior retrain that crashed mid-swap leaves live stranded —
    // self-heal before reading, exactly as loadModel does (a bare
    // parquet-read failure here would force manual recovery of a
    // window the machinery already knows how to close)
    Artifacts.recoverRetired(spark, dir)
    val q = spark.read.parquet(s"$dir/vectors")
      .select("vec_id", "qv").localCheckpoint()
    val cents = KMeans.fitQ(q, nlist, coarseIters, dims,
      maxTrainRows = maxTrainRows)
    val books = PqIndex.fitQuantized(
      residuals(q, cents).localCheckpoint(), m, k, pqIters, dims,
      maxTrainRows = maxTrainRows)
    Artifacts.publish(spark, dir)(saveQ(q, _, cents, books, dims))
  }

  /** The measured recall@k of one `recallStatus` run: `recall` is the
    * mean per-query |served ∩ exact| / |exact top-k| over the
    * artifact's OWN vector store (the denominator is the exact list's
    * actual size, ≤ k — a store smaller than k serves a complete
    * top-k and scores 1.0); `flagged` = recall < the threshold the
    * caller gates releases on.
    */
  final case class RecallStatus(nQueries: Long, k: Int, nprobe: Int,
      recall: Double, flagged: Boolean)

  /** Release-gate default for `recallStatus`: a served top-k that
    * agrees with the exact top-k on fewer than 80% of its slots is a
    * retrain/re-knob signal. Same rationale as `DriftRetrainRatio`: a
    * false flag costs one rebuild decision, a miss costs silent
    * quality decay in every downstream consumer.
    */
  val RecallRetrainFloor = 0.8

  /** The RECALL face of the retrain loop (VERDICT r17 #3): err2 drift
    * (`appendToSaved`'s log) is a PROXY — it says the frozen codebooks
    * compress the moving distribution worse, not what that costs the
    * user. This face measures the cost directly, n30's comparison run
    * against the LOADED artifact: the two-stage served top-k
    * (`searchRerankDf` — cell-pruned ADC + exact re-rank, exactly the
    * serving path) vs the exact integer top-k over the artifact's own
    * vector store, for a caller-supplied query batch (the production
    * pattern: a held-out query sample, re-measured after appends).
    * Returns `flagged` like `IvfIndex.driftStatus` does; a flag's
    * response is `retrain` — typically with a larger `nlist`/`nprobe`,
    * since append-only growth under a frozen coarse quantizer is
    * exactly what starves probed cells (IvfPqArtifactSpec walks the
    * degrade → flag → retrain → clear loop).
    *
    * Cost: one served search (probed cells only) plus one exact pass
    * of the store against the BROADCAST query batch — the brute side
    * is the n1/n2 documented baseline shape, linear in store size per
    * batch, which is what makes this a sampled release gate, not a
    * per-query path. `log = true` appends the measurement to
    * `dir/recall_log` (an `Artifacts.appendToLog` series, read back via
    * `recallHistory`), so the gate keeps its series next to the
    * artifact it judges.
    */
  /** Exact integer top-k of `q` against the vector relation — the
    * brute-force reference both recall faces compare the served list
    * to. Linear in the store per batch (the query side broadcasts).
    */
  private def exactTopK(vectors: DataFrame, q: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exactBase = vectors
      .select(col("vec_id").as("neighbor_id"), col("qv").as("nqv"))
      .crossJoin(broadcast(q.select(col("query_id"), col("qv").as("qqv"))))
    (if (excludeSelf)
        exactBase.filter(col("neighbor_id") =!= col("query_id"))
      else exactBase)
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("qqv"), col("nqv"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist2"))
      .withColumn("rnk", row_number().over(Window
        .partitionBy("query_id").orderBy(col("dist2"), col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id")
  }

  /** (nq, mean recall) of a served list against the exact one.
    * Per-query denominator = the exact list's ACTUAL size (≤ k): a
    * store holding fewer than k vectors serves a complete top-k and
    * must score 1.0, not hits/k (review r18 — the gate would
    * otherwise permanently flag every small artifact).
    */
  private def measuredRecall(served: DataFrame,
      exact: DataFrame): org.apache.spark.sql.Row =
    exact
      .join(served.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
        count(lit(1)).as("denom"))
      .agg(count(lit(1)).as("nq"),
        avg(col("hits").cast("double") / col("denom")).as("recall"))
      .collect()(0)

  def recallStatus(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int, kCand: Int, dims: Int = 64,
      threshold: Double = RecallRetrainFloor,
      excludeSelf: Boolean = false, log: Boolean = false): RecallStatus = {
    import org.apache.spark.sql.expressions.Window
    val (cents, books) = loadModel(spark, dir)
    val codes = spark.read.parquet(s"$dir/codes")
    val vectors = spark.read.parquet(s"$dir/vectors")
    val q = queries.select("query_id", "qv").localCheckpoint()
    val served = searchRerankDf(codes, vectors, q, cents, books,
        nprobe, kCand, k, dims, excludeSelf)
      .select("query_id", "neighbor_id")
    val exact = exactTopK(vectors, q, k, excludeSelf)
    val row = measuredRecall(served, exact)
    val nq = row.getAs[Long]("nq")
    // an EMPTY query batch measures nothing — explicitly non-flagging
    // (ADVICE r18: recall 0.0 + flagged=true would read a degenerate
    // sample as a retrain signal and, with log=true, write a spurious
    // flagged row into the series); the log write is skipped below
    val recall = if (nq == 0) 0.0 else row.getAs[Double]("recall")
    val status = RecallStatus(nq, k, nprobe, recall,
      nq > 0 && recall < threshold)
    // Audit trail (`log = true` — the scheduled-gate pattern: measure
    // on a held-out sample after each append wave, keep the series next
    // to the artifact it judges). Single-writer like every
    // `Artifacts.appendToLog` series; `retrain`'s directory swap
    // retires the series with the model it measured.
    if (log && nq > 0) {
      import spark.implicits._
      Artifacts.appendToLog(Seq((nq, k, nprobe, recall, status.flagged))
        .toDF("n_queries", "k", "nprobe", "recall", "flagged"),
        s"$dir/recall_log")
    }
    status
  }

  /** `recallStatus` restricted to a consumer's grant (VERDICT r19 #7):
    * the b14/b15 serving tier runs under knobs gated on the UNSCOPED
    * artifact — correct, the knobs belong to the artifact — but a
    * narrow grant can see much worse EFFECTIVE recall than the global
    * gate reports: the probe set is chosen by query-centroid distance
    * over the whole artifact, so when a grant's docs live mostly in
    * cells the queries don't probe, few allowed candidates survive the
    * pre-filter and the consumer's true neighbors (exact top-k WITHIN
    * the grant — what a slice-built index would return) go unserved.
    * This face measures exactly that: served = the scoped serving path
    * (codes semi-joined to `allowed` BEFORE the LUT join, b14's
    * pre-filter semantics), exact = the brute top-k over the allowed
    * slice of the vector store. A governance-heavy deployment runs it
    * per grant to see what each consumer actually gets; a flag's
    * remediation is per-consumer policy (wider nprobe for scoped
    * queries, or a dedicated slice artifact) — it does NOT touch the
    * artifact's own gate state, so there is no log face here
    * (`recall_log` stays the artifact's series, not any one grant's).
    *
    * `allowed`: one `vec_id` column, the grant's id set.
    */
  def recallStatusScoped(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, nprobe: Int, kCand: Int,
      allowed: DataFrame, dims: Int = 64,
      threshold: Double = RecallRetrainFloor,
      excludeSelf: Boolean = false): RecallStatus = {
    val (cents, books) = loadModel(spark, dir)
    val ids = allowed.select("vec_id")
    val codes = spark.read.parquet(s"$dir/codes")
      .join(ids, Seq("vec_id"), "left_semi")
    val vectorsScoped = spark.read.parquet(s"$dir/vectors")
      .join(ids, Seq("vec_id"), "left_semi")
    val q = queries.select("query_id", "qv").localCheckpoint()
    val served = searchRerankDf(codes,
        spark.read.parquet(s"$dir/vectors"), q, cents, books,
        nprobe, kCand, k, dims, excludeSelf)
      .select("query_id", "neighbor_id")
    val exact = exactTopK(vectorsScoped, q, k, excludeSelf)
    val row = measuredRecall(served, exact)
    val nq = row.getAs[Long]("nq")
    val recall = if (nq == 0) 0.0 else row.getAs[Double]("recall")
    RecallStatus(nq, k, nprobe, recall, nq > 0 && recall < threshold)
  }

  /** The persisted recall series (`recallStatus(log = true)` rows,
    * seq-ordered) — None before the first logged measurement
    * (`Artifacts.readIfPresent`).
    */
  def recallHistory(spark: SparkSession,
      dir: String): Option[DataFrame] =
    Artifacts.readIfPresent(spark, s"$dir/recall_log").map(_.orderBy("seq"))

  /** The gate-chosen serving knobs of a saved artifact (VERDICT r18
    * #1): `kCand` is the smallest ladder value whose measured served
    * recall met the floor on the artifact's own query sample;
    * `meanRecallE6` is that measurement (exact integer — per-query
    * hits·10⁶ div denom, averaged by integer division, so the DuckDB
    * gate replays the SAME selection bit for bit).
    */
  final case class Knobs(nlist: Int, kCand: Int, nprobe: Int,
      sampleN: Long, meanRecallE6: Long)

  /** `RecallRetrainFloor` in the gate's exact-integer scale. */
  val RecallFloorE6 = 800000L

  /** Choose kCand FROM the recall gate (VERDICT r18 #1 — "the gate
    * should choose the knob, not just report it"): measure the
    * two-stage served recall@`topK` for each ladder width over a
    * deterministic corpus-member sample (the store's vec_id <
    * `sampleMax` rows — the n20 query shape, self excluded) and return
    * the smallest width whose mean recall meets `floorE6` (the largest
    * ladder value if none does — serve the best width you measured,
    * and let `recallStatus`' scheduled gate flag the artifact).
    *
    * Exact-integer contract (what makes the selection ORACLE-REPLAYABLE
    * rather than a pinned constant): per query recall_e6 =
    * hits·10⁶ div denom with denom = the exact list's actual size
    * (≤ topK — the small-store rule of `recallStatus`), and the mean is
    * sum div nq — `knobsGateCtes` emits the identical arithmetic (the
    * kCand-only gate was subsumed by the 2-D gate in r19), so a
    * static oracle string re-derives the chosen knob at every SF.
    *
    * One ADC pass at the widest ladder width feeds every rung: the
    * re-rank is exact, so rung c's served top-k is just the exact-
    * distance top-k among ADC rank ≤ c — computed by windowing the one
    * checkpointed candidate relation, not by re-searching per rung.
    * Cost: the sample's probed-cell ADC + one exact store pass against
    * the broadcast sample — the `recallStatus` sampled-gate shape.
    */
  def selectKCand(codes: DataFrame, vectors: DataFrame,
      cents: Seq[Array[Long]], books: Seq[Seq[Array[Long]]],
      nprobe: Int, topK: Int, ladder: Seq[Int], sampleMax: Long,
      dims: Int = 64, floorE6: Long = RecallFloorE6): Knobs = {
    val sample = gateSample(vectors, sampleMax)
    val qs = sample.select(col("query_id"), col("qv").as("q_qv"))
    selectKCandWith(codes, vectors, cents, books, nprobe, topK, ladder,
      sample, qs, gateExactTop(vectors, qs, topK), dims, floorE6)
  }

  /** The deterministic corpus-member gate sample (the store's
    * vec_id < sampleMax rows) — shared by every rung of the 2-D gate.
    */
  private def gateSample(vectors: DataFrame, sampleMax: Long): DataFrame =
    vectors.filter(col("vec_id") < sampleMax)
      .select(col("vec_id").as("query_id"), col("qv"))
      .localCheckpoint()

  /** The nprobe-INDEPENDENT exact ground-truth top-k over the
    * artifact's own store (one corpus pass against the broadcast
    * sample) — computed ONCE per gate run and shared by every nprobe
    * rung (ADVICE r19: each rung used to recompute this full
    * vectors-store cross pass; the DuckDB twin always shared one `gex`
    * baseline).
    */
  private def gateExactTop(vectors: DataFrame, qs: DataFrame,
      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vectors
      .select(col("vec_id").as("neighbor_id"), col("qv").as("n_qv"))
      .crossJoin(broadcast(qs))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("q_qv"), col("n_qv"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist2"))
      .withColumn("rnk", row_number().over(Window
        .partitionBy("query_id").orderBy(col("dist2"), col("neighbor_id"))))
      .filter(col("rnk") <= topK)
      .select("query_id", "neighbor_id")
      .localCheckpoint()
  }

  /** One nprobe rung of the gate under a SHARED sample and exact
    * baseline — `selectKCand`'s body with the rung-invariant inputs
    * hoisted out (ADVICE r19).
    */
  private def selectKCandWith(codes: DataFrame, vectors: DataFrame,
      cents: Seq[Array[Long]], books: Seq[Seq[Array[Long]]],
      nprobe: Int, topK: Int, ladder: Seq[Int], sample: DataFrame,
      qs: DataFrame, exact: DataFrame, dims: Int,
      floorE6: Long): Knobs = {
    import org.apache.spark.sql.expressions.Window
    require(ladder.nonEmpty && ladder == ladder.sorted.distinct,
      s"ladder must be ascending and duplicate-free: $ladder")
    // one ADC pass at the widest rung, candidates' exact distances
    // fetched candidate-bounded (the rerankTail shape)
    val adc = search(codes, sample, cents, books, nprobe,
        k = ladder.max, dims, excludeSelf = true)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").as("adc_rnk"))
    val cand = vectors
      .select(col("vec_id").as("neighbor_id"), col("qv").as("n_qv"))
      .join(broadcast(adc.join(broadcast(qs), Seq("query_id"))),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("adc_rnk"),
        aggregate(zip_with(col("q_qv"), col("n_qv"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist2"))
      .localCheckpoint()
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist2"), col("neighbor_id"))
    val means = ladder.map { c =>
      val served = cand.filter(col("adc_rnk") <= c)
        .withColumn("rr", row_number().over(w))
        .filter(col("rr") <= topK)
        .select("query_id", "neighbor_id")
      val row = exact
        .join(served.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"),
          count(lit(1)).as("denom"))
        .agg(coalesce(sum(expr("(hits * 1000000) div denom")), lit(0L))
            .as("se6"),
          count(lit(1)).as("nq"))
        .collect()(0)
      val nq = row.getAs[Long]("nq")
      (c, if (nq == 0) 0L else row.getAs[Long]("se6") / nq, nq)
    }
    val nq = means.head._3
    val chosen = means.find(_._2 >= floorE6).map(_._1)
      .getOrElse(ladder.max)
    Knobs(cents.length, chosen, nprobe, nq,
      means.find(_._1 == chosen).get._2)
  }

  /** The TWO-dimensional gate (r19 follow-through on VERDICT r18 #1):
    * when no kCand rung reaches the floor, widening the candidate set
    * further is the WRONG lever — the true neighbors are not in the
    * probed cells at all (the since-deleted `R19RecallProbe` measured
    * it: at 10× the m=4 code saturates at 0.76 under nprobe=4 and
    * recovers to 0.85 at nprobe=8). This face escalates nprobe through
    * its own ladder and
    * picks the FIRST (nprobe, kCand) in lexicographic ladder order
    * meeting the floor — the cheapest knob pair, since nprobe rungs
    * cost probed-cell reads on every future query while kCand rungs
    * cost only candidate fetches. Falls back to the widest pair, still
    * flagged by `recallStatus`' scheduled gate (the remaining response
    * is a retrain with finer codes — m=8 measured 0.91). The DuckDB
    * twin (`knobsGateCtes` → `nsel`/`ksel`) replays the identical
    * selection, so BOTH served knobs are re-derived per SF.
    */
  def selectKnobs(codes: DataFrame, vectors: DataFrame,
      cents: Seq[Array[Long]], books: Seq[Seq[Array[Long]]],
      nprobeLadder: Seq[Int], topK: Int, kCandLadder: Seq[Int],
      sampleMax: Long, dims: Int = 64,
      floorE6: Long = RecallFloorE6): Knobs = {
    require(nprobeLadder.nonEmpty && nprobeLadder == nprobeLadder.sorted.distinct,
      s"nprobe ladder must be ascending and duplicate-free: $nprobeLadder")
    // the sample and the exact ground-truth baseline are nprobe-
    // independent — computed once and shared across rungs; the ladder
    // walk is LAZY (ADVICE r19 / VERDICT r19 #5): a first rung that
    // meets the floor never pays the higher rungs' gate passes — which
    // is exactly the common case, at exactly the scale where a gate
    // pass (probed-cell ADC + one exact store pass) is most expensive
    val sample = gateSample(vectors, sampleMax)
    val qs = sample.select(col("query_id"), col("qv").as("q_qv"))
    val exact = gateExactTop(vectors, qs, topK)
    var last: Knobs = null
    nprobeLadder.iterator
      .map { np =>
        last = selectKCandWith(codes, vectors, cents, books, np, topK,
          kCandLadder, sample, qs, exact, dims, floorE6)
        last
      }
      .find(_.meanRecallE6 >= floorE6)
      .getOrElse(last)
  }

  /** `selectKnobs` over a saved artifact, persisting the chosen pair as
    * `dir/knobs` (the `selectKCandSaved` contract, both knobs).
    */
  def selectKnobsSaved(spark: SparkSession, dir: String,
      nprobeLadder: Seq[Int], topK: Int, kCandLadder: Seq[Int],
      sampleMax: Long, dims: Int = 64,
      floorE6: Long = RecallFloorE6): Knobs = {
    val (cents, books) = loadModel(spark, dir)
    val knobs = selectKnobs(spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/vectors"), cents, books, nprobeLadder,
      topK, kCandLadder, sampleMax, dims, floorE6)
    writeKnobs(spark, dir, knobs)
    knobs
  }

  /** Run the kCand gate over a SAVED artifact and persist the chosen
    * knobs next to it (`dir/knobs` — the serving tier reads them via
    * `loadKnobs`, so the knob travels WITH the artifact it was measured
    * on and a retrain's directory swap retires it with the model).
    */
  def selectKCandSaved(spark: SparkSession, dir: String, nprobe: Int,
      topK: Int, ladder: Seq[Int], sampleMax: Long, dims: Int = 64,
      floorE6: Long = RecallFloorE6): Knobs = {
    val (cents, books) = loadModel(spark, dir)
    val knobs = selectKCand(spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/vectors"), cents, books, nprobe, topK,
      ladder, sampleMax, dims, floorE6)
    writeKnobs(spark, dir, knobs)
    knobs
  }

  private def writeKnobs(spark: SparkSession, dir: String,
      knobs: Knobs): Unit = {
    import spark.implicits._
    // `Artifacts.publish` (ADVICE r19): an in-place overwrite that
    // crashed after directory creation would leave an existing-but-empty
    // knobs dir for every later read
    Artifacts.publish(spark, s"$dir/knobs") { staging =>
      Seq((knobs.nlist, knobs.kCand, knobs.nprobe, knobs.sampleN,
          knobs.meanRecallE6))
        .toDF("nlist", "k_cand", "nprobe", "sample_n", "mean_recall_e6")
        .coalesce(1).write.mode("overwrite").parquet(staging)
    }
  }

  /** The persisted gate-chosen knobs — None before the first
    * `selectKCandSaved` (callers fall back to their own default, or
    * run the gate), and None for an existing-but-EMPTY knobs directory
    * (a legacy overwrite that crashed after directory creation —
    * ADVICE r19: serving falls back instead of dying on `collect()(0)`;
    * new writes can no longer leave this state, see `writeKnobs`).
    */
  def loadKnobs(spark: SparkSession, dir: String): Option[Knobs] = {
    // a crash inside `writeKnobs`' swap strands the knobs like a model
    Artifacts.recoverRetired(spark, s"$dir/knobs")
    // a directory holding no parquet part-files at all (crash between
    // mkdir and the first file) reads as absent — same verdict as zero
    // rows: no knobs were ever published
    Artifacts.readIfPresent(spark, s"$dir/knobs")
      .flatMap(_.collect().headOption).map(r =>
        Knobs(r.getAs[Int]("nlist"), r.getAs[Int]("k_cand"),
          r.getAs[Int]("nprobe"), r.getAs[Long]("sample_n"),
          r.getAs[Long]("mean_recall_e6")))
  }

  /** `retrain` with the nlist DERIVED from the artifact's own vector-
    * store row count (`SimilarityOps.deriveNlist` — cell population
    * held ~constant, so append-only growth retrains into MORE cells
    * and a fixed nprobe keeps reading a constant number of rows, a
    * shrinking fraction). Returns the derived nlist; the caller
    * re-runs `selectKCandSaved` after the swap — knobs measured under
    * the old model retired with it.
    */
  def retrainDerived(spark: SparkSession, dir: String, m: Int, k: Int,
      coarseIters: Int, pqIters: Int, dims: Int = 64,
      targetPop: Long = 512L, minNlist: Int = 16,
      maxNlist: Int = 256, maxTrainRows: Long = 0L): Int = {
    Artifacts.recoverRetired(spark, dir)
    val n = spark.read.parquet(s"$dir/vectors").count()
    val nlist = SimilarityOps.deriveNlist(n, targetPop, minNlist, maxNlist)
    retrain(spark, dir, nlist, m, k, coarseIters, pqIters, dims,
      maxTrainRows)
    nlist
  }

  /** The outcome of one `retrainDeeper` run: the artifact's final code
    * budget `m`, the gate-chosen serving knobs measured under it, and
    * whether the artifact is STILL below the recall floor after the
    * ladder was exhausted (`flagged` — the honest terminal state:
    * serve the best artifact you built, keep the flag raised).
    */
  final case class DeepenStatus(m: Int, knobs: Knobs, flagged: Boolean)

  /** The automated CODE-BUDGET response (VERDICT r19 #1) — the rung
    * ABOVE the 2-D knob gate, closing the last manual link in the
    * self-tuning loop: when `selectKnobs` has escalated through every
    * (nprobe, kCand) pair and still cannot meet the recall floor, the
    * true neighbors are being mis-ordered by the CODES themselves —
    * the residual quantizer is too coarse — and the measured durable
    * fix is a finer code budget (R19 probes: m=8 restored recall
    * 0.9125 at 10× where m=4 saturated at 0.76 under any candidate
    * width). This face automates exactly that: while the gate is
    * flagged and the ladder has a deeper rung, retrain the artifact at
    * the next `m` (a full refit from its own vector store with
    * scale-DERIVED nlist — the `retrainDerived` machinery, atomic
    * `Artifacts.publish` swap), then re-run the 2-D gate on the
    * republished artifact and persist the knobs it chooses. An
    * artifact that flags itself can now retrain its way out instead of
    * waiting for a human to edit a constant and rebuild.
    *
    * `current` feeds a gate measurement the caller already paid for
    * (the build flow: `selectKnobsSaved` → flagged → `retrainDeeper`);
    * absent, the gate runs once up front. Rungs ≤ the artifact's
    * CURRENT m are skipped — deepening only ever adds code bytes, and
    * a re-run after a crash resumes where the ladder left off (the
    * republished artifact carries its m in `books`). Cost: each rung
    * is one store-sized refit + one gate pass — build-time work, never
    * serving-path work; serving sessions keep the old artifact until
    * the swap publishes (the `retrain` contract).
    *
    * Returns the final (m, knobs, flagged): `flagged = true` means
    * even the deepest rung missed the floor — the artifact serves its
    * best measured configuration and `recallStatus`' scheduled gate
    * keeps the flag raised (the next levers are a larger kCand ladder
    * or a finer coarse geometry, both caller policy).
    */
  def retrainDeeper(spark: SparkSession, dir: String, mLadder: Seq[Int],
      pqK: Int, coarseIters: Int, pqIters: Int, nprobeLadder: Seq[Int],
      topK: Int, kCandLadder: Seq[Int], sampleMax: Long, dims: Int = 64,
      targetPop: Long = 512L, minNlist: Int = 16, maxNlist: Int = 256,
      floorE6: Long = RecallFloorE6,
      current: Option[Knobs] = None,
      maxTrainRows: Long = 0L): DeepenStatus = {
    require(mLadder.nonEmpty && mLadder == mLadder.sorted.distinct,
      s"m ladder must be ascending and duplicate-free: $mLadder")
    require(mLadder.forall(dims % _ == 0),
      s"every m rung must divide dims=$dims: $mLadder")
    Artifacts.recoverRetired(spark, dir)
    def gate(): Knobs = selectKnobsSaved(spark, dir, nprobeLadder, topK,
      kCandLadder, sampleMax, dims, floorE6)
    var m = loadModel(spark, dir)._2.length
    var knobs = current.getOrElse(gate())
    val deeper = mLadder.filter(_ > m).iterator
    while (knobs.meanRecallE6 < floorE6 && deeper.hasNext) {
      m = deeper.next()
      retrainDerived(spark, dir, m, pqK, coarseIters, pqIters, dims,
        targetPop, minNlist, maxNlist, maxTrainRows)
      knobs = gate()
    }
    DeepenStatus(m, knobs, knobs.meanRecallE6 < floorE6)
  }

  /** Append new vectors to a saved artifact UNDER THE FROZEN MODEL —
    * the serving lifecycle step between full rebuilds (the
    * `IvfIndex.appendToSaved` contract at the PQ tier): the delta is
    * encoded with the loaded centroids/codebooks (no fit jobs — the
    * IvfPqArtifactSpec discipline), written into the cell partitions
    * the probes already prune, and mirrored into the exact vector
    * store the re-rank tail fetches from. Idempotent: already-present
    * vec_ids are anti-joined away first (the duplicate check is a
    * vec_id-only projection of the codes store — parquet column
    * pruning makes it the narrowest possible corpus read; at the scale
    * where even that is too hot, add the `IvfIndex` `_idb` bucketed
    * pointer layout). Returns the number of rows actually appended.
    *
    * Write order is vectors THEN codes — the anti-join target lands
    * LAST (the `IvfIndex.appendToSaved` discipline): a crash between
    * the two leaves only orphan vectors, which never become re-rank
    * candidates (candidates come from codes) and so cost nothing but
    * space. The append AUTO-HEALS that window at entry (ADVICE r17):
    * it runs the `repairCodes` anti-join itself before reading the
    * codes store, so a crash-replayed append finds the orphans already
    * coded and skips them — idempotence no longer relies on the
    * operator remembering to run the healer between crash and replay
    * (the `retrain`/`loadModel` → `Artifacts.recoverRetired` self-heal
    * discipline). Cost on a healthy store: one extra pair of
    * vec_id-only column-pruned projections. Single-writer per artifact
    * (the `IvfIndex` append contract): every write goes through
    * `Artifacts.append`, whose stale-`_temporary` delete would remove a
    * concurrent append's in-flight output, and concurrent appends
    * would race the drift log's seq numbering.
    *
    * Drift: each append logs its mean encode error over the build
    * baseline to `dir/drift_log` — err2 IS the PQ-tier drift statistic
    * (residuals off the frozen codebooks grow as the distribution
    * moves), so the retrain signal costs one delta-sized aggregate.
    * `flagged` uses `IvfIndex.DriftRetrainRatio` (same rationale: a
    * false flag costs one rebuild decision; a miss costs silent recall
    * decay). Pre-baseline artifacts skip the record — re-save to start
    * tracking.
    */
  def appendToSaved(spark: SparkSession, dir: String, newEmb: DataFrame,
      dims: Int = 64): Long =
    appendToSavedQ(spark, dir, KMeans.quantized(newEmb), dims)

  /** `appendToSaved` from an ALREADY-QUANTIZED `(vec_id, qv)` delta —
    * the `saveQ` twin, and the append face an artifact NOT built under
    * `KMeans.quantized`'s e6 scale must use: the b13 token-vector
    * artifact stores scale-1 exact casts (e6 would overflow its
    * squared distances), so its deltas arrive as qv, matching the
    * stored vectors they will be ranked against. The float face above
    * delegates here; everything after quantization — anti-join,
    * vectors-then-codes write order, the entry auto-heal, drift
    * logging — is this one code path.
    */
  def appendToSavedQ(spark: SparkSession, dir: String, newQ: DataFrame,
      dims: Int = 64): Long = {
    import spark.implicits._
    val (cents, books) = loadModel(spark, dir)
    // auto-heal a prior mid-append crash's orphan vectors BEFORE the
    // anti-join reads codes — see the scaladoc's write-order paragraph
    repairWith(spark, dir, cents, books, dims)
    val seen = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id").as("_seen"))
    val delta = newQ.select("vec_id", "qv")
      .join(seen, col("vec_id") === col("_seen"), "left_anti")
      .select("vec_id", "qv")
      .localCheckpoint()
    val appended = delta.count()
    if (appended > 0) {
      // one delta-sized materialization feeds both writes and the
      // drift aggregate (the appendToSaved checkpoint discipline)
      val encDelta = PqIndex.encodeQ(residuals(delta, cents), books,
        dims, carry = Seq("cell")).localCheckpoint()
      Artifacts.append(delta, s"$dir/vectors")
      Artifacts.append(encDelta, s"$dir/codes", "cell")
      Artifacts.readIfPresent(spark, s"$dir/err_baseline").foreach { b =>
        val base = b.collect()(0).getAs[Double]("mean_err2")
        val d = encDelta.agg(avg(col("err2").cast("double")))
          .first().getDouble(0)
        if (base > 0) {
          val ratio = d / base
          Artifacts.appendToLog(
            Seq((appended, d, ratio, ratio > IvfIndex.DriftRetrainRatio))
              .toDF("n", "mean_err2", "ratio", "flagged"), s"$dir/drift_log")
        }
      }
    }
    appended
  }

  /** Crash recovery for `appendToSaved`'s vectors-then-codes write
    * order (the `IvfIndex.repairPointers` contract at the PQ tier):
    * encode any vector-store rows missing from the codes store under
    * the artifact's frozen model and append them. Cost: two vec_id-only
    * column-pruned projections for the anti-join, then delta-sized
    * encode + write; a healthy store heals nothing. `appendToSaved`
    * runs this itself at entry, so the standalone face is only needed
    * to heal a store without also appending.
    */
  def repairCodes(spark: SparkSession, dir: String,
      dims: Int = 64): Long = {
    val (cents, books) = loadModel(spark, dir)
    repairWith(spark, dir, cents, books, dims)
  }

  /** `repairCodes` under an already-loaded model — shared by the
    * standalone face and `appendToSaved`'s entry auto-heal so the heal
    * never costs a second model collect.
    */
  private def repairWith(spark: SparkSession, dir: String,
      cents: Seq[Array[Long]], books: Seq[Seq[Array[Long]]],
      dims: Int): Long = {
    val seen = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id").as("_seen"))
    val orphans = spark.read.parquet(s"$dir/vectors")
      .join(seen, col("vec_id") === col("_seen"), "left_anti")
      .select("vec_id", "qv")
      .localCheckpoint()
    val healed = orphans.count()
    if (healed > 0)
      Artifacts.append(PqIndex.encodeQ(residuals(orphans, cents), books, dims,
        carry = Seq("cell")), s"$dir/codes", "cell")
    healed
  }

  /** Load the fitted model state back into the driver-held shapes every
    * search entry point consumes — with the `loadMerges`/`loadVocab`
    * fail-loud discipline: cell ids must be the contiguous 0..nlist−1
    * (a truncated or filtered rewrite would silently remap every
    * assignment), the books must form a full m×k grid of equal-length
    * codewords, and all dimensions must agree. Codes and vectors stay
    * ON DISK — read them with `spark.read.parquet(s"$dir/codes")` /
    * `.../vectors`; only the model state (nlist·dims + m·k·sub longs,
    * trivially driver-held) is collected.
    */
  def loadModel(spark: SparkSession,
      dir: String): (Seq[Array[Long]], Seq[Seq[Array[Long]]]) = {
    Artifacts.recoverRetired(spark, dir)
    val cRows = spark.read.parquet(s"$dir/cents").orderBy("cell").collect()
    require(cRows.nonEmpty, s"no centroids at $dir/cents — not an IVF-PQ artifact")
    require(cRows.map(_.getAs[Int]("cell")).toSeq == (0 until cRows.length),
      s"corrupt centroids at $dir/cents: cell ids are not contiguous 0..n-1")
    val cents = cRows.map(_.getAs[Seq[Long]]("v").toArray).toSeq
    require(cents.map(_.length).distinct.size == 1,
      s"corrupt centroids at $dir/cents: ragged dimensionality")
    val bRows = spark.read.parquet(s"$dir/books").orderBy("m", "code").collect()
    require(bRows.nonEmpty, s"no codebooks at $dir/books — not an IVF-PQ artifact")
    val byM = bRows.groupBy(_.getAs[Int]("m"))
    require(byM.keySet == (0 until byM.size).toSet,
      s"corrupt codebooks at $dir/books: subspace ids are not contiguous")
    val books = (0 until byM.size).map { mi =>
      val rows = byM(mi).sortBy(_.getAs[Int]("code"))
      require(rows.map(_.getAs[Int]("code")).toSeq == (0 until rows.length),
        s"corrupt codebooks at $dir/books: codes of subspace $mi not contiguous")
      rows.map(_.getAs[Seq[Long]]("v").toArray).toSeq
    }
    require(books.map(_.length).distinct.size == 1,
      s"corrupt codebooks at $dir/books: subspaces disagree on k")
    require(books.flatMap(_.map(_.length)).distinct.size == 1,
      s"corrupt codebooks at $dir/books: ragged codeword length")
    require(books.head.head.length * books.length == cents.head.length,
      s"corrupt artifact at $dir: m·sub != dims")
    (cents, books)
  }

  // ---------------------------------------------------------------- oracle

  /** Shared oracle preamble: coarse chain + residuals + the m residual
    * codebook chains. `qSrc` as in `KMeans.chainSql` — overrides the
    * quantized-source relation the whole build replays over.
    * `nlistExpr` (VERDICT r18 #1) replays a SCALE-DERIVED nlist: a
    * scalar SQL expression (typically `(SELECT nlist FROM geo)` over a
    * caller-emitted geometry CTE built from
    * `SimilarityOps.deriveNlistSql`) that overrides the literal coarse
    * seed count, so one static oracle string replays the derived
    * geometry at every SF.
    */
  private def buildChain(nlist: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, dims: Int, qSrc: String = "",
      nlistExpr: String = "", trainLimitExpr: String = ""): String = {
    val sub = dims / m
    val subChains = PqIndex.subChainsSql(m, k, iters, dims, (lo, hi) =>
      s"""SELECT vec_id, d - $lo AS d, v FROM rev
             WHERE d > $lo AND d <= $hi""", seedsRel = "pqseeds",
      trainLimitExpr = trainLimitExpr)
    s"""${KMeans.chainSql(nlist, coarseIters, dims, qSrc, nlistExpr,
        trainLimitExpr)},
         rev AS MATERIALIZED (SELECT e.vec_id, e.d, e.v - c.c AS v
           FROM ev e JOIN asgF a USING (vec_id)
           JOIN ct$coarseIters c ON c.cluster = a.cluster AND c.d = e.d),
         pqseeds AS MATERIALIZED (SELECT vec_id,
           CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS cluster
           FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
         $subChains"""
  }

  /** DuckDB replay of `encode`. */
  def encodeOracleSql(nlist: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, dims: Int): String = {
    val joins = (1 until m)
      .map(i => s"JOIN s${i}_asgF a$i USING (vec_id)").mkString(" ")
    val cols = (0 until m)
      .map(i => s"CAST(a$i.cluster AS INTEGER) AS c$i").mkString(", ")
    val err = (0 until m).map(i => s"a$i.dist2").mkString(" + ")
    s"""WITH ${buildChain(nlist, coarseIters, m, k, iters, dims)}
       SELECT a0.vec_id, CAST(f.cluster AS INTEGER) AS cell, $cols,
         $err AS err2
       FROM s0_asgF a0 JOIN asgF f USING (vec_id) $joins
       ORDER BY a0.vec_id"""
  }

  /** Full replay: the `KMeans` coarse chain (q, ev, seeds, ct, asgF), the
    * residual relation, the m residual-codebook chains
    * (`PqIndex.subChainsSql` fed from the residuals), the probe
    * selection from the coarse final distances (`dist{iters+1}` holds
    * EVERY (vec, cell) distance — nprobe = its per-query head), the
    * per-(query, cell) residual LUTs, and the pruned ADC ranking.
    */
  def searchOracleSql(nlist: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, dims: Int, nq: Int, nprobe: Int, topK: Int,
      candFilterSql: String = ""): String =
    s"""WITH ${searchCtes(nlist, coarseIters, m, k, iters, dims, nq,
        nprobe, candFilterSql)}
       SELECT query_id, neighbor_id, cell, adist2, rnk
       FROM ranked WHERE rnk <= $topK ORDER BY query_id, rnk"""

  /** DuckDB replay of `searchRerank`: the full search chain ranked by
    * ADC, cut at `kCand`, then the exact integer re-rank over the
    * per-dim NEIGHBOR relation — `ev` (the stored exact vectors) by
    * default; a re-rank against a compressed tier (the n25 SQ store)
    * passes its own reconstruction CTEs via `extraCtes` and names the
    * per-dim relation via `neighborEv`. The query side always prices
    * from `ev` (asymmetric refinement, like ADC itself).
    */
  def rerankOracleSql(nlist: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, dims: Int, nq: Int, nprobe: Int, kCand: Int,
      topK: Int, extraCtes: String = "", neighborEv: String = "ev"): String =
    s"""WITH ${rerankCtes(nlist, coarseIters, m, k, iters, dims, nq,
        nprobe, kCand, extraCtes, neighborEv)}
       SELECT query_id, neighbor_id, cell, adist2, dist2, rnk
       FROM rr WHERE rnk <= $topK ORDER BY query_id, rnk"""

  /** The `rerankOracleSql` body as a COMPOSABLE CTE chain (through
    * `rr`) so composite oracles (the b13 hybrid) can fuse the re-ranked
    * ANN list with other retrievers under one WITH. `qSrc` and
    * `extQueryRel` as in `searchCtes`.
    */
  def rerankCtes(nlist: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, dims: Int, nq: Int, nprobe: Int, kCand: Int,
      extraCtes: String = "", neighborEv: String = "ev",
      qSrc: String = "", extQueryRel: String = "",
      nlistExpr: String = "", kCandExpr: String = "",
      candFilterSql: String = "", nprobeExpr: String = "",
      scopeJoinSql: String = "", trainLimitExpr: String = ""): String = {
    val eqJoin =
      if (extQueryRel.nonEmpty) "JOIN xqev eq ON eq.query_id = c.query_id"
      else "JOIN ev eq ON eq.vec_id = c.query_id"
    // `kCandExpr` replays a GATE-DERIVED candidate width (VERDICT r18
    // #1): a scalar expression — typically `(SELECT kc FROM ksel)` over
    // the `knobsGateCtes` selection chain passed via `extraCtes` — that
    // overrides the literal cutoff, so the knob the Spark side chose
    // from its recall gate is re-DERIVED by the oracle, not pinned.
    // `candFilterSql` (a JOIN/WHERE fragment over `cd`) replays a
    // consumer-scoped candidate filter — pre-filter semantics, applied
    // before the ADC ranking (the b14 serving face). `scopeJoinSql`
    // (r20, the b15 multi-grant face) is the PER-QUERY generalization:
    // a JOIN fragment over `cd` AND the LUT row `l0` inside `approx`,
    // so each query's candidates filter under ITS OWN grant — e.g.
    // `JOIN xqacct xa ON xa.query_id = l0.query_id JOIN adoc ad ON
    // ad.doc_id = cd.vec_id AND ad.account = xa.account` — the SQL
    // twin of the Spark side's scopeCols LUT-join equality.
    val kCut = if (kCandExpr.nonEmpty) kCandExpr else kCand.toString
    s"""${searchCtes(nlist, coarseIters, m, k, iters, dims, nq,
        nprobe, candFilterSql, qSrc, extQueryRel, nlistExpr,
        nprobeExpr, scopeJoinSql, trainLimitExpr)}${
        if (extraCtes.nonEmpty) ",\n         " + extraCtes else ""},
         cand AS MATERIALIZED (SELECT query_id, neighbor_id, cell, adist2
           FROM ranked WHERE rnk <= $kCut),
         rer AS (SELECT c.query_id, c.neighbor_id, c.cell, c.adist2,
             CAST(sum((eq.v - en.v) * (eq.v - en.v)) AS BIGINT) AS dist2
           FROM cand c $eqJoin
           JOIN $neighborEv en ON en.vec_id = c.neighbor_id AND en.d = eq.d
           GROUP BY 1, 2, 3, 4),
         rr AS (SELECT query_id, neighbor_id, cell, adist2, dist2,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist2, neighbor_id) AS INTEGER) AS rnk
           FROM rer)"""
  }

  /** DuckDB replay of the `selectKnobs` GATE (VERDICT r18 #1, 2-D in
    * r19) as a composable CTE group ending in `nsel(np)` / `ksel(kc)` —
    * pass it through `rerankCtes(extraCtes = ...)` with
    * `nprobeExpr = "(SELECT np FROM nsel)"` and
    * `kCandExpr = "(SELECT kc FROM ksel)"` and the oracle re-DERIVES
    * both gate-chosen serving knobs instead of pinning them.
    *
    * Everything is namespaced `g{np}_*` (one ADC chain per nprobe rung)
    * plus the shared np-independent exact baseline `gex`/`gextop`, and
    * reuses the chain the enclosing `searchCtes` already built: `ev`
    * (per-dim store vectors), `dist{coarseIters+1}` (every (vec, cell)
    * coarse distance — the sample's probe selection is its per-query
    * head), `ct{coarseIters}` (final coarse centroids), the residual
    * codebooks `s{i}_ct{iters}`, and `cd` (the UNFILTERED encoded
    * codes). The sample is the corpus-member vec_id < `sampleMax` head,
    * self excluded; per (np, c) rung the served top-k is the
    * exact-distance top-k among that np-chain's ADC rank ≤ c (the exact
    * re-rank property `selectKCand` exploits), recall is the
    * exact-integer hits·10⁶ div denom mean, and the selection is the
    * lexicographically first (np, kc) meeting `floorE6` — `selectKnobs`'
    * cheapest-pair rule — falling back to the widest pair.
    */
  def knobsGateCtes(coarseIters: Int, m: Int, iters: Int, dims: Int,
      sampleMax: Long, nprobeLadder: Seq[Int], topK: Int,
      kCandLadder: Seq[Int], floorE6: Long = RecallFloorE6): String = {
    require(kCandLadder.nonEmpty && kCandLadder == kCandLadder.sorted.distinct,
      s"kCand ladder must be ascending and duplicate-free: $kCandLadder")
    require(nprobeLadder.nonEmpty && nprobeLadder == nprobeLadder.sorted.distinct,
      s"nprobe ladder must be ascending and duplicate-free: $nprobeLadder")
    val sub = dims / m
    val fCoarse = coarseIters + 1
    val npChains = nprobeLadder.map { np =>
      val g = s"g${np}_"
      val gluts = (0 until m).map { i =>
        s"""${g}lut$i AS MATERIALIZED (SELECT r.query_id, r.p_cell, c.cluster AS code,
           CAST(sum((r.v - c.c) * (r.v - c.c)) AS BIGINT) AS d2
           FROM ${g}qres r JOIN s${i}_ct$iters c ON c.d = r.d - ${i * sub}
           WHERE r.d > ${i * sub} AND r.d <= ${(i + 1) * sub}
           GROUP BY 1, 2, 3)"""
      }.mkString(",\n         ")
      val glutJoins = (0 until m).map { i =>
        if (i == 0)
          s"JOIN ${g}lut0 l0 ON l0.p_cell = cd.cell AND l0.code = cd.c0"
        else
          s"JOIN ${g}lut$i l$i ON l$i.p_cell = cd.cell AND l$i.code = cd.c$i" +
            s" AND l$i.query_id = l0.query_id"
      }.mkString(" ")
      val gdsum = (0 until m).map(i => s"l$i.d2").mkString(" + ")
      val rungs = kCandLadder.map { c =>
        s"""${g}s$c AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist2, neighbor_id) AS rr
             FROM ${g}cd WHERE adc_rnk <= $c) WHERE rr <= $topK),
         ${g}q$c AS (SELECT e.query_id,
             CAST(count(s.neighbor_id) AS BIGINT) AS hits,
             CAST(count(*) AS BIGINT) AS denom
           FROM gextop e LEFT JOIN ${g}s$c s
             ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
           GROUP BY 1),
         ${g}m$c AS (SELECT $np AS np, $c AS kc,
           CAST(sum((hits * 1000000) // denom) AS BIGINT) // count(*) AS mean_e6
           FROM ${g}q$c)"""
      }.mkString(",\n         ")
      s"""${g}probed AS MATERIALIZED (SELECT vec_id AS query_id, cluster AS p_cell
           FROM (SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS pr
             FROM dist$fCoarse WHERE vec_id < $sampleMax)
           WHERE pr <= $np),
         ${g}qres AS MATERIALIZED (SELECT p.query_id, p.p_cell, e.d,
             e.v - c.c AS v
           FROM ${g}probed p JOIN ev e ON e.vec_id = p.query_id
           JOIN ct$coarseIters c ON c.cluster = p.p_cell AND c.d = e.d),
         $gluts,
         ${g}approx AS (SELECT l0.query_id, cd.vec_id AS neighbor_id,
             $gdsum AS adist2
           FROM cd $glutJoins
           WHERE cd.vec_id <> l0.query_id),
         ${g}ranked AS (SELECT query_id, neighbor_id, adist2,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adist2, neighbor_id) AS INTEGER) AS rnk
           FROM ${g}approx),
         ${g}cd AS MATERIALIZED (SELECT g.query_id, g.neighbor_id,
             g.rnk AS adc_rnk,
             CAST(sum((eq.v - en.v) * (eq.v - en.v)) AS BIGINT) AS dist2
           FROM ${g}ranked g JOIN ev eq ON eq.vec_id = g.query_id
           JOIN ev en ON en.vec_id = g.neighbor_id AND en.d = eq.d
           WHERE g.rnk <= ${kCandLadder.max}
           GROUP BY 1, 2, 3),
         $rungs"""
    }.mkString(",\n         ")
    val gall = nprobeLadder.flatMap(np =>
      kCandLadder.map(c => s"SELECT * FROM g${np}_m$c"))
      .mkString(" UNION ALL ")
    s"""gex AS MATERIALIZED (SELECT eq.vec_id AS query_id,
             en.vec_id AS neighbor_id,
             CAST(sum((eq.v - en.v) * (eq.v - en.v)) AS BIGINT) AS dist2
           FROM ev eq JOIN ev en ON en.d = eq.d AND en.vec_id <> eq.vec_id
           WHERE eq.vec_id < $sampleMax GROUP BY 1, 2),
         gextop AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist2, neighbor_id) AS rnk
             FROM gex) WHERE rnk <= $topK),
         $npChains,
         gall AS ($gall),
         gmet AS (SELECT np, kc FROM gall WHERE mean_e6 >= $floorE6
           ORDER BY np, kc LIMIT 1),
         nsel AS (SELECT coalesce((SELECT np FROM gmet),
           ${nprobeLadder.max}) AS np),
         ksel AS (SELECT coalesce((SELECT kc FROM gmet),
           ${kCandLadder.max}) AS kc)"""
  }

  /** DuckDB replay of the n30 RECALL@k measurement: the full ADC
    * search chain (`ranked`) joined against the EXACT integer-distance
    * top-k computed from the same quantized vectors (`ev`) — recall is
    * |approx ∩ exact| per query, in e6 fixed point. The knob-tuning
    * loop (nprobe ↔ recall) runs entirely in-engine, replayed under
    * one hash.
    */
  def recallOracleSql(nlist: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, dims: Int, nq: Int, nprobe: Int, topK: Int): String =
    s"""WITH ${searchCtes(nlist, coarseIters, m, k, iters, dims, nq,
        nprobe, "")},
         exq AS (SELECT eq.vec_id AS query_id, en.vec_id AS neighbor_id,
           CAST(sum((eq.v - en.v) * (eq.v - en.v)) AS BIGINT) AS dist2
           FROM ev eq JOIN ev en ON en.d = eq.d AND en.vec_id <> eq.vec_id
           WHERE eq.vec_id < $nq GROUP BY 1, 2),
         exr AS (SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY dist2, neighbor_id) AS rnk FROM exq),
         extop AS (SELECT query_id, neighbor_id FROM exr WHERE rnk <= $topK),
         aptop AS (SELECT query_id, neighbor_id FROM ranked WHERE rnk <= $topK),
         rh AS (SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits
           FROM extop e LEFT JOIN aptop a
             ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
           GROUP BY 1)
       SELECT query_id, hits, (hits * 1000000) // $topK AS recall_e6
       FROM rh ORDER BY query_id"""

  /** The shared search replay body, through the ADC `ranked` CTE.
    *
    * Query-side modes: by default queries are CORPUS MEMBERS
    * (`vec_id < nq`, priced from the chain's own `dist` relation, self
    * excluded — the n20 entry shape). `extQueryRel` names a caller-
    * provided CTE of EXTERNAL (query_id, qv) vectors instead — their
    * coarse distances, probes, and residuals are computed from a
    * dedicated `xqev` per-dim relation against the fitted centroids,
    * and self-exclusion is OFF (external ids may collide with corpus
    * vec_ids — the Spark `excludeSelf = false` serving mode). `qSrc`
    * overrides the corpus source as in `KMeans.chainSql`.
    */
  private def searchCtes(nlist: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, dims: Int, nq: Int, nprobe: Int,
      candFilterSql: String, qSrc: String = "",
      extQueryRel: String = "", nlistExpr: String = "",
      nprobeExpr: String = "", scopeJoinSql: String = "",
      trainLimitExpr: String = ""): String = {
    val sub = dims / m
    val fCoarse = coarseIters + 1
    // `nprobeExpr` (r19, the 2-D gate): a scalar expression — typically
    // `(SELECT np FROM nsel)` over `knobsGateCtes` — overriding the
    // literal probe width, so the gate-ESCALATED nprobe the Spark side
    // serves with is re-derived by the oracle too
    val npCut = if (nprobeExpr.nonEmpty) nprobeExpr else nprobe.toString
    val luts = (0 until m).map { i =>
      s"""lut$i AS MATERIALIZED (SELECT r.query_id, r.p_cell, c.cluster AS code,
           CAST(sum((r.v - c.c) * (r.v - c.c)) AS BIGINT) AS d2
           FROM qres r JOIN s${i}_ct$iters c ON c.d = r.d - ${i * sub}
           WHERE r.d > ${i * sub} AND r.d <= ${(i + 1) * sub}
           GROUP BY 1, 2, 3)"""
    }.mkString(",\n         ")
    val codeJoins = (1 until m)
      .map(i => s"JOIN s${i}_asgF a$i USING (vec_id)").mkString(" ")
    val codeCols = (0 until m).map(i => s"a$i.cluster AS c$i").mkString(", ")
    val lutJoins = (0 until m).map { i =>
      if (i == 0)
        "JOIN lut0 l0 ON l0.p_cell = cd.cell AND l0.code = cd.c0"
      else
        s"JOIN lut$i l$i ON l$i.p_cell = cd.cell AND l$i.code = cd.c$i" +
          s" AND l$i.query_id = l0.query_id"
    }.mkString(" ")
    val dsum = (0 until m).map(i => s"l$i.d2").mkString(" + ")
    val querySide =
      if (extQueryRel.isEmpty)
        s"""probed AS MATERIALIZED (SELECT vec_id AS query_id, cluster AS p_cell
           FROM (SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS pr
             FROM dist$fCoarse WHERE vec_id < $nq)
           WHERE pr <= $npCut),
         qres AS MATERIALIZED (SELECT p.query_id, p.p_cell, e.d,
             e.v - c.c AS v
           FROM probed p JOIN ev e ON e.vec_id = p.query_id
           JOIN ct$coarseIters c ON c.cluster = p.p_cell AND c.d = e.d)"""
      else
        s"""xqev AS MATERIALIZED (SELECT query_id, d, qv[d] AS v
           FROM $extQueryRel, (SELECT unnest(range(1, ${dims + 1})) AS d)),
         xqdist AS MATERIALIZED (SELECT e.query_id, c.cluster,
             CAST(sum((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS dist2
           FROM xqev e JOIN ct$coarseIters c USING (d) GROUP BY 1, 2),
         probed AS MATERIALIZED (SELECT query_id, cluster AS p_cell
           FROM (SELECT query_id, cluster,
               row_number() OVER (PARTITION BY query_id ORDER BY dist2, cluster) AS pr
             FROM xqdist)
           WHERE pr <= $npCut),
         qres AS MATERIALIZED (SELECT p.query_id, p.p_cell, e.d,
             e.v - c.c AS v
           FROM probed p JOIN xqev e ON e.query_id = p.query_id
           JOIN ct$coarseIters c ON c.cluster = p.p_cell AND c.d = e.d)"""
    val selfEx =
      if (extQueryRel.isEmpty) "WHERE cd.vec_id <> l0.query_id" else ""
    // `cd` is ALWAYS the unfiltered codes relation (the kCand gate's
    // sample measures the artifact, not a consumer's scope — r19); a
    // candidate filter lands in a derived `cdf` the ranking reads, so
    // pre-filter semantics are preserved (filter before any distance
    // math) without scoping the gate.
    val cdFiltered =
      if (candFilterSql.isEmpty) ""
      else s""",
         cdf AS MATERIALIZED (SELECT cd.* FROM cd $candFilterSql)"""
    val cdRel = if (candFilterSql.isEmpty) "cd" else "cdf"
    s"""${buildChain(nlist, coarseIters, m, k, iters, dims, qSrc,
        nlistExpr, trainLimitExpr)},
         $querySide,
         $luts,
         cd AS MATERIALIZED (SELECT a0.vec_id, f.cluster AS cell, $codeCols
           FROM s0_asgF a0 JOIN asgF f USING (vec_id) $codeJoins)$cdFiltered,
         approx AS (SELECT l0.query_id, cd.vec_id AS neighbor_id,
             CAST(cd.cell AS INTEGER) AS cell, $dsum AS adist2
           FROM $cdRel cd $lutJoins $scopeJoinSql
           $selfEx),
         ranked AS (SELECT query_id, neighbor_id, cell, adist2,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adist2, neighbor_id) AS INTEGER) AS rnk
           FROM approx)"""
  }
}
