package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semantic deduplication — the SemDeDup shape (Abbas et al. 2023,
  * arXiv:2303.09540, public): partition the corpus into embedding-space
  * cells, compute pairwise cosine INSIDE each cell only, and keep one
  * representative per epsilon-neighborhood. The reference pipeline has
  * no embedding ops at all (dp_demo.sql is relational + variant); this
  * is extension capability for an LLM-corpus engine.
  *
  * Cell stage: deterministic sign-LSH over integer-valued vectors
  * (hyperplanes whose per-dimension weights come from the shared md5
  * idiom, namespaced "sd:") in place of SemDeDup's k-means — the
  * partition-defining stage is pluggable (IvfIndex holds the learned-
  * centroid variant); the sign cell keeps the whole operator exactly
  * replayable in a second engine, so the CELL ASSIGNMENT IS PART OF THE
  * SEMANTICS, not a recall heuristic: pairs crossing cells are out of
  * scope by definition, exactly as cross-cluster pairs are in SemDeDup.
  *
  * Exactness: on `HashedEmbedding` vectors every component is an
  * integer (≤2^24) held in float, so plane dots (|w|≤1000, 16 dims →
  * <2^38) and pair dots (<2^52) are exact BIGINT arithmetic; cosine is
  * one IEEE sqrt·sqrt·divide — bit-replayable cross-engine.
  *
  * Scale: ONE cell-keyed shuffle; the pair search is quadratic only
  * within a cell (SemDeDup's own per-cluster cost), bounded by cell
  * occupancy — `planes` is the knob (each added plane halves expected
  * occupancy; 20 planes ≈ 1M cells for a 10^9-doc corpus). By DEFAULT
  * the width is DERIVED from the corpus size (`derivePlanes` — the
  * `SimilarityOps.deriveBits` sizing discipline), because a fixed
  * width is the one measured super-linear knob in the suite: at the
  * 10× decade a frozen planes = 8 ran 24× the base pass, and
  * re-deriving (12 planes) cut it 3× (the since-deleted `R14bProbe`,
  * in git history). Verdicts for identical-direction duplicates are
  * width-invariant — sign bits are a function of direction alone, so
  * true copies share every cell at
  * any width; what widening changes is which DISTINCT-direction pairs
  * are in scope, which is exactly SemDeDup's cluster-count knob. The
  * drop rule is non-recursive (drop any doc with a smaller-id epsilon-
  * neighbor in its cell), so it runs as one join + partial agg — no
  * iterative component finding on the hot path (d9/d9b hold the
  * transitive-cluster machinery when group-level canonicalization is
  * wanted, see x4).
  */
object SemanticDedup {

  /** Integer weight of (hyperplane p, dimension d) in [-1000, 1000] —
    * constants, folded by Catalyst; namespaced so the stream is
    * independent of HashedEmbedding's "e:" weights.
    */
  def planeWeight(p: Int, d: Int): Column =
    (conv(substring(md5(lit(s"sd:$p:$d")), 1, 8), 16, 10)
      .cast("long") % 2001L) - 1000L

  /** Sign-cell id in [0, 2^planes): bit p set iff the p-th plane dot is
    * ≥ 0 (ties, including the zero vector, land deterministically).
    */
  def cellId(embeddingCol: Column, dim: Int, planes: Int): Column =
    (0 until planes).map { p =>
      val dot = (0 until dim).map(d =>
        element_at(embeddingCol, d + 1).cast("long") * planeWeight(p, d))
        .reduce(_ + _)
      when(dot >= 0L, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact BIGINT dot of two integer-valued float vectors. */
  private def intDot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), " +
      "CAST(0 AS BIGINT), (acc, x) -> acc + x)")

  /** `SimilarityOps.deriveBits`' sizing discipline — width ≈
    * log2(n / targetCell), clamped to [minPlanes, maxPlanes] — in
    * EXACT integer arithmetic: the smallest p with targetCell·2^p ≥ n.
    * Integer rather than ceil(log2(...)) because here the cell
    * assignment is part of the SEMANTICS (the DuckDB oracle replays
    * the derivation), and a float log2 at an exact power-of-two
    * boundary can straddle the ceil by one ulp cross-engine.
    * Defaults: targetCell 16 keeps expected within-cell pair work at
    * ~16²/2 rows per cell — total pair work then stays ~8·n at every
    * decade (the fix the since-deleted `R14bProbe` measured: the 10×
    * corpus derives 12 planes, the width that cut its fixed-width 7.9 s
    * pass to 2.7 s);
    * minPlanes 8 preserves the historical width at gated scale (the
    * ≤4096-doc corpora clamp to 8), maxPlanes 24 (16M cells) — past
    * that, occupancy is governed by duplicate mass, not width.
    */
  def derivePlanes(n: Long, targetCell: Long = 16L,
      minPlanes: Int = 8, maxPlanes: Int = 24): Int = {
    var p = 0
    while (p < maxPlanes && (targetCell << p) < n) p += 1
    math.max(minPlanes, p)
  }

  /** Per-doc verdict over embedded docs: (doc_id, cell, kept 1/0,
    * witness = smallest-id epsilon-neighbor in the cell, -1 when kept).
    * Zero vectors (cosine undefined) never pair — they are kept and
    * left to d1's exact-hash face. `emb` must carry (doc_id,
    * embedding); epsilon-neighbor means exact cosine ≥ `eps`.
    * `planes` ≤ 0 (the default) derives the cell width from the corpus
    * size (`derivePlanes`); pass `knownN` (e.g. a parquet footer count,
    * `Tables.rowCount`) to size it without a count() job, or an
    * explicit positive `planes` to pin the width.
    */
  def dedupVerdicts(emb: DataFrame, eps: Double,
      dim: Int = 16, planes: Int = 0, knownN: Long = 0L): DataFrame = {
    val width =
      if (planes > 0) planes
      else derivePlanes(if (knownN > 0L) knownN else emb.count())
    // localCheckpoint (r21, guide §1.2): `cells` feeds THREE consumers
    // (both sides of the within-cell pair join and the final verdict
    // join), so the whole upstream embed + cell-assignment chain
    // executed repeatedly per run; materializing the narrow
    // (doc_id, embedding, cell, nrm) frame once makes the pair search
    // and the verdict join read it instead (the d17/t20
    // checkpoint-vs-recompute call, measured in checkpoint's favor
    // here: d11 2.79 → 1.41 s at sf0.1, min of 3 noop reps).
    val cells = emb.select(col("doc_id"), col("embedding"),
      cellId(col("embedding"), dim, width).as("cell"),
      HashedEmbedding.norm2("embedding").as("nrm"))
      .localCheckpoint()
    val nz = cells.filter(col("nrm") > 0L)
    val a = nz.select(col("cell"), col("doc_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = nz.select(col("cell"), col("doc_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (intDot("a_emb", "b_emb").cast("double") /
          (sqrt(col("a_nrm").cast("double")) * sqrt(col("b_nrm").cast("double"))))
          .as("cosine"))
      .filter(col("cosine") >= eps)
    val dropped = pairs.groupBy(col("b_id").as("doc_id"))
      .agg(min("a_id").as("witness"))
    cells.select("doc_id", "cell")
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cell"),
        when(col("witness").isNull, lit(1)).otherwise(lit(0)).as("kept"),
        coalesce(col("witness"), lit(-1L)).as("witness"))
  }
}
