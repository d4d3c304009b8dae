package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memos of SERVING-ARTIFACT state the query entries
  * re-loaded on every execution (r20, guide §1/§5: the b13-b15 and
  * n27/n28 steady states ran 40-53 Spark JOBS each, the largest block
  * of them artifact re-loads — `IvfPq.loadModel` is two sorted
  * collects, `loadKnobs` one, `TokenEmbeddingTable.load` a validation
  * aggregate — all over artifacts that are IMMUTABLE once their fill
  * completes).
  *
  * Scope and safety: `SessionStore` keys are (applicationId, artifact
  * dir). Every dir memoized here is a per-session temp artifact built
  * exactly once by a `SessionStore.dir` fill and never mutated
  * afterwards — retrain/append lifecycle faces (which DO swap
  * artifact state in place) run inside the fill or in their own specs
  * and must keep calling the uncached loaders. This is the
  * model-resident serving shape: a serving tier loads its model once
  * per process, not once per query (the `SessionStore` fill discipline
  * extended to the load side).
  */
private[queries] object ServingCache {
  import graft.SessionStore.memo

  def ivfPqModel(s: SparkSession, dir: String):
      (Seq[Array[Long]], Seq[Seq[Array[Long]]]) =
    memo(s, "ivfpq_model", dir)(graft.operators.IvfPq.loadModel(s, dir))

  def ivfPqKnobs(s: SparkSession, dir: String):
      Option[graft.operators.IvfPq.Knobs] =
    memo(s, "ivfpq_knobs", dir)(graft.operators.IvfPq.loadKnobs(s, dir))

  def tokenTable(s: SparkSession, dir: String): DataFrame =
    memo(s, "token_table", dir)(graft.operators.TokenEmbeddingTable.load(s, dir))

  /** Memoized parquet READ of a per-session IMMUTABLE store (r21): a
    * fresh `spark.read.parquet(dir)` re-lists the store's files on
    * every call — for the bucket/cell-PARTITIONED serving stores (64
    * `_idb` buckets, up to 256 IVF cells) that is a whole listing JOB
    * per query execution (observed 0.1–0.2 s inside b10/b13/n27).
    * Caching the DataFrame reuses its resolved FileIndex, so the
    * listing happens once per (session, path). ONLY for stores that
    * are written exactly once by a session fill and never mutated —
    * lifecycle faces (append/compact/retrain) and any store a spec
    * grows in place must keep calling `spark.read.parquet` directly
    * (the Bm25 postings store is deliberately NOT routed through this:
    * its growth contract lets appends land between serves).
    */
  def parquetDf(s: SparkSession, path: String): DataFrame =
    memo(s, "parquet", path)(s.read.parquet(path))

  /** The b14/b15 BM25 grants over the dataset's b4 index, priced ONCE
    * per (session, dataset, grant tag) (r21): `Bm25.grant` collects a
    * grant's N/avgdl into a local relation, so every later serve under
    * it costs zero jobs for stats — the entries used to re-run the full
    * docs-store pass inside every execution. The grant is frozen per
    * entry (a literal scope / grants table over an immutable
    * per-session artifact), so its stats are constants of
    * (artifact, grant), ledger-reported as `bm25_stats_<tag>@dataset`.
    * Callers supply the tag naming the grant; a NEW grant means a new
    * tag.
    */
  def bm25ScopedStats(s: SparkSession, tag: String, dataset: String,
      grant: => graft.operators.Bm25.Grant): graft.operators.Bm25.Grant =
    graft.SessionStore.fill(s, s"bm25_stats_$tag", dataset)(grant)
}
