package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts

/** The (token id → dim-16 integer vector) embedding TABLE as a shipped
  * artifact — closing `HashedEmbedding`'s "a learned table would
  * replace dimWeight with a broadcast lookup and nothing else changes"
  * promise with a real file (VERDICT r16 #6): t37 derived the table
  * in-query; here it is persisted once (`save` — the
  * `BpeTrainer.saveMerges`/`saveVocab` artifact discipline) and the
  * serving path LOADS it, so a kNN/scoring fleet restart re-reads
  * ≤ (256 + merges) rows instead of re-deriving anything — and a
  * genuinely TRAINED checkpoint drops in by overwriting the parquet,
  * with every consumer (pooling, kNN, streams) unchanged.
  *
  * Table semantics (exactly t37's): one row per vocabulary id of a
  * frozen byte-BPE artifact (`BpeTrainer.byteVocab` — alphabet 0..255
  * plus one id per merge, surface-duplicates collapsed to their first
  * id), 16 integer weight columns in the md5 micro-unit scheme
  * ("te:" namespace) standing in for trained values. Document vectors
  * mean-pool token vectors in e3 fixed point ((sum·1000) div n —
  * components bounded by ±10⁶, float-exact).
  *
  * Scale: the table is vocab-sized — fixed by the artifact, never
  * grows with the corpus — so the lookup is always a broadcast join
  * and the pooling one doc-keyed partial-agg shuffle.
  */
object TokenEmbeddingTable {

  private val Dim = 16

  /** The deterministic stand-in derivation (id, w0..w15) — t37's
    * in-query table, factored so the ad-hoc and served entries share
    * one construction.
    */
  def derive(spark: SparkSession,
      merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    BpeTrainer.byteVocab(merges).map(_._2).toDF("id")
      .select(col("id") +: (0 until Dim).map(dd =>
        ((conv(substring(md5(concat(lit(s"te:$dd:"),
            col("id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2001L) - 1000L).as(s"w$dd")): _*)
  }

  /** Persist the table (one small parquet — the artifact a serving
    * tier mounts; a trained checkpoint replaces this file).
    */
  def save(spark: SparkSession, merges: Seq[(String, String)],
      dir: String): Unit =
    derive(spark, merges).coalesce(1).write.mode("overwrite").parquet(dir)

  /** Load a persisted table with the `loadMerges`/`loadVocab`
    * fail-loud discipline: the byte alphabet 0..255 must be COMPLETE
    * (a truncated rewrite would silently zero every doc containing a
    * missing byte's tokens), ids must be unique (a duplicated id would
    * double-count in the pooling sum), and all 16 weight columns must
    * be present. One aggregate over the vocab-sized file; the returned
    * frame is the lazy parquet scan — serving never re-derives.
    */
  def load(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read.parquet(dir)
    val cols = df.columns.toSet
    require(cols.contains("id") && (0 until Dim).forall(d => cols(s"w$d")),
      s"corrupt token-embedding table at $dir: missing columns " +
        s"(have ${df.columns.mkString(",")})")
    val chk = df.agg(
      count(lit(1)).as("n"),
      countDistinct(col("id")).as("nd"),
      sum(when(col("id") >= 0 && col("id") < 256, 1L).otherwise(0L))
        .as("alpha"),
      sum((0 until Dim).map(d =>
          when(col(s"w$d").isNull, 1L).otherwise(0L)).reduce(_ + _))
        .as("null_w")).collect()(0)
    require(chk.getAs[Long]("n") == chk.getAs[Long]("nd"),
      s"corrupt token-embedding table at $dir: duplicate ids")
    require(chk.getAs[Long]("alpha") == 256L,
      s"corrupt token-embedding table at $dir: byte alphabet incomplete " +
        s"(${chk.getAs[Long]("alpha")}/256)")
    // weights must be null-free: a null would silently vanish from the
    // pooling sum — the same silent-vector-shift failure the absent-id
    // raise in `embedDocs` closes for missing rows (review r18)
    require(chk.getAs[Long]("null_w") == 0L,
      s"corrupt token-embedding table at $dir: " +
        s"${chk.getAs[Long]("null_w")} null weight cells")
    df
  }

  /** Append new documents' vectors to a persisted (vec_id, embedding)
    * store — the refresh batch the store's docstring promises ("an
    * `embedDocs` batch over the delta, not a per-query pass"), closing
    * the last artifact without an append face. Idempotent: vec_ids
    * already stored are anti-joined away first (a vec_id-only
    * column-pruned projection — the `IvfPq.appendToSaved` duplicate
    * check at the vector tier); embedding is a pure function of
    * (text, table), so a re-delivered doc could only ever write a
    * byte-identical row, and the anti-join keeps even that out.
    * In-delta duplicates collapse (the `Bm25.appendToIndex` set-
    * semantics defense). Single write ⇒ crash replay is naturally
    * idempotent. Single-writer per store, as with every append face.
    * Returns the number of NEW docs embedded. Downstream ANN artifacts
    * take the same delta through `IvfPq.appendToSaved` (frozen model)
    * — recall drift from append-only growth is what `recallStatus`
    * gates.
    */
  def appendDocVecs(spark: SparkSession, storeDir: String,
      newDocs: DataFrame, merges: Seq[(String, String)], bpePat: String,
      table: DataFrame): Long = {
    val seen = spark.read.parquet(storeDir)
      .select(col("vec_id").as("_seen"))
    val fresh = newDocs.select("doc_id", "text").dropDuplicates("doc_id")
      .join(seen, col("doc_id") === col("_seen"), "left_anti")
      .select("doc_id", "text")
      .localCheckpoint()
    val n = fresh.count()
    if (n > 0)
      Artifacts.append(embedDocs(BpeTrainer.docTokenIds(fresh, merges, bpePat), table),
        storeDir)
    n
  }

  /** The QUERY-SIDE serving pipeline shared by the b13 entry, the
    * fused hybrid stream, and the recall gate's query sample (review
    * r18 — previously copy-pasted at each site): (doc_id, text) rows →
    * token ids under the frozen merges → table pooling → zero-norm
    * filter → (query_id, qv BIGINT list), the exact scale-1 cast the
    * token-vector ANN tier indexes under (e3 components are integers
    * bounded by ±10⁶, so the cast is lossless and e6 scaling would
    * overflow squared distances).
    */
  def queryVecs(queries: DataFrame, merges: Seq[(String, String)],
      bpePat: String, table: DataFrame): DataFrame =
    embedDocs(BpeTrainer.docTokenIds(queries, merges, bpePat), table)
      .filter(HashedEmbedding.norm2("embedding") > 0L)
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, x -> cast(x as bigint))").as("qv"))

  /** Mean-pool each document's token vectors under the given table —
    * (vec_id, embedding ARRAY<FLOAT>), zero-vector docs included
    * (callers filter norm > 0 before cosine). `ids` is
    * `BpeTrainer.docTokenIds`' (doc_id, ids) shape; the table joins
    * BROADCAST (vocab-sized by contract).
    *
    * Fail-loud on ids ABSENT from the table (ADVICE r17): the lookup
    * is a LEFT join that raises on the first unmatched id rather than
    * an inner join that drops it — a swapped-in "trained checkpoint"
    * passing `load`'s structural checks but saved under fewer merges
    * than the serving tokenizer would otherwise silently shift every
    * affected doc's pooled vector (the `docTokenIdsWith` raise-on-
    * unmappable discipline, brought to the id→vector hop).
    */
  def embedDocs(ids: DataFrame, table: DataFrame): DataFrame = {
    val aggs = (0 until Dim).map(dd => sum(col(s"w$dd")).as(s"s$dd")) :+
      count(lit(1)).cast("bigint").as("n")
    // absence is keyed on a table-side MARKER, not on a weight column
    // (review r18): a weight can legitimately be null-free-checked by
    // `load` but must never be conflated with "row missing" — a null
    // w0 on a matched row is corruption, not truncation
    ids.select(col("doc_id"), explode(col("ids")).as("id"))
      .join(broadcast(table.withColumn("_tbl", lit(1))), Seq("id"), "left")
      // the guard must materialize through a column the aggregation
      // CONSUMES (w0) or Catalyst prunes the unused raise_error away;
      // the CONDITION stays on the marker so a matched row keeps its
      // w0 verbatim (null weights are `load`'s null-free check's job)
      .withColumn("w0",
        when(col("_tbl").isNotNull, col("w0"))
          .otherwise(raise_error(concat(
            lit("token id absent from embedding table: "),
            col("id").cast("string"),
            lit(" (table saved under fewer merges than the serving " +
              "tokenizer?)")))))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id").as("vec_id"),
        array((0 until Dim).map(dd =>
          expr(s"(s$dd * 1000) div n").cast("float")): _*)
          .as("embedding"))
  }
}
