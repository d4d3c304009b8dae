package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bm25
import graft.queries.RetrievalQueries

/** Multi-consumer governance at the retrieval tier (VERDICT r19 #4):
  * b15 serves EVERY account's queries under ITS OWN grant in one plan
  * — the reference's per-account shape (`current_account()` over an
  * N-row security table, dp_demo.sql:222-239) widened from b14's
  * single hardcoded grant. The contracts pinned here:
  *   1. an account's b15 slice is bit-identical to the single-grant
  *      face under the same grant (acct_a's grant IS b14's scope by
  *      construction, so its slice must equal b14 row for row);
  *   2. no account ever sees a doc outside its grant (the g2 masking
  *      discipline at the retrieval tier);
  *   3. `Bm25.servedTopK` under an (account, doc_id) grant equals it
  *      under each account's own doc_id grant — scoped df and scoped
  *      N/avgdl, dimension-widened, i.e. each account's slice ≡ an
  *      index built on its grant alone;
  *   4. a grant is a set: a repeated pair serves exactly what the
  *      deduplicated grant serves, with and without an account column.
  */
class MultiGrantSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private def grantPairs = Tables.load(spark, d, "documents")
    .join(RetrievalQueries.GrantRows.toDF("account", "source"),
      Seq("source"))
    .select("account", "doc_id")

  test("acct_a's b15 slice equals b14 row for row (its grant IS b14's scope)") {
    val b15 = SparkEntry.queries("b15_hybrid_multi_grant")(spark, d)
      .filter(col("account") === "acct_a")
      .select("query_id", "rnk", "doc_id", "rrf_e12", "n_lists")
      .orderBy("query_id", "rnk")
      .collect().map(_.toString).toSeq
    val b14 = SparkEntry.queries("b14_hybrid_filtered")(spark, d)
      .select("query_id", "rnk", "doc_id", "rrf_e12", "n_lists")
      .orderBy("query_id", "rnk")
      .collect().map(_.toString).toSeq
    assert(b15.nonEmpty)
    assert(b15 === b14,
      "acct_a's multi-grant slice diverged from the single-grant entry")
  }

  test("no account sees a doc outside its grant; every account is served") {
    val granted = grantPairs.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val out = SparkEntry.queries("b15_hybrid_multi_grant")(spark, d)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val acct = r.getAs[String]("account")
      val doc = r.getAs[Long]("doc_id")
      assert(granted((acct, doc)),
        s"$acct was served doc $doc outside its grant")
    }
    val accounts = out.map(_.getAs[String]("account")).toSet
    assert(accounts ===
      RetrievalQueries.GrantRows.map(_._1).toSet,
      "an account with a grant got no results on this fixture")
    // the overlapping source (acct_a ∩ acct_b share one feed) really
    // fans out: at least one granted doc is served to BOTH accounts,
    // so the shared posting/code rows are priced once per account,
    // not deduplicated across the account dimension
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
      .filter(_._2.map(_.getAs[String]("account")).toSet.size > 1)
    assert(byDoc.nonEmpty,
      "no doc served to both accounts — the overlap case is untested")
  }

  private val accounts = RetrievalQueries.GrantRows.map(_._1).distinct

  private def accountQueries = accounts
    .flatMap(a => RetrievalQueries.Queries.map {
      case (qid, t) => (a, qid, t) })
    .toDF("account", "query_id", "q_text")

  private def served(queries: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): Seq[String] = {
    val dir = RetrievalQueries.servedBm25Dir(spark, d)
    Bm25.servedTopK(spark, dir, queries, RetrievalQueries.HybK,
        Some(Bm25.grant(spark, dir, pairs)))
      .orderBy((queries.columns.filterNot(_ == "q_text") :+ "rnk").map(col): _*)
      .collect().map(_.toString).toSeq
  }

  test("per-account grant serve ≡ each account's scoped serve (scoped df + scoped N/avgdl, dimension-widened)") {
    val pairs = grantPairs.localCheckpoint()
    val multi = served(accountQueries, pairs)
    val perAccount = accounts.flatMap { a =>
      val dir = RetrievalQueries.servedBm25Dir(spark, d)
      Bm25.servedTopK(spark, dir,
          RetrievalQueries.Queries.toDF("query_id", "q_text"),
          RetrievalQueries.HybK, Some(Bm25.grant(spark, dir,
            pairs.filter(col("account") === a).select("doc_id"))))
        .select(lit(a).as("account"), col("query_id"), col("rnk"),
          col("doc_id"), col("score_e15"), col("n_matched_terms"))
        .collect().map(_.toString).toSeq
    }
    assert(multi.nonEmpty)
    assert(multi === perAccount,
      "the one-plan multi-grant serve diverged from per-account scoped serves")
  }

  test("a grant is a set: a repeated pair serves what the deduplicated grant serves") {
    val pairs = grantPairs.localCheckpoint()
    // repeat every acct_a pair: at the inner-joined per-account face
    // this doubled those docs' df, scores, n_matched_terms and n_docs
    val repeated = pairs.union(pairs.filter(col("account") === "acct_a"))
    assert(repeated.count() > pairs.count())
    assert(served(accountQueries, repeated) === served(accountQueries, pairs),
      "a repeated (account, doc_id) row changed the per-account serve")
    val allowed = pairs.filter(col("account") === "acct_a").select("doc_id")
    val queries = RetrievalQueries.Queries.toDF("query_id", "q_text")
    assert(served(queries, allowed.union(allowed)) === served(queries, allowed),
      "a repeated doc_id changed the single-consumer serve")
  }
}
