package graft.serve

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Governed ("secure") views — the reference's step-7 surface
  * (dp_demo.sql:205-291): a view that row-filters and column-masks per
  * consumer account.
  *
  * Identity model (SURVEY §7.4 hard-part #6): the account is an explicit
  * function parameter, so it folds to a literal and Catalyst pushes the
  * `s.account = <acct>` filter below every join (the whole point of the
  * reference's design: the row filter hits the fact scan before 97.5M
  * rows move). There is no session fallback; the SQL surface's
  * `current_account()` reads `GraftFunctions.AccountConfKey` and returns
  * `UNKNOWN` when it is unset, which no share grants.
  *
  * Masking (dp_demo.sql:226-229): non-publisher accounts see
  * `REDACTED (<md5>)` instead of the real name — same `iff(acct IN
  * (publisher subquery), name, 'REDACTED (' || md5(name) || ')')` shape.
  */
object GovernedView {

  /** The security table (FIXTURES.md A.3 analogue over testdata): one row
    * per consumer account with its row-filter LIKE pattern. Tiny → always
    * broadcast; at scale this is a dimension a planner must never shuffle
    * a fact for.
    */
  def security(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("Publisher Account", "ACCT_PUB", "%"),
      ("NYCHA", "ACCT_NYCHA", "BUIL%"),
      ("JCHA", "ACCT_JCHA", "AUTO%")
    ).toDF("name", "account", "filter")
  }

  /** Column-masking expression: real value for publisher accounts,
    * REDACTED(md5) otherwise (dp_demo.sql:226-229).
    */
  def masked(value: Column, account: String, publisherAccounts: Seq[String]): Column =
    when(lit(account).isin(publisherAccounts.map(lit(_)): _*), value)
      .otherwise(concat(lit("REDACTED ("), md5(value), lit(")")))

  /** LIKE with a pattern *column* (P5, dp_demo.sql:236 — `program_name
    * like s.filter`): `Column.like` only takes literal patterns, but the
    * `functions.like` variant (Spark 3.5+) is column-general.
    */
  def likeCol(value: Column, pattern: Column): Column =
    org.apache.spark.sql.functions.like(value, pattern)

  /** The governed orders view for `account`: 3-way join (orders ⋈
    * customer ⋈ nation) + broadcast security row-filter (`c_mktsegment
    * LIKE s.filter`) + masked customer name — the secure-view shape of
    * dp_demo.sql:222-239 re-expressed over the testdata star schema.
    */
  def orders(spark: SparkSession, sfDir: String, account: String): DataFrame = {
    val o = Tables.load(spark, sfDir, "orders")
    val c = Tables.load(spark, sfDir, "customer")
    val n = Tables.load(spark, sfDir, "nation")
    val s = security(spark).filter(col("account") === account)
    // Publisher subquery (dp_demo.sql:226): accounts named 'Publisher
    // Account' see unmasked values. Collected driver-side — the security
    // table is governance metadata (handful of rows), never data-scale.
    val publishers = security(spark)
      .filter(col("name") === "Publisher Account")
      .select("account").collect().map(_.getString(0)).toSeq

    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(s), likeCol(c("c_mktsegment"), s("filter")))
      .select(
        o("o_orderkey"),
        date_trunc("hour", o("o_orderdate")).as("order_hour"),
        masked(c("c_name"), account, publishers).as("customer_name"),
        c("c_mktsegment").as("segment"),
        n("n_name").as("nation"),
        o("o_totalprice"),
        col("account").as("acct"))
  }
}
