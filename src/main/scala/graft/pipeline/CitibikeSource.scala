package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SessionStore, Tables}

/** The reference's shared read-only source DB
  * (`snowflake_demo_resources.citibike_reset_v2.{trips,stations,programs}`,
  * dp_demo.sql:27-33) re-derived deterministically from the driver's
  * testdata so the whole pipeline runs against `/root/testdata` without
  * synthesizing any rows of our own:
  *
  *   - trips    ← `lineitem` (one trip per line item; `l_shipdate` is the
  *                trip day, all derived columns are pure integer/interval
  *                arithmetic so the DuckDB oracle can reproduce them
  *                bit-for-bit)
  *   - stations ← `supplier` (s_suppkey 0..S-1 contiguous — verified)
  *   - programs ← `nation`   (n_nationkey 0..24 contiguous)
  *
  * Foreign keys are valid by construction: start_station_id = l_suppkey
  * ∈ supplier, end_station_id = l_partkey % S ∈ supplier,
  * program_id = l_orderkey % 25 ∈ nation — so the reference's inner
  * 3-join (dp_setup.sql:76-79) drops no rows and golden counts are
  * computable directly from `lineitem`.
  */
object CitibikeSource {

  /** Trip fact source. `bikeid = l_orderkey*8 + l_linenumber` is unique
    * (linenumber ≤ 7), giving every trip a deterministic tie-break key.
    */
  def trips(spark: SparkSession, sfDir: String): DataFrame = {
    val s = supplierCount(spark, sfDir)
    Tables.load(spark, sfDir, "lineitem").select(
      ((col("l_orderkey") * 7 + col("l_linenumber")) % 3540 + 60)
        .cast("int").as("tripduration"),
      expr("timestampadd(SECOND, (l_orderkey*8 + l_linenumber) % 86400, cast(l_shipdate as timestamp_ntz))")
        .as("starttime"),
      expr("timestampadd(SECOND, (l_orderkey*8 + l_linenumber) % 86400 + (l_orderkey*7 + l_linenumber) % 3540 + 60, cast(l_shipdate as timestamp_ntz))")
        .as("stoptime"),
      col("l_suppkey").cast("int").as("start_station_id"),
      (col("l_partkey") % s).cast("int").as("end_station_id"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("bikeid"),
      when(col("l_returnflag") === "R", "Subscriber").otherwise("Customer")
        .as("usertype"),
      (lit(1940) + col("l_suppkey") % 60).cast("int").as("birth_year"),
      (col("l_linenumber") % 3).cast("int").as("gender"),
      (col("l_orderkey") % 25).cast("int").as("program_id"))
  }

  /** Station dimension source (station_id 0..S-1). Coordinates are exact
    * integer-over-power-of-ten doubles — identical in any IEEE engine.
    */
  def stations(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "supplier").select(
      col("s_suppkey").cast("int").as("station_id"),
      col("s_name").as("station_name"),
      (lit(40.0) + col("s_suppkey").cast("double") / 1000).as("station_latitude"),
      (lit(-74.0) - col("s_suppkey").cast("double") / 1000).as("station_longitude"))

  def programs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "nation").select(
      col("n_nationkey").cast("int").as("program_id"),
      col("n_name").as("program_name"))

  // Memoized: the count is a plan-build-time scalar, and paying a Spark
  // action on every trips() plan construction is measurable overhead
  // (supplier is dimension-sized at any SF, but the job launch isn't free).
  def supplierCount(spark: SparkSession, sfDir: String): Long =
    SessionStore.memo(spark, "supplier_count", sfDir)(
      Tables.load(spark, sfDir, "supplier").count())

  /** The SQL used to derive trips, for embedding in DuckDB oracle queries
    * (supplier count via scalar subquery so the same text works at any SF).
    */
  val tripsOracleSql: String =
    """SELECT CAST((l_orderkey*7 + l_linenumber) % 3540 + 60 AS INTEGER) AS tripduration,
       l_shipdate + INTERVAL ((l_orderkey*8 + l_linenumber) % 86400) SECOND AS starttime,
       l_shipdate + INTERVAL ((l_orderkey*8 + l_linenumber) % 86400 + (l_orderkey*7 + l_linenumber) % 3540 + 60) SECOND AS stoptime,
       CAST(l_suppkey AS INTEGER) AS start_station_id,
       CAST(l_partkey % (SELECT count(*) FROM supplier) AS INTEGER) AS end_station_id,
       l_orderkey*8 + l_linenumber AS bikeid,
       CASE WHEN l_returnflag = 'R' THEN 'Subscriber' ELSE 'Customer' END AS usertype,
       CAST(1940 + l_suppkey % 60 AS INTEGER) AS birth_year,
       CAST(l_linenumber % 3 AS INTEGER) AS gender,
       CAST(l_orderkey % 25 AS INTEGER) AS program_id
       FROM lineitem"""
}
