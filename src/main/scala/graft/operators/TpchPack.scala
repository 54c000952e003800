package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-H-style analytical queries — the bench headliners exercising scan/
  * filter/multi-join/aggregate/window shapes (reference:
  * tools/benchmark_loader.py:139 benchmark_aggregation generalized).
  *
  * Money aggregates use integer-scaled exact sums: each term is snapped to
  * its exact decimal value in integer cents (floor(x·10^k + 0.5) — the
  * double product is within 1e-5 of the true decimal, so the snap is
  * exact), and integer sums are associativity-independent, hence
  * bit-identical across engines with no rounding tolerance at all.
  */
object TpchPack extends QueryPack {

  /** 1998-06-01 UTC in epoch millis — the Q1/Q3 date cut. */
  private val CutMs = 896659200000L

  /** Long sums are exact to 2^63 and match the oracle's BIGINT arithmetic;
    * summing the floor() doubles would silently lose exactness past 2^53.
    */
  private def e(scale: Long, c: org.apache.spark.sql.Column) =
    sum(floor(c * scale + lit(0.5)).cast("long"))

  /** The cut as a pushdown-friendly NTZ literal: comparing the raw column
    * beats unix_millis(cast(...)), which blocks parquet predicate pushdown.
    */
  private val CutTs = lit("1998-06-01 00:00:00").cast("timestamp_ntz")

  /** Q3 over caller-supplied raw tables — the registered query passes
    * the parquet feeds or the bucketed fact layout, whose co-located join
    * runs without an Exchange (BASELINE.md, round-14 bucketed layout).
    */
  def q3From(l0: DataFrame, o0: DataFrame, c0: DataFrame): DataFrame = {
    val c = c0.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = o0.filter(col("o_orderdate") < CutTs)
      .select(col("o_orderkey"), col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
        col("o_orderpriority"))
    val l = l0.filter(col("l_shipdate") > CutTs)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    // no forced broadcast on customer: it SCALES with SF (a hard hint
    // is a driver OOM at warehouse scale). Size-based planning + AQE
    // still broadcast it whenever it fits autoBroadcastJoinThreshold —
    // the identical plan at bench scale, the survivable one at 100 TB.
    // Forced hints are reserved for FIXED-cardinality dims
    // (region=5, nation=25).
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate_ms", "o_orderpriority")
      .agg(e(10000L, col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_e4"))
      .select(col("l_orderkey"), col("o_orderdate_ms"), col("o_orderpriority"),
        (col("rev_e4") / 10000.0).as("revenue"), col("rev_e4"))
      .orderBy(col("rev_e4").desc, col("l_orderkey")).limit(10)
      .drop("rev_e4")
  }

  /** Q10 over caller-supplied raw tables (see [[q3From]]). */
  def q10From(l0: DataFrame, o0: DataFrame, c0: DataFrame, n0: DataFrame): DataFrame = {
    // TPC-H Q10 shape: customers ranked by revenue lost to returns —
    // fact-to-fact join shuffles on orderkey, dims broadcast, exact
    // long-summed revenue
    val l = l0.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = o0.select(col("o_orderkey"), col("o_custkey"))
    val c = c0.select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val n = n0.select(col("n_nationkey"), col("n_name"))
    // customer scales with SF — rely on size-based/AQE broadcast;
    // nation is fixed-25-rows, hint stays
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(e(10000L, col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_e4"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"),
        (col("rev_e4") / 10000.0).as("revenue"), col("rev_e4"))
      .orderBy(col("rev_e4").desc, col("c_custkey")).limit(20)
      .drop("rev_e4")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> ((s, d) => {
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") <= CutTs)
      val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val charge = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * (lit(1.0) + col("l_tax"))
      l.groupBy("l_returnflag", "l_linestatus")
        .agg(
          e(100L, col("l_quantity")).as("qty_e2"),
          e(100L, col("l_extendedprice")).as("base_e2"),
          e(10000L, discPrice).as("disc_e4"),
          e(1000000L, charge).as("charge_e6"),
          e(100L, col("l_discount")).as("disc_e2"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("qty_e2") / 100.0).as("sum_qty"),
          (col("base_e2") / 100.0).as("sum_base_price"),
          (col("disc_e4") / 10000.0).as("sum_disc_price"),
          (col("charge_e6") / 1000000.0).as("sum_charge"),
          (col("qty_e2") / 100.0 / col("count_order")).as("avg_qty"),
          (col("base_e2") / 100.0 / col("count_order")).as("avg_price"),
          (col("disc_e2") / 100.0 / col("count_order")).as("avg_disc"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // q3/q10 read the session's bucketed fact layout when available
    // (BucketedTables.factLayout — co-located orderkey buckets, no
    // shuffle Exchange on the fact join); plain parquet otherwise.
    // Same rows either way, oracle unchanged.
    "q3_shipping_priority" -> ((s, d) => {
      val (l, o) = graft.sources.BucketedTables.factLayout(s, d)
      q3From(l, o, Tables.customer(s, d))
    }),
    "q5_local_supplier" -> ((s, d) => {
      val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d).join(broadcast(asia),
        col("n_regionkey") === col("r_regionkey")).select("n_nationkey", "n_name")
      val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        // supplier scales with SF — rely on size-based/AQE broadcast
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(e(10000L, col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_e4"),
          count(lit(1)).as("n_items"))
        .select(col("n_name"), (col("rev_e4") / 10000.0).as("revenue"), col("n_items"))
        .orderBy(col("n_name"))
    }),
    "q10_returned_items" -> ((s, d) => {
      val (l, o) = graft.sources.BucketedTables.factLayout(s, d)
      q10From(l, o, Tables.customer(s, d), Tables.nation(s, d))
    }),
    "q_top_customers_per_nation" -> ((s, d) => {
      val w = Window.partitionBy("n_name").orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("n_name", "rank", "c_custkey", "c_name", "c_acctbal")
        .orderBy("n_name", "rank")
    })
  )

  def oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
         |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
         |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_disc_price,
         |  CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) / 1000000.0 AS sum_charge,
         |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 / count(*) AS avg_qty,
         |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 / count(*) AS avg_price,
         |  CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem WHERE epoch_ms(l_shipdate) <= $CutMs
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate_ms, o_orderpriority, rev_e4 / 10000.0 AS revenue FROM (
         |  SELECT l.l_orderkey, epoch_ms(o.o_orderdate) AS o_orderdate_ms, o.o_orderpriority,
         |         CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS rev_e4
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  WHERE c.c_mktsegment = 'BUILDING'
         |    AND epoch_ms(o.o_orderdate) < $CutMs
         |    AND epoch_ms(l.l_shipdate) > $CutMs
         |  GROUP BY 1, 2, 3)
         |ORDER BY rev_e4 DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n.n_name,
        |       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name, rev_e4 / 10000.0 AS revenue FROM (
        |  SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |         CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS rev_e4
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE l.l_returnflag = 'R'
        |  GROUP BY 1, 2, 3, 4)
        |ORDER BY rev_e4 DESC, c_custkey LIMIT 20""".stripMargin,
    "q_top_customers_per_nation" ->
      """SELECT n_name, rank, c_custkey, c_name, c_acctbal FROM (
        |  SELECT n.n_name, c.c_custkey, c.c_name, c.c_acctbal,
        |         row_number() OVER (PARTITION BY n.n_name
        |                            ORDER BY c.c_acctbal DESC, c.c_custkey) AS rank
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |WHERE rank <= 3 ORDER BY n_name, rank""".stripMargin
  )
}
