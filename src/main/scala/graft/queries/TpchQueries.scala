package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Classic warehouse analytics over the harness star schema (TPC-H-shaped
  * pricing summary / shipping-priority / local-volume queries) — general
  * OLAP capability beyond the reference's own models, and the canonical
  * shapes the engine must keep fast at scale: partial-agg group-bys,
  * broadcast-dim joins over a large fact, decimal-exact money math.
  *
  * Decimal discipline (cross-engine exact): money doubles are cast to
  * DECIMAL(18,2) per row (tie-free — inputs are 2-dec values), products
  * keep their full scale, sums aggregate in DECIMAL (exact, order-
  * independent) — but every OUTPUT column is DOUBLE (the decimal→double
  * cast is correctly rounded in both engines; DECIMAL outputs are
  * normalized differently by downstream decimal→float conversions).
  * Averages divide the sum-double by the count-double (identical IEEE
  * division) — never a decimal division, whose scale/rounding rules
  * differ per engine.
  */
object TpchQueries {

  private def dec2(c: String) = col(c).cast(DecimalType(18, 2))

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    // Q1-shaped pricing summary: scan-heavy partial+final aggregation.
    "tpch_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec2("l_quantity")).cast(DoubleType).as("sum_qty"),
          sum(dec2("l_extendedprice")).cast(DoubleType).as("sum_base_price"),
          sum(dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount")))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order").cast(DoubleType))
        .withColumn("avg_price", col("sum_base_price") / col("count_order").cast(DoubleType))),

    // Q3-shaped shipping priority: selective dim filter -> fact join ->
    // grouped revenue -> deterministic top-k.
    "tpch_top_orders" -> ((s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast(TimestampType))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1997-01-01 00:00:00").cast(TimestampType))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount")))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // Q5-shaped local-supplier volume: 6-way star join, region-filtered,
    // revenue per nation. Dims broadcast; the two fact-side tables join
    // on their keys.
    "tpch_regional_volume" -> ((s, d) => {
      val asia = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val nat = Tables.nation(s, d).join(broadcast(asia),
        col("n_regionkey") === col("r_regionkey"))
      val supp = Tables.supplier(s, d)
      val cust = Tables.customer(s, d)
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount")))
          .cast(DoubleType).as("revenue"))
    }),

    // Q4-shaped priority check: EXISTS → left-semi join with a composite
    // (equi + range) condition — orders with any line shipped more than
    // 90 days after the order date.
    "tpch_late_orders" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      Tables.orders(s, d)
        .join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // Q14-shaped promo share: conditional decimal aggregation (sum over a
    // CASE with no ELSE — nulls drop out of the sum identically in both
    // engines); the share divides the two DOUBLE-cast sums, the one IEEE
    // shape that is engine-stable.
    "tpch_promo_revenue" -> ((s, d) => {
      val product =
        dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-03-01 00:00:00").cast(TimestampType))
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", product)).cast(DoubleType).as("promo_revenue"),
          sum(product).cast(DoubleType).as("total_revenue"))
        .withColumn("promo_share",
          lit(100.0) * col("promo_revenue") / col("total_revenue"))
    }),

    // Q10-shaped returned-item report: 4-way star join over the returned
    // slice, per-customer revenue, deterministic top-20.
    "tpch_returned_customers" -> ((s, d) =>
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount")))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)),

    // Q19-shaped bracketed predicate: equi join + an OR-of-ANDs residual
    // mixing columns from BOTH sides — the disjunction Catalyst keeps as
    // a post-join filter while still hashing the equi key.
    "tpch_bracketed_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity") >= 1 && col("l_quantity") <= 20) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity") >= 10 && col("l_quantity") <= 30))
        .agg(count(lit(1)).as("n_lines"),
          sum(dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount")))
            .cast(DoubleType).as("revenue"))),

    // Q6-shaped forecast: pure filter-aggregate, no join — the predicate
    // trio pushes to the scan; revenue aggregates exactly (the 2dp ×
    // 2dp product is an exact 4dp decimal).
    "tpch_forecast_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01 00:00:00").cast(TimestampType) &&
          col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07) &&
          col("l_quantity") < lit(24))
        .agg(count(lit(1)).as("n_lines"),
          sum(dec2("l_extendedprice") * dec2("l_discount"))
            .cast(DoubleType).as("revenue"))),

    // Q13-shaped order-count distribution: LEFT join so zero-order
    // customers land in the 0 bucket, then a histogram of the counts —
    // the two-level aggregation shape.
    "tpch_order_distribution" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),

    // Q15-shaped top supplier: per-supplier quarterly revenue, then the
    // max-revenue row(s) via a 1-row broadcast `max(total_revenue)`
    // equi-filter — the spec's own `= max(total_revenue)` subquery shape.
    // Ties all kept. No window at all: the previous unpartitioned
    // rank() was dim-sized here but was the one global window in a
    // registered plan, and a global window is a single-task sort at any
    // cardinality — the broadcast-max filter scales with the aggregate
    // instead.
    "tpch_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-04-01 00:00:00").cast(TimestampType))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount")))
          .cast(DoubleType).as("total_revenue"))
      val best = broadcast(rev.agg(max(col("total_revenue")).as("__max_rev")))
      rev.join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .crossJoin(best)
        .filter(col("total_revenue") === col("__max_rev"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),

    // Q22-shaped sales opportunity: rich customers (above the positive-
    // balance mean — an exact DECIMAL sum divided as DOUBLE, never a
    // bare double avg whose summation order differs per engine) with no
    // RECENT orders (anti join on the filtered fact; every harness
    // customer has SOME order, so recency is what makes the anti join
    // bite), grouped by nation.
    "tpch_sales_opportunity" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val threshold = broadcast(cust.filter(col("c_acctbal") > 0)
        .agg((sum(dec2("c_acctbal")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_bal")))
      cust.crossJoin(threshold)
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast(TimestampType))
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("numcust"),
          sum(dec2("c_acctbal")).cast(DoubleType).as("totacctbal"))
    }),

    "tpch_min_cost_supplier" -> ((s, d) => minCostSql(s, d)),
    "tpch_bilateral_volume" -> ((s, d) => bilateralVolume(s, d)),

    // Q8-shaped market share: one nation's slice of a region's import
    // volume per year — conditional numerator over the same rows as the
    // denominator (one pass, no self-join), share as the engine-stable
    // DOUBLE division of two exact DECIMAL sums.
    "tpch_market_share" -> ((s, d) => {
      val europe = Tables.region(s, d).filter(col("r_name") === "EUROPE")
      val natCust = Tables.nation(s, d).join(broadcast(europe),
        col("n_regionkey") === col("r_regionkey"))
      val suppNat = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val vol = dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(natCust), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNat), col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", vol)).cast(DoubleType).as("nation_volume"),
          sum(vol).cast(DoubleType).as("total_volume"))
        .withColumn("mkt_share",
          coalesce(col("nation_volume"), lit(0.0)) / col("total_volume"))
    }),

    // Q9-shaped product profit: per supplier-nation / order-year margin.
    // The harness has no partsupp, so unit cost is the part's list price
    // (p_retailprice) — the SHAPE is what matters: fact → part + supplier
    // + nation joins, derived per-line margin, two-key rollup. All money
    // math stays DECIMAL until the output cast.
    "tpch_product_profit" -> ((s, d) => {
      val profit = dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount")) -
        dec2("p_retailprice") * dec2("l_quantity")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_type") === "STANDARD")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("supp_nation"), year(col("l_shipdate")).as("ship_year"))
        .agg(sum(profit).cast(DoubleType).as("profit"))
        .select(col("supp_nation"), col("ship_year"), col("profit"))
    }),

    // Q11-shaped important parts: per-part value for one nation's
    // suppliers, kept when above a fraction of the group total. The
    // threshold compare runs in exact DECIMAL (value*1000 > total) so
    // borderline rows can't flip between engines; the scalar total rides
    // a broadcast cross join, not a second scan of a collected value.
    "tpch_important_parts" -> ((s, d) => {
      val suppN5 = Tables.supplier(s, d).filter(col("s_nationkey") === 5)
      val value = Tables.lineitem(s, d)
        .join(broadcast(suppN5), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(dec2("l_extendedprice")).as("val_dec"))
      val total = broadcast(value.agg(sum(col("val_dec")).as("total_dec")))
      value.crossJoin(total)
        .filter(col("val_dec") * lit(1000) > col("total_dec"))
        .select(col("l_partkey"), col("val_dec").cast(DoubleType).as("part_value"))
    }),

    // Q12-shaped shipping priority: lateness buckets × priority-class
    // conditional counts — the sum-of-CASE double pivot over a single
    // fact/orders join.
    "tpch_shipping_priority" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "LATE").otherwise("ONTIME").as("ship_bucket"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_priority_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("low_priority_count"))),

    // Q16-shaped supplier diversity: distinct-supplier counts per part
    // bucket, with a NOT-IN supplier blacklist (negative balance standing
    // in for the spec's complaints filter) as a broadcast anti join —
    // never a driver-side collected list.
    "tpch_part_supplier_counts" -> ((s, d) => {
      val blacklist = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      Tables.lineitem(s, d)
        .join(broadcast(blacklist), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // Q17-shaped small-quantity revenue: the spec's correlated
    // avg-quantity subquery re-expressed as a per-part aggregate joined
    // back to the fact. l_quantity is integral, so the 20%-of-average
    // predicate becomes the EXACT integer compare 5*qty*cnt < sum_qty —
    // no float threshold to flip borderline rows.
    "tpch_small_qty_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val perPart = li.groupBy(col("l_partkey").as("pp_key"))
        .agg(sum(col("l_quantity").cast(LongType)).as("sum_qty"),
          count(lit(1)).as("cnt"))
      li.join(broadcast(Tables.part(s, d).filter(col("p_brand") === "Brand#3")),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pp_key"))
        .filter(col("l_quantity").cast(LongType) * lit(5L) * col("cnt") < col("sum_qty"))
        .agg((sum(dec2("l_extendedprice")).cast(DoubleType) / lit(7.0)).as("avg_yearly"))
    }),

    // Q18-shaped large-volume customers: group-HAVING over the fact, then
    // dims joined to the surviving handful — aggregate first, join the
    // 46-row result, never the other way around.
    "tpch_large_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(LongType)).as("total_qty"))
        .filter(col("total_qty") > 300L)
      big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    }),

    // Q20-shaped excess-stock suppliers: suppliers holding a majority
    // share of any PROMO part's 1997 volume, filtered to one nation — a
    // two-level quantity rollup feeding a semi join; the share compare is
    // exact integer (q*2 > total).
    "tpch_excess_suppliers" -> ((s, d) => {
      val promo97 = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01 00:00:00").cast(TimestampType))
        .join(broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(LongType)).as("q"))
      val perPart = promo97.groupBy(col("l_partkey").as("pt_key"))
        .agg(sum(col("q")).as("tq"))
      val majority = promo97.join(perPart, col("l_partkey") === col("pt_key"))
        .filter(col("q") * lit(2L) > col("tq"))
        .select(col("l_suppkey"))
      Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .join(majority, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }),

    // Q21-shaped blamed suppliers: the sole-late-supplier triple self-
    // reference — late lines of 'F' orders, semi-joined to "another
    // supplier participated", anti-joined to "another supplier was ALSO
    // late". Both self-joins hash on l_orderkey with the supplier
    // inequality as residual; nothing degenerates to a nested loop.
    "tpch_blamed_suppliers" -> ((s, d) => {
      val late = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 100 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val others = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o2_orderkey"), col("l_suppkey").as("o2_suppkey"))
      val lateOthers = late
        .select(col("l_orderkey").as("o3_orderkey"), col("l_suppkey").as("o3_suppkey"))
      late
        .join(others, col("l_orderkey") === col("o2_orderkey") &&
          col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
        .join(lateOthers, col("l_orderkey") === col("o3_orderkey") &&
          col("l_suppkey") =!= col("o3_suppkey"), "left_anti")
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(20)
    })
  )

  /** Correlated-subquery shape (min-cost supplier per part, Q2-like):
    * written as SQL text so Catalyst's subquery decorrelation
    * (RewriteCorrelatedScalarSubquery) does the planning — the point is
    * that the engine takes declarative correlated SQL and produces a
    * join+agg plan, not that we hand-write the join. */
  private def minCostSql(spark: SparkSession, d: String): DataFrame = {
    Tables.lineitem(spark, d).createOrReplaceTempView("li_v")
    spark.sql("""
      SELECT l_partkey, l_suppkey, l_extendedprice AS min_price
      FROM li_v l1
      WHERE l_extendedprice = (SELECT min(l_extendedprice) FROM li_v l2
                               WHERE l2.l_partkey = l1.l_partkey)""")
  }

  /** Q7-like bilateral volume: two-nation shipping pairs by year. */
  private def bilateralVolume(spark: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(spark, d).filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, d).filter(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey").as("cust_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(spark, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("supp_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("cust_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(sum(dec2("l_extendedprice") * (lit(BigDecimal(1).setScale(2)) - dec2("l_discount")))
        .cast(DoubleType).as("volume"))
  }

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    "tpch_late_orders" -> """
SELECT o_orderpriority, count(*) AS order_count
FROM orders WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority""",

    "tpch_promo_revenue" -> s"""
SELECT promo_revenue, total_revenue,
       (CAST(100 AS DOUBLE) * promo_revenue) / total_revenue AS promo_share
FROM (
  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN $discPrice END) AS DOUBLE) AS promo_revenue,
         CAST(sum($discPrice) AS DOUBLE) AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00')""",

    "tpch_returned_customers" -> s"""
SELECT c_custkey, c_name, n_name, revenue FROM (
  SELECT c_custkey, c_name, n_name, CAST(sum($discPrice) AS DOUBLE) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY c_custkey, c_name, n_name)
ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",

    "tpch_bracketed_revenue" -> s"""
SELECT count(*) AS n_lines, CAST(sum($discPrice) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)""",

    "tpch_forecast_revenue" -> s"""
SELECT count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= CAST('0.05' AS DOUBLE) AND l_discount <= CAST('0.07' AS DOUBLE)
  AND l_quantity < 24""",

    "tpch_order_distribution" -> """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count""",

    "tpch_top_supplier" -> s"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum($discPrice) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",

    "tpch_sales_opportunity" -> """
WITH t AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_bal
  FROM customer WHERE c_acctbal > 0)
SELECT n_name, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey CROSS JOIN t
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY n_name""",

    "tpch_pricing_summary" -> s"""
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum($discPrice) AS DOUBLE) AS sum_disc_price,
  count(*) AS count_order,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",

    "tpch_top_orders" -> s"""
SELECT o.o_orderkey, CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate, o.o_orderpriority,
       CAST(sum($discPrice) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10""",

    "tpch_regional_volume" -> s"""
SELECT n.n_name,
       CAST(sum($discPrice) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name""",

    "tpch_min_cost_supplier" -> """
SELECT l_partkey, l_suppkey, l_extendedprice AS min_price
FROM lineitem l1
WHERE l_extendedprice = (SELECT min(l_extendedprice) FROM lineitem l2
                         WHERE l2.l_partkey = l1.l_partkey)""",

    "tpch_bilateral_volume" -> s"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
       CAST(sum($discPrice) AS DOUBLE) AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2') AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)""",

    "tpch_market_share" -> s"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(sum(CASE WHEN sn.n_name = 'NATION_3' THEN $discPrice END) AS DOUBLE) AS nation_volume,
       CAST(sum($discPrice) AS DOUBLE) AS total_volume,
       coalesce(CAST(sum(CASE WHEN sn.n_name = 'NATION_3' THEN $discPrice END) AS DOUBLE), CAST(0 AS DOUBLE))
         / CAST(sum($discPrice) AS DOUBLE) AS mkt_share
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region r ON cn.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE r.r_name = 'EUROPE'
GROUP BY year(o_orderdate)""",

    "tpch_product_profit" -> s"""
SELECT n_name AS supp_nation, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(sum($discPrice
         - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'STANDARD'
GROUP BY n_name, year(l_shipdate)""",

    "tpch_important_parts" -> """
WITH v AS (
  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val_dec
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey = 5
  GROUP BY l_partkey)
SELECT l_partkey, CAST(val_dec AS DOUBLE) AS part_value
FROM v
WHERE val_dec * 1000 > (SELECT sum(val_dec) FROM v)""",

    "tpch_shipping_priority" -> """
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1""",

    "tpch_part_supplier_counts" -> """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1,5,10,15,20,25,30,35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size""",

    "tpch_small_qty_revenue" -> """
WITH pa AS (
  SELECT l_partkey AS pp_key, sum(CAST(l_quantity AS BIGINT)) AS sum_qty, count(*) AS cnt
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pa ON l_partkey = pp_key
WHERE p_brand = 'Brand#3'
  AND CAST(l_quantity AS BIGINT) * 5 * cnt < sum_qty""",

    "tpch_large_orders" -> """
SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
       o_totalprice, total_qty
FROM (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 300) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100""",

    "tpch_excess_suppliers" -> """
WITH ps AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS BIGINT)) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey),
pt AS (SELECT l_partkey, sum(q) AS tq FROM ps GROUP BY l_partkey)
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND s_suppkey IN (SELECT l_suppkey FROM ps JOIN pt USING (l_partkey) WHERE ps.q * 2 > pt.tq)""",

    "tpch_blamed_suppliers" -> """
SELECT s_name, numwait FROM (
  SELECT s_name, count(*) AS numwait
  FROM supplier
  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
  JOIN orders ON o_orderkey = l1.l_orderkey
  WHERE o_orderstatus = 'F'
    AND l1.l_shipdate > o_orderdate + INTERVAL 100 DAY
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o_orderdate + INTERVAL 100 DAY)
  GROUP BY s_name)
ORDER BY numwait DESC, s_name ASC
LIMIT 20"""
  )
}
