package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.checks._
import graft.functions.Fns.commaDecimal
import graft.models.TestdataAdapter

/** Data-quality operator queries (SURVEY.md §2.10 Q1-Q12, §2.7 U2): the
  * check library evaluated over harness tables, plus the staging composite
  * validator and the symmetric set-sync diff. */
object CheckQueries {

  private def lineitemChecks = Seq(
    SchemaSuperset(Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"),
      name = "schema_superset"),
    RowCountMin(100, name = "row_count_min"),
    NonNull(Seq("l_orderkey", "l_partkey"), name = "non_null_keys"),
    UniqueKey(Seq("l_orderkey", "l_linenumber"), name = "unique_line"),
    RangeMin("l_quantity", 1, name = "qty_gte_1"),
    RangeMin("l_discount", 0.01, name = "disc_gte_min"),
    AcceptedValues("l_returnflag", Seq("A", "N", "R"), name = "returnflag_enum"),
    ColumnGte("l_extendedprice", "l_quantity", name = "price_gte_qty"),
    FailedRowsWhere(col("l_discount") > 0.08, name = "high_discount"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    "dq_lineitem_suite" -> ((s, d) =>
      Checks.evaluateDf(Tables.lineitem(s, d), lineitemChecks)),

    "dq_staging_composite" -> ((s, d) => {
      val w = TestdataAdapter.mainWide(s, d)
      val input = w.select(
        col("id"), col("date"), col("channel"), col("campaign"),
        col("clicks"), col("impressions"),
        commaDecimal(col("media_cost_eur")).as("media_cost_eur"),
        commaDecimal(col("cpc")).as("cpc"), col("revenue"))
      Checks.evaluateDf(input, Checks.stagingDataChecks())
    }),

    "dq_failed_rows" -> ((s, d) =>
      Checks.failedRows(Tables.orders(s, d),
          FailedRowsWhere(col("o_totalprice") < 1500))
        .select(col("o_orderkey"), col("o_totalprice"))),

    "dq_set_sync" -> ((s, d) =>
      Checks.setSyncDiff(
        Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d).filter(col("c_custkey") % 3 =!= 0), "c_custkey")),

    // Declarative path: the SAME evaluator driven by a SodaCL config file
    // (the reference's soda layer) instead of hand-built Scala — the
    // loader is itself an oracle-gated operator.
    "dq_soda_yaml" -> ((s, d) =>
      Checks.evaluateDf(Tables.lineitem(s, d), SodaYaml.parse(lineitemSodaYaml).checks)),

    // One-pass column profiling over the fact table: every metric for
    // every column from a single scan (see Profiler scaladoc; the oracle
    // recomputes each column's row independently).
    // Population-stability-index drift monitor — the production DQ
    // check for "did this feed's distribution move": value histograms
    // (10 fixed-width bins, add-one smoothed) for the first vs second
    // half of the month, PSI = Σ (p−q)·ln(p/q) per event_type. Each
    // bin's term is rounded ONCE to a scaled BIGINT so the sum is
    // order-independent and engine-exact; the drift flag is an integer
    // compare. One scan, two keyed aggregations, a 50-row dense grid —
    // the same plan at any feed size.
    // METADATA-ONLY stats drift between table versions: on a 100 TB
    // table the question "did this feed's range move / did nulls creep
    // in since version V" is answered from two manifest parses, zero
    // files opened — statsSummary(v1) vs statsSummary(tip). Exact for
    // integral bands and null censuses. The construction shifts the
    // upper half's distribution (new key range + introduced nulls) so
    // both drift kinds trip.
    "dq_stats_drift" -> ((s, d) => {
      val root = Tables.freshTmpDir(s, "graft_statsdrift").getAbsolutePath
      val t = new graft.sources.SnapshotTable(s, root,
        statsCols = Seq("k", "cents"))
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val m = o.agg(max(col("k"))).head.getLong(0)
      t.commitAppend(o.filter(col("k") <= m / 2)) // v1: clean lower half
      t.commitAppend(o.filter(col("k") > m / 2) // v2: shifted + nully
        .select(col("k"), when(col("k") % 5 === 0, lit(null).cast("bigint"))
          .otherwise(col("cents")).as("cents")))
      val v1 = t.statsSummary(1L).map(c => c.column -> c).toMap
      val tip = t.statsSummary().map(c => c.column -> c).toMap
      val rows = Seq("k", "cents").map { c =>
        val (a, b) = (v1(c), tip(c))
        (c, a.minKey.get, a.maxKey.get, b.minKey.get, b.maxKey.get,
          a.nullCount.get, b.nullCount.get,
          b.minKey.get < a.minKey.get || b.maxKey.get > a.maxKey.get,
          b.nullCount.get > a.nullCount.get)
      }
      import s.implicits._
      rows.toDF("col_name", "min_v1", "max_v1", "min_tip", "max_tip",
        "nulls_v1", "nulls_tip", "range_extended", "nulls_introduced")
    }),

    "dq_psi_drift" -> ((s, d) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}
      val dbl = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
      val ev = Tables.events(s, d).select(col("event_type"),
        when(col("ts") < lit("2024-01-16 00:00:00").cast(TimestampType), "a")
          .otherwise("b").as("period"),
        least(lit(9L), floor(col("value") / lit(50.0)).cast(LongType)).as("bucket"))
      val cab = ev.groupBy(col("event_type"), col("bucket")).agg(
        sum(when(col("period") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("period") === "b", 1L).otherwise(0L)).as("cb"))
      val grid = cab.select(col("event_type")).distinct()
        .select(col("event_type"), explode(sequence(lit(0L), lit(9L))).as("bucket"))
      val dense = grid.join(cab, Seq("event_type", "bucket"), "left")
        .select(col("event_type"), col("bucket"),
          coalesce(col("ca"), lit(0L)).as("ca"), coalesce(col("cb"), lit(0L)).as("cb"))
      val tot = dense.groupBy(col("event_type"))
        .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
      dense.join(tot, "event_type")
        .withColumn("p", dbl(col("ca") + 1L) / dbl(col("ta") + 10L))
        .withColumn("q", dbl(col("cb") + 1L) / dbl(col("tb") + 10L))
        .withColumn("term_e9",
          round((col("p") - col("q")) * log(col("p") / col("q")) * 1e9).cast(LongType))
        .groupBy(col("event_type"))
        .agg(sum(col("ca")).as("n_before"), sum(col("cb")).as("n_after"),
          sum(col("term_e9")).as("psi_e9"))
        .select(col("event_type"), col("n_before"), col("n_after"), col("psi_e9"),
          (dbl(col("psi_e9")) / lit(1e9)).as("psi"),
          (col("psi_e9") > 100000000L).as("drifted"))
    }),

    // Two-sample Kolmogorov–Smirnov drift test — PSI's nonparametric,
    // bin-free sibling (PSI needs a binning choice; KS compares the FULL
    // empirical CDFs): D = sup|F95 − F96| over 1995-vs-1996 order
    // totals. The statistic is computed EXACTLY in integers: per
    // distinct value, the step contribution n1·N2 − n2·N1 prefix-sums
    // (in value order) to c1·N2 − c2·N1, so max |prefix| = D·N1·N2 with
    // no float anywhere. The global running sum uses the distributed
    // two-pass PrefixSum — NO global window at any input size; the
    // α=0.05 critical compare (1.358·√((n+m)/nm)) is ONE double formula
    // pinned textually on both engines. Output: one row.
    "dq_ks_test" -> ((s, d) => {
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val dbl = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
      val o = Tables.orders(s, d)
      def side(y: Int, i1: Long, i2: Long) =
        o.filter(year(col("o_orderdate")) === y)
          .select(col("o_totalprice").as("v"),
            lit(i1).as("in1"), lit(i2).as("in2"))
      val per = side(1995, 1L, 0L).unionByName(side(1996, 0L, 1L))
        .groupBy(col("v"))
        .agg(sum(col("in1")).as("n1"), sum(col("in2")).as("n2"))
      val tot = broadcast(
        per.agg(sum(col("n1")).as("tn1"), sum(col("n2")).as("tn2")))
      val contrib = per.crossJoin(tot)
        .select(col("v"),
          (col("n1") * col("tn2") - col("n2") * col("tn1")).cast(LongType).as("cd0"))
      val cum = graft.operators.PrefixSum
        .withGlobalPrefixSum(contrib, "v", "cd0", "cd")
      cum.agg(max(abs(col("cd"))).as("d_scaled"))
        .crossJoin(tot)
        .select(col("tn1").as("n1"), col("tn2").as("n2"), col("d_scaled"),
          expr("d_scaled * 1000000 DIV (tn1 * tn2)").as("d_ppm"),
          ((dbl(col("d_scaled")) / (dbl(col("tn1")) * dbl(col("tn2")))) >
            (lit(1.358) * sqrt((dbl(col("tn1")) + dbl(col("tn2"))) /
              (dbl(col("tn1")) * dbl(col("tn2")))))).as("drift_detected"))
    }),

    // Benford first-digit conformance — the classic synthetic/fraud
    // detector on money columns. Leading digit is taken from the exact
    // integer cents' DECIMAL STRING (no log10 at bin edges, no float
    // formatting drift); expected shares are hard-coded log10(1+1/d)
    // ppm constants, deviations integer-exact.
    "dq_benford" -> ((s, d) => {
      val expPpm = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
        5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
      val counts = Tables.orders(s, d)
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .filter(col("cents") > 0L)
        .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS INT)").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = broadcast(counts.agg(sum(col("n")).as("t")))
      val expCol = expPpm.foldLeft(lit(0L)) { case (acc, (dg, p)) =>
        when(col("digit") === dg, lit(p)).otherwise(acc)
      }
      counts.crossJoin(tot)
        .withColumn("obs_ppm", expr("n * 1000000 DIV t"))
        .withColumn("exp_ppm", expCol)
        .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
          abs(col("obs_ppm") - col("exp_ppm")).as("dev_ppm"),
          (abs(col("obs_ppm") - col("exp_ppm")) > 50000L).as("suspicious"))
    }),

    "dq_profile" -> ((s, d) =>
      Profiler.profile(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber", "l_quantity",
          "l_returnflag", "l_linestatus", "l_shipdate"))),

    // Referential-integrity sweep — the FK-orphan DQ check (Q-family
    // completion): child rows whose foreign key has no parent, per
    // relation, via left-anti joins (the only join shape whose output
    // scales with the VIOLATIONS, not the fact). Parent sides are dims;
    // at cluster scale each anti join broadcasts or AQE-picks.
    "dq_fk_orphans" -> ((s, d) => {
      def rel(name: String, child: DataFrame, ck: String,
              parent: DataFrame, pk: String): DataFrame = {
        val nc = child.agg(count(lit(1)).as("n_child"))
        val orph = child.select(col(ck).as("k"))
          .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        nc.crossJoin(orph)
          .select(lit(name).as("relation"), col("n_child"), col("n_orphans"),
            (col("n_orphans") === 0L).as("ok"))
      }
      val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
      val c = Tables.customer(s, d); val n = Tables.nation(s, d)
      rel("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(rel("lineitem.l_partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionByName(rel("lineitem.l_suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"))
        .unionByName(rel("orders.o_custkey->customer", o, "o_custkey",
          c, "c_custkey"))
        .unionByName(rel("customer.c_nationkey->nation", c, "c_nationkey",
          n, "n_nationkey"))
        .unionByName(rel("nation.n_regionkey->region", n, "n_regionkey",
          Tables.region(s, d), "r_regionkey"))
    }),

    // Categorical-column entropy profile — the cardinality-health DQ
    // readout (a near-zero entropy flags a column gone constant; a jump
    // flags an encoding change). Per-value −p·ln p terms are rounded
    // ONCE to scaled BIGINT and integer-summed (order/partitioning-
    // independent, the unigram-surprisal discipline); value counts are
    // one hash agg per column over a shared scan.
    "dq_column_entropy" -> ((s, d) => {
      def colEntropy(df: DataFrame, cname: String): DataFrame = {
        val c = df.groupBy(col(cname).cast("string").as("v"))
          .agg(count(lit(1)).as("c"))
        c.crossJoin(broadcast(c.agg(sum(col("c")).as("n"))))
          .select(lit(cname).as("column_name"), col("c"), col("n"),
            expr("""CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                  | * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9) AS BIGINT)"""
              .stripMargin).as("term_e9"))
          .groupBy(col("column_name"))
          .agg(min(col("n")).as("n_rows"), count(lit(1)).as("n_distinct"),
            sum(col("term_e9")).as("entropy_e9"))
          .select(col("column_name"), col("n_rows"), col("n_distinct"),
            col("entropy_e9"),
            expr("round(CAST(entropy_e9 AS DOUBLE) / 1e9, 6)").as("entropy_nats"))
      }
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      colEntropy(li, "l_returnflag")
        .unionByName(colEntropy(li, "l_linestatus"))
        .unionByName(colEntropy(o, "o_orderstatus"))
        .unionByName(colEntropy(o, "o_orderpriority"))
    }),

    // Pearson chi-square 2×2 A/B test — the experiment-readout check:
    // variant by user-id parity (deterministic, re-run stable), outcome
    // scale-invariant (purchase share of the user's events > 20%, the
    // uniform-mix expectation — never an absolute count that saturates
    // at bigger SFs). All four cell counts are exact integers from one
    // aggregation; rates are integer ppm; the chi-square statistic is a
    // single double formula over those integers, computed once and
    // rounded once, with the 0.05 critical value pinned as a boolean.
    "dq_ab_test" -> ((s, d) => {
      val per = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"))
        .select((col("user_id") % 2 === 0).as("is_a"),
          (col("n_purch") * 5 > col("n_ev")).as("conv"))
      per.agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("is_a") && col("conv"), 1L).otherwise(0L)).as("conv_a"),
          sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("is_a") && col("conv"), 1L).otherwise(0L)).as("conv_b"))
        .withColumn("rate_a_ppm", expr("conv_a * 1000000 DIV n_a"))
        .withColumn("rate_b_ppm", expr("conv_b * 1000000 DIV n_b"))
        .withColumn("chi2", expr(
          """round(CAST(n_a + n_b AS DOUBLE)
            | * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
            |    - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE))
            | * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
            |    - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE))
            | / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
            |    * CAST(conv_a + conv_b AS DOUBLE)
            |    * CAST(n_a - conv_a + n_b - conv_b AS DOUBLE)), 6)"""
            .stripMargin))
        .withColumn("significant", col("chi2") > lit(3.841459))
    })
  )

  /** SodaCL fixture over the harness lineitem table (the reference's
    * checks-for-table file shape, include/soda/checks). */
  private val lineitemSodaYaml = """
checks for lineitem:
  - schema:
      fail:
        when required column missing: [l_orderkey, l_quantity, l_returnflag]
        when wrong column type:
          l_orderkey: bigint
          l_returnflag: string
  - missing_count(l_orderkey) = 0:
      name: keys_present
  - duplicate_count(l_orderkey) = 0:
      name: order_unique
  - invalid_count(l_linenumber) = 0:
      name: linenumber_range
      valid min: 1
      valid max: 7
  - min(l_quantity):
      fail: when < 1
  - failed rows:
      name: high_discount
      fail query: |
        SELECT l_orderkey FROM lineitem WHERE l_discount > 0.08
"""

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    "dq_lineitem_suite" -> """
WITH agg AS (
  SELECT count(*) AS n,
    CAST(sum(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
    CAST(sum(CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
    CAST(sum(CASE WHEN l_discount < 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
    CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS v_rf,
    CAST(sum(CASE WHEN l_extendedprice < l_quantity THEN 1 ELSE 0 END) AS BIGINT) AS v_gte,
    CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS v_hd
  FROM lineitem),
dup AS (
  SELECT CAST((SELECT count(*) FROM lineitem) -
              (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS BIGINT) AS d)
SELECT 'schema_superset' AS check_name, CAST(0 AS BIGINT) AS violations, true AS passed
UNION ALL SELECT 'row_count_min', CASE WHEN n >= 100 THEN 0 ELSE 100 - n END, n >= 100 FROM agg
UNION ALL SELECT 'non_null_keys', v_nn, v_nn = 0 FROM agg
UNION ALL SELECT 'unique_line', d, d = 0 FROM dup
UNION ALL SELECT 'qty_gte_1', v_qty, v_qty = 0 FROM agg
UNION ALL SELECT 'disc_gte_min', v_disc, v_disc = 0 FROM agg
UNION ALL SELECT 'returnflag_enum', v_rf, v_rf = 0 FROM agg
UNION ALL SELECT 'price_gte_qty', v_gte, v_gte = 0 FROM agg
UNION ALL SELECT 'high_discount', v_hd, v_hd = 0 FROM agg""",

    "dq_staging_composite" -> s"""${OracleCtes.mainWide},
staged AS (
  SELECT id, date, channel, campaign, clicks, impressions,
         CAST(replace(media_cost_eur, ',', '.') AS DOUBLE) AS media_cost_eur,
         CAST(replace(cpc, ',', '.') AS DOUBLE) AS cpc, revenue
  FROM main_wide),
agg AS (
  SELECT count(*) AS n,
    CAST(sum(CASE WHEN id IS NULL OR date IS NULL OR channel IS NULL OR campaign IS NULL
                    OR clicks IS NULL OR impressions IS NULL OR media_cost_eur IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
    CAST(sum(CASE WHEN clicks < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_clicks,
    CAST(sum(CASE WHEN media_cost_eur < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_cost,
    CAST(sum(CASE WHEN media_cost_eur < cpc THEN 1 ELSE 0 END) AS BIGINT) AS v_cpc,
    CAST(sum(CASE WHEN revenue < media_cost_eur THEN 1 ELSE 0 END) AS BIGINT) AS v_rev
  FROM staged),
dups AS (
  SELECT CAST((SELECT count(*) FROM staged) -
              (SELECT count(*) FROM (SELECT DISTINCT * FROM staged)) AS BIGINT) AS dr,
         CAST((SELECT count(*) FROM staged) -
              (SELECT count(DISTINCT id) FROM staged) AS BIGINT) AS di)
SELECT 'dup_rows' AS check_name, dr AS violations, dr = 0 AS passed FROM dups
UNION ALL SELECT 'min_rows', CASE WHEN n >= 100 THEN 0 ELSE 100 - n END, n >= 100 FROM agg
UNION ALL SELECT 'unique_id', di, di = 0 FROM dups
UNION ALL SELECT 'non_null_critical', v_nn, v_nn = 0 FROM agg
UNION ALL SELECT 'clicks_gte_0', v_clicks, v_clicks = 0 FROM agg
UNION ALL SELECT 'cost_gte_0', v_cost, v_cost = 0 FROM agg
UNION ALL SELECT 'cost_gte_cpc', v_cpc, v_cpc = 0 FROM agg
UNION ALL SELECT 'revenue_gte_cost', v_rev, v_rev = 0 FROM agg""",

    "dq_failed_rows" -> """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 1500""",

    "dq_set_sync" -> """
WITH s AS (SELECT DISTINCT o_custkey AS value FROM orders),
     t AS (SELECT DISTINCT c_custkey AS value FROM customer WHERE c_custkey % 3 <> 0)
SELECT value, 'missing_in_target' AS direction FROM (SELECT value FROM s EXCEPT SELECT value FROM t)
UNION ALL
SELECT value, 'extra_in_target' AS direction FROM (SELECT value FROM t EXCEPT SELECT value FROM s)""",

    "dq_soda_yaml" -> """
WITH agg AS (
  SELECT count(*) AS n,
    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_mk,
    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d_ok,
    CAST(sum(CASE WHEN l_linenumber < 1 OR l_linenumber > 7 THEN 1 ELSE 0 END) AS BIGINT) AS v_ln,
    CAST(sum(CASE WHEN l_quantity < 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_q,
    CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS v_hd
  FROM lineitem)
SELECT 'schema_0' AS check_name, CAST(0 AS BIGINT) AS violations, true AS passed
UNION ALL SELECT 'keys_present', v_mk, v_mk = 0 FROM agg
UNION ALL SELECT 'order_unique', n - d_ok, n - d_ok = 0 FROM agg
UNION ALL SELECT 'linenumber_range', v_ln, v_ln = 0 FROM agg
UNION ALL SELECT 'min_l_quantity', v_q, v_q = 0 FROM agg
UNION ALL SELECT 'high_discount', v_hd, v_hd = 0 FROM agg""",

    // leading digit from exact integer cents' string
    "dq_benford" -> """
WITH c AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
  WHERE cents > 0),
n AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY digit),
t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM n)
SELECT digit, n.n, CAST(n.n * 1000000 // t.t AS BIGINT) AS obs_ppm,
       CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                       WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                       WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
                       ELSE 0 END AS BIGINT) AS exp_ppm,
       abs(CAST(n.n * 1000000 // t.t AS BIGINT)
           - CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                        WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                        WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
                        ELSE 0 END) AS dev_ppm,
       abs(CAST(n.n * 1000000 // t.t AS BIGINT)
           - CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                        WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                        WHEN 7 THEN 57992 WHEN 8 THEN 51153 WHEN 9 THEN 45757
                        ELSE 0 END) > 50000 AS suspicious
FROM n, t""",

    // NOT EXISTS per relation; counts scale with violations
    "dq_fk_orphans" -> Seq(
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"))
      .map { case (name, ct, ck, pt, pk) => s"""
SELECT '$name' AS relation,
       (SELECT CAST(count(*) AS BIGINT) FROM $ct) AS n_child,
       (SELECT CAST(count(*) AS BIGINT) FROM $ct c
        WHERE NOT EXISTS (SELECT 1 FROM $pt p WHERE p.$pk = c.$ck)) AS n_orphans,
       (SELECT count(*) FROM $ct c
        WHERE NOT EXISTS (SELECT 1 FROM $pt p WHERE p.$pk = c.$ck)) = 0 AS ok"""
      }.mkString("\nUNION ALL\n"),

    // scaled-int −p·ln p terms, one block per profiled column
    "dq_column_entropy" -> Seq(
      ("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
      ("orders", "o_orderstatus"), ("orders", "o_orderpriority"))
      .map { case (t, c) => s"""
SELECT '$c' AS column_name, CAST(min(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(term_e9) AS BIGINT) AS entropy_e9,
       round(CAST(sum(term_e9) AS DOUBLE) / 1e9, 6) AS entropy_nats
FROM (SELECT n, CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
 * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9) AS BIGINT) AS term_e9
      FROM (SELECT CAST($c AS VARCHAR) AS v, CAST(count(*) AS BIGINT) AS c
            FROM $t GROUP BY 1) x,
           (SELECT CAST(count(*) AS BIGINT) AS n FROM $t) tt)"""
      }.mkString("\nUNION ALL\n"),

    // 2×2 Pearson chi-square from exact integer cells
    "dq_ab_test" -> """
WITH per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purch
  FROM events GROUP BY user_id),
f AS (SELECT user_id % 2 = 0 AS is_a, n_purch * 5 > n_ev AS conv FROM per),
c AS (SELECT
        CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN is_a AND conv THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN NOT is_a AND conv THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
      FROM f)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
       CAST(conv_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm,
       round(CAST(n_a + n_b AS DOUBLE)
             * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
                - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE))
             * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
                - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                * CAST(conv_a + conv_b AS DOUBLE)
                * CAST(n_a - conv_a + n_b - conv_b AS DOUBLE)), 6) AS chi2,
       round(CAST(n_a + n_b AS DOUBLE)
             * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
                - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE))
             * (CAST(conv_a AS DOUBLE) * CAST(n_b - conv_b AS DOUBLE)
                - CAST(conv_b AS DOUBLE) * CAST(n_a - conv_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                * CAST(conv_a + conv_b AS DOUBLE)
                * CAST(n_a - conv_a + n_b - conv_b AS DOUBLE)), 6) > 3.841459 AS significant
FROM c""",

    // exact-integer KS: step contributions n1*N2 - n2*N1 prefix-summed
    // in value order (DuckDB can afford the plain window), max |prefix|
    // = D*N1*N2; one pinned double formula for the critical compare
    "dq_ks_test" -> """
WITH per AS (
  SELECT v, CAST(sum(in1) AS BIGINT) AS n1, CAST(sum(in2) AS BIGINT) AS n2
  FROM (SELECT o_totalprice AS v, 1 AS in1, 0 AS in2 FROM orders WHERE year(o_orderdate) = 1995
        UNION ALL
        SELECT o_totalprice AS v, 0 AS in1, 1 AS in2 FROM orders WHERE year(o_orderdate) = 1996)
  GROUP BY v),
tot AS (SELECT CAST(sum(n1) AS BIGINT) AS tn1, CAST(sum(n2) AS BIGINT) AS tn2 FROM per),
cum AS (SELECT CAST(sum(n1 * tn2 - n2 * tn1) OVER (ORDER BY v) AS BIGINT) AS cd
        FROM per CROSS JOIN tot),
dmax AS (SELECT CAST(max(abs(cd)) AS BIGINT) AS d_scaled FROM cum)
SELECT tn1 AS n1, tn2 AS n2, d_scaled,
       CAST(d_scaled * 1000000 // (tn1 * tn2) AS BIGINT) AS d_ppm,
       (CAST(d_scaled AS DOUBLE) / (CAST(tn1 AS DOUBLE) * CAST(tn2 AS DOUBLE))) >
       (1.358 * sqrt((CAST(tn1 AS DOUBLE) + CAST(tn2 AS DOUBLE)) /
                     (CAST(tn1 AS DOUBLE) * CAST(tn2 AS DOUBLE)))) AS drift_detected
FROM dmax CROSS JOIN tot""",

    // dense 10-bin grid, add-one smoothing, scaled-int PSI terms
    // the manifest's bands/null-census replayed from the construction:
    // lower half clean at v1, upper half appended with a new key range
    // and k%5 nulls — both drift kinds trip on exact integers
    "dq_stats_drift" -> """
WITH src AS (
  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
m AS (SELECT max(k) AS mx FROM src),
v1 AS (SELECT k, cents FROM src, m WHERE k <= mx // 2),
up AS (SELECT k, CASE WHEN k % 5 = 0 THEN NULL ELSE cents END AS cents
       FROM src, m WHERE k > mx // 2),
tip AS (SELECT * FROM v1 UNION ALL SELECT * FROM up)
SELECT 'k' AS col_name,
       CAST((SELECT min(k) FROM v1) AS BIGINT) AS min_v1,
       CAST((SELECT max(k) FROM v1) AS BIGINT) AS max_v1,
       CAST((SELECT min(k) FROM tip) AS BIGINT) AS min_tip,
       CAST((SELECT max(k) FROM tip) AS BIGINT) AS max_tip,
       CAST(0 AS BIGINT) AS nulls_v1, CAST(0 AS BIGINT) AS nulls_tip,
       ((SELECT min(k) FROM tip) < (SELECT min(k) FROM v1) OR
        (SELECT max(k) FROM tip) > (SELECT max(k) FROM v1)) AS range_extended,
       FALSE AS nulls_introduced
UNION ALL
SELECT 'cents',
       CAST((SELECT min(cents) FROM v1) AS BIGINT),
       CAST((SELECT max(cents) FROM v1) AS BIGINT),
       CAST((SELECT min(cents) FROM tip) AS BIGINT),
       CAST((SELECT max(cents) FROM tip) AS BIGINT),
       CAST(0 AS BIGINT),
       CAST((SELECT count(*) FROM up WHERE cents IS NULL) AS BIGINT),
       ((SELECT min(cents) FROM tip) < (SELECT min(cents) FROM v1) OR
        (SELECT max(cents) FROM tip) > (SELECT max(cents) FROM v1)),
       TRUE""",

    "dq_psi_drift" -> """
WITH ev AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 'a' ELSE 'b' END AS period,
         least(9, CAST(floor(value / 50.0) AS BIGINT)) AS bucket
  FROM events),
cab AS (
  SELECT event_type, bucket,
         CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM ev GROUP BY 1, 2),
grid AS (
  SELECT et.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM cab) et,
       (SELECT unnest(generate_series(0, 9)) AS bucket) g),
dense AS (
  SELECT grid.event_type, grid.bucket,
         coalesce(cab.ca, 0) AS ca, coalesce(cab.cb, 0) AS cb
  FROM grid LEFT JOIN cab ON cab.event_type = grid.event_type AND cab.bucket = grid.bucket),
tot AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb
        FROM dense GROUP BY 1),
terms AS (
  SELECT d.event_type, d.ca, d.cb,
         CAST(round((CAST(d.ca + 1 AS DOUBLE) / CAST(t.ta + 10 AS DOUBLE)
                     - CAST(d.cb + 1 AS DOUBLE) / CAST(t.tb + 10 AS DOUBLE))
                    * ln((CAST(d.ca + 1 AS DOUBLE) / CAST(t.ta + 10 AS DOUBLE))
                         / (CAST(d.cb + 1 AS DOUBLE) / CAST(t.tb + 10 AS DOUBLE)))
                    * 1e9) AS BIGINT) AS term_e9
  FROM dense d JOIN tot t ON t.event_type = d.event_type)
SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_before, CAST(sum(cb) AS BIGINT) AS n_after,
       CAST(sum(term_e9) AS BIGINT) AS psi_e9,
       CAST(sum(term_e9) AS DOUBLE) / 1e9 AS psi,
       sum(term_e9) > 100000000 AS drifted
FROM terms GROUP BY event_type""",

    "dq_profile" -> """
SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
       count(*) - count(l_orderkey) AS n_nulls,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv,
       CAST(min(l_orderkey) AS VARCHAR) AS min_val,
       CAST(max(l_orderkey) AS VARCHAR) AS max_val FROM lineitem
UNION ALL
SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber),
       CAST(count(DISTINCT l_linenumber) AS BIGINT),
       CAST(min(l_linenumber) AS VARCHAR),
       CAST(max(l_linenumber) AS VARCHAR) FROM lineitem
UNION ALL
SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
       CAST(count(DISTINCT l_quantity) AS BIGINT),
       CAST(CAST(min(l_quantity) AS BIGINT) AS VARCHAR),
       CAST(CAST(max(l_quantity) AS BIGINT) AS VARCHAR) FROM lineitem
UNION ALL
SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
       CAST(count(DISTINCT l_returnflag) AS BIGINT),
       CAST(min(l_returnflag) AS VARCHAR),
       CAST(max(l_returnflag) AS VARCHAR) FROM lineitem
UNION ALL
SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
       CAST(count(DISTINCT l_linestatus) AS BIGINT),
       CAST(min(l_linestatus) AS VARCHAR),
       CAST(max(l_linestatus) AS VARCHAR) FROM lineitem
UNION ALL
SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
       CAST(count(DISTINCT l_shipdate) AS BIGINT),
       strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
       strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') FROM lineitem"""
  )
}
