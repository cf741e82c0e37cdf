package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.Tables

/** Customer/market analytics beyond the reference's own surface:
  * market-basket association rules, RFM segmentation, grouped mode, and
  * equi-width histograms. All ratio math is either exact integer ppm
  * (truncating DIV, engine-identical) or a single double formula whose
  * text is mirrored by the oracle and rounded once at the boundary. */
object MarketQueries {

  /** EWMA (α=1/2) over 7 unrolled lag taps, with a per-row normalizer
    * that drops absent (series-head) taps. ONE formula string shared by
    * the Spark `expr` and the DuckDB oracle, so the double arithmetic is
    * textually identical on both engines — and because the weights are
    * negative powers of two and the inputs are small integers, every
    * product and partial sum is exactly representable: the division is
    * the only rounding step, and it rounds once, identically. */
  private val ewmaExpr: String = {
    val w = Seq("0.5", "0.25", "0.125", "0.0625", "0.03125", "0.015625",
      "0.0078125")
    val num = "CAST(n AS DOUBLE)" + w.zipWithIndex.map { case (wk, i) =>
      s" + $wk * coalesce(CAST(l${i + 1} AS DOUBLE), CAST(0.0 AS DOUBLE))"
    }.mkString
    val den = "CAST(1.0 AS DOUBLE)" + w.zipWithIndex.map { case (wk, i) =>
      s" + (CASE WHEN l${i + 1} IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST($wk AS DOUBLE) END)"
    }.mkString
    s"round(($num) / ($den), 6)"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    // EWMA-smoothed hourly event-rate series — the metrics-smoothing /
    // trend-detection shape. The raw stream is first compacted to the
    // (type × hour) grain (one hash agg — the only pass over events),
    // so the lag windows run over the CALENDAR-sized series, never over
    // events; 7 explicit taps ≈ a 1/2-decay EWMA to within 2^-8.
    "misc_ewma" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h").asc)
      val withLags = (1 to 7).foldLeft(hourly)((df, k) =>
        df.withColumn(s"l$k", lag(col("n"), k).over(w)))
      withLags.withColumn("ewma", expr(ewmaExpr))
        .select(col("event_type"), col("h"), col("n"), col("ewma"))
    }),
    // Market-basket association rules at brand grain: brands co-ordered
    // in the same order → support / confidence / lift. Pair generation
    // aggregates each order's DISTINCT brand set once (collect_set
    // dedups in the aggregate — no separate distinct exchange) and
    // explodes every set element against its own greater suffix: the
    // same pair multiset the okey self-join produced (all brand_x <
    // brand_y pairs within an order), for ONE groupBy shuffle instead
    // of a two-sided shuffle + sort-merge self-join (r21; standalone
    // 5.45 s → measured below). n_orders / brand frequencies derive
    // from the same per-order frame; the brand dim is tiny and stays
    // tiny at any fact scale, so those lookups broadcast. Confidence is
    // exact integer ppm; lift is one double formula from exact
    // integers, rounded once.
    "misc_basket_rules" -> ((s, d) => {
      val perOrder = graft.QueryCaches.scoped(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_orderkey").as("okey"))
          .agg(sort_array(collect_set(col("p_brand"))).as("bs")))
      val nOrders = perOrder.agg(count(lit(1)).as("n_orders"))
      val brandCnt = perOrder.select(explode(col("bs")).as("brand"))
        .groupBy(col("brand")).agg(count(lit(1)).as("n_brand"))
      perOrder
        .select(explode(col("bs")).as("brand_a"), col("bs"))
        .select(col("brand_a"),
          explode(expr("filter(bs, x -> x > brand_a)")).as("brand_b"))
        .groupBy(col("brand_a"), col("brand_b"))
        .agg(count(lit(1)).as("n_co"))
        .filter(col("n_co") >= 20L)
        .join(broadcast(brandCnt.select(col("brand").as("brand_a"), col("n_brand").as("n_a"))), "brand_a")
        .join(broadcast(brandCnt.select(col("brand").as("brand_b"), col("n_brand").as("n_b"))), "brand_b")
        .crossJoin(broadcast(nOrders))
        .select(col("brand_a"), col("brand_b"), col("n_co"), col("n_a"), col("n_b"),
          expr("n_co * 1000000 DIV n_a").as("conf_ab_ppm"),
          expr("n_co * 1000000 DIV n_b").as("conf_ba_ppm"),
          round(col("n_co").cast("double") * col("n_orders").cast("double")
            / (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
    }),

    // RFM segmentation: per-customer recency / frequency / monetary,
    // banded into quintiles. The anchor date is the global max order
    // date (1-row broadcast, not wall clock — deterministic re-runs).
    // The three ntile windows are global sorts over the CUSTOMER grain —
    // a dim, not the fact (same posture as tpch_top_supplier); monetary
    // is exact integer cents. Segment code packs r·100+f·10+m.
    "misc_rfm" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val anchor = o.agg(max(to_date(col("o_orderdate"))).as("anchor"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("monetary_cents"))
        .crossJoin(broadcast(anchor))
        .withColumn("recency_days", datediff(col("anchor"), col("last_order")).cast(LongType))
      val wr = Window.orderBy(col("recency_days").asc, col("o_custkey").asc)
      val wf = Window.orderBy(col("frequency").desc, col("o_custkey").asc)
      val wm = Window.orderBy(col("monetary_cents").desc, col("o_custkey").asc)
      per.select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary_cents"),
          ntile(5).over(wr).cast(IntegerType).as("r"),
          ntile(5).over(wf).cast(IntegerType).as("f"),
          ntile(5).over(wm).cast(IntegerType).as("m"))
        .withColumn("segment", (col("r") * 100 + col("f") * 10 + col("m"))
          .cast(IntegerType))
    }),

    // Grouped mode with a total-order tie-break (count desc, value asc):
    // the most frequent order priority per market segment. Counts first
    // (one hash agg over the fact), then the argmax window runs over the
    // tiny (segment × priority) grid — never over rows.
    "misc_grouped_mode" -> ((s, d) => {
      val cnt = Tables.orders(s, d)
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("n").desc, col("o_orderpriority").asc)
      cnt.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("c_mktsegment"), col("o_orderpriority").as("mode_priority"),
          col("n").as("n_orders"))
    }),

    // Time-decayed customer revenue score (half-life 30 days from the
    // broadcast anchor date) — the recency-weighted LTV variant. Each
    // order's decayed contribution cents·2^(−age/30) is quantized ONCE
    // to an integer (the only float step, identical pow inputs on both
    // engines), so the per-customer rollup is an integer sum —
    // order/partitioning-independent where a naive double SUM is not.
    "misc_decayed_revenue" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val anchor = broadcast(o.agg(max(to_date(col("o_orderdate"))).as("anchor")))
      o.crossJoin(anchor)
        .select(col("o_custkey"),
          expr("""CAST(round(CAST(round(o_totalprice * 100) AS BIGINT)
                | * pow(0.5, CAST(datediff(anchor, to_date(o_orderdate)) AS DOUBLE) / 30.0))
                | AS BIGINT)""".stripMargin).as("decayed_cents"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"),
          sum(col("decayed_cents")).as("decayed_cents"))
    }),

    // CUSUM changepoint detection on the daily event series — the
    // level-shift locator. The deviation uses the integer identity
    // cnt·N − total (no float mean subtraction), the running CUSUM is an
    // integer window over the DAY frame, and the changepoint is the
    // |CUSUM| argmax with a min-day tie-break — every decision integer-
    // exact, two 1-row broadcasts, no pass over raw events after the
    // first rollup.
    "misc_changepoint" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("cnt"))
      val tot = broadcast(daily.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("nd")))
      val cs = daily.crossJoin(tot)
        .withColumn("dev", col("cnt") * col("nd") - col("total"))
        .withColumn("cusum", sum(col("dev")).over(Window.orderBy(col("day").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("day"), col("cnt"), col("cusum"))
      val cp = broadcast(cs
        .crossJoin(broadcast(cs.agg(max(abs(col("cusum"))).as("mx"))))
        .filter(abs(col("cusum")) === col("mx"))
        .agg(min(col("day")).as("cp_day")))
      cs.crossJoin(cp)
        .select(col("day"), col("cnt"), col("cusum"),
          (col("day") === col("cp_day")).as("is_changepoint"))
    }),

    // Day-of-week seasonality profile per event type: share of the
    // type's events per weekday in integer ppm, deviation from the
    // uniform 1/7 expectation. ISO weekday via the +1 offset the F11
    // latent-bug note pinned (Spark dayofweek is 1-based Sunday, DuckDB
    // 0-based). One hash agg over events; the profile grid is 7×types.
    "misc_seasonality" -> ((s, d) => {
      val cnt = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("dayofweek(ts)").cast(IntegerType).as("dow"))
        .agg(count(lit(1)).as("n"))
      cnt.withColumn("total",
          sum(col("n")).over(Window.partitionBy(col("event_type"))))
        .select(col("event_type"), col("dow"), col("n"),
          expr("n * 1000000 DIV total").as("share_ppm"),
          expr("n * 1000000 DIV total - 142857").as("dev_ppm"))
    }),

    // Revenue LTV cohort matrix: customers grouped by first-order month
    // (integer month index year·12+month — no date formatting to drift),
    // revenue accumulated per month offset, cumulative LTV per user in
    // exact integer cents (truncating DIV). The cumulative window runs
    // over the OFFSET frame per cohort (calendar² cells), never over
    // orders; cohort sizes broadcast back onto the tiny matrix.
    "misc_cohort_ltv" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast(LongType).as("m_idx"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      val cohort = o.groupBy(col("o_custkey")).agg(min(col("m_idx")).as("cohort_idx"))
      val sizes = cohort.groupBy(col("cohort_idx")).agg(count(lit(1)).as("cohort_size"))
      val cells = o.join(cohort, "o_custkey")
        .groupBy(col("cohort_idx"), (col("m_idx") - col("cohort_idx")).as("offset"))
        .agg(sum(col("cents")).as("rev_cents"),
          countDistinct(col("o_custkey")).as("n_active"))
      val wc = Window.partitionBy(col("cohort_idx")).orderBy(col("offset").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum_cents", sum(col("rev_cents")).over(wc))
        .join(broadcast(sizes), "cohort_idx")
        .select(col("cohort_idx"), col("offset"), col("cohort_size"),
          col("n_active"), col("rev_cents"), col("cum_cents"),
          expr("cum_cents DIV cohort_size").as("ltv_cents_per_user"))
    }),

    // ABC inventory classification: parts ranked by revenue, cumulative
    // share thresholds 80/95% — EXACT integer comparisons on the
    // PREVIOUS cumulative total ((cum−x)·5 < Σ·4 ⟺ prior share < 80%),
    // so no float share ever decides a class. Part-dim global sort
    // (same posture as misc_rfm); 1-row total broadcast.
    "misc_abc_analysis" -> ((s, d) => {
      val per = Tables.lineitem(s, d).groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      val w = Window.orderBy(col("cents").desc, col("l_partkey").asc)
      val tot = broadcast(per.agg(sum(col("cents")).as("sx")))
      per.withColumn("rnk", row_number().over(w).cast(LongType))
        .withColumn("cum_cents", sum(col("cents")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(tot)
        .select(col("l_partkey"), col("cents"), col("rnk"), col("cum_cents"),
          expr("""CASE WHEN (cum_cents - cents) * 5 < sx * 4 THEN 'A'
                | WHEN (cum_cents - cents) * 20 < sx * 19 THEN 'B'
                | ELSE 'C' END""".stripMargin).as("abc_class"))
    }),

    // Customer-concentration lift table + Gini coefficient — the
    // revenue-inequality readout ("top decile carries X% of revenue").
    // Spend ranks ascending over the CUSTOMER dim (same dim-grain
    // global-window posture as misc_rfm); Gini comes from the exact
    // integer identity (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over the ranked
    // cents — one double formula from exact integers, rounded once.
    // Cumulative shares are integer ppm over the 10-row decile frame.
    "misc_gini_lift" -> ((s, d) => {
      val per = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      val w = Window.orderBy(col("cents").asc, col("o_custkey").asc)
      val ranked = per
        .withColumn("i", row_number().over(w).cast(LongType))
        .withColumn("decile", ntile(10).over(w).cast(IntegerType))
      val tot = broadcast(ranked.agg(
        sum(col("cents")).as("sx"), sum(col("i") * col("cents")).as("sixi"),
        count(lit(1)).as("n")))
      val dec = ranked.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("decile_cents"))
      val wd = Window.orderBy(col("decile").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.withColumn("cum_cents", sum(col("decile_cents")).over(wd))
        .crossJoin(tot)
        .select(col("decile"), col("n_customers"), col("decile_cents"),
          col("cum_cents"),
          expr("cum_cents * 1000000 DIV sx").as("cum_share_ppm"),
          expr("""round((2.0 * CAST(sixi AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
                | / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6)""".stripMargin).as("gini"))
    }),

    // Equi-width 10-bin histogram of order value: global (min, max) as a
    // 1-row broadcast, then one hash agg by the computed bin — two scans,
    // no sort. The bin formula and the bound reconstruction are single
    // double expressions textually mirrored by the oracle (floor of the
    // same IEEE ops), so bin ids are engine-identical.
    "misc_histogram" -> ((s, d) => {
      val v = Tables.orders(s, d).select(col("o_totalprice").as("x"))
      val st = v.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"))
      v.crossJoin(broadcast(st))
        .withColumn("bin",
          expr("least(CAST(9 AS BIGINT), CAST(floor((x - xmin) * 10.0 / (xmax - xmin)) AS BIGINT))"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("xmin")).as("xmin"), min(col("xmax")).as("xmax"))
        .select(col("bin"), col("n"),
          expr("round(xmin + CAST(bin AS DOUBLE) * (xmax - xmin) / 10.0, 6)").as("bin_lo"),
          expr("round(xmin + CAST(bin + 1 AS DOUBLE) * (xmax - xmin) / 10.0, 6)").as("bin_hi"))
    })
  )

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    "misc_ewma" -> s"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
lg AS (
  SELECT event_type, h, n,
         ${(1 to 7).map(k => s"lag(n, $k) OVER w AS l$k").mkString(", ")}
  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h ASC))
SELECT event_type, h, n, $ewmaExpr AS ewma FROM lg""",

    "misc_basket_rules" -> """
WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
            FROM lineitem JOIN part ON l_partkey = p_partkey),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM ob),
bc AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_brand FROM ob GROUP BY brand),
pr AS (SELECT x.brand AS brand_a, y.brand AS brand_b, CAST(count(*) AS BIGINT) AS n_co
       FROM ob x JOIN ob y ON x.okey = y.okey AND x.brand < y.brand
       GROUP BY 1, 2 HAVING count(*) >= 20)
SELECT brand_a, brand_b, n_co, a.n_brand AS n_a, b.n_brand AS n_b,
       CAST(n_co * 1000000 // a.n_brand AS BIGINT) AS conf_ab_ppm,
       CAST(n_co * 1000000 // b.n_brand AS BIGINT) AS conf_ba_ppm,
       round(CAST(n_co AS DOUBLE) * CAST(n_orders AS DOUBLE)
             / (CAST(a.n_brand AS DOUBLE) * CAST(b.n_brand AS DOUBLE)), 6) AS lift
FROM pr JOIN bc a ON brand_a = a.brand JOIN bc b ON brand_b = b.brand, n""",

    "misc_rfm" -> """
WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
per AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey),
r AS (SELECT o_custkey, CAST(date_diff('day', last_order, anchor) AS BIGINT) AS recency_days,
             frequency, monetary_cents
      FROM per, anchor)
SELECT o_custkey, recency_days, frequency, monetary_cents,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS INTEGER) AS r,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS INTEGER) AS f,
       CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS INTEGER) AS m,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) * 100
            + ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) * 10
            + ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS INTEGER) AS segment
FROM r""",

    "misc_grouped_mode" -> """
WITH cnt AS (SELECT c_mktsegment, o_orderpriority, CAST(count(*) AS BIGINT) AS n
             FROM orders JOIN customer ON o_custkey = c_custkey
             GROUP BY 1, 2),
rk AS (SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                ORDER BY n DESC, o_orderpriority ASC) AS rn FROM cnt)
SELECT c_mktsegment, o_orderpriority AS mode_priority, n AS n_orders
FROM rk WHERE rn = 1""",

    "misc_decayed_revenue" -> """
WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders),
dec AS (SELECT o_custkey,
               CAST(round(CAST(round(o_totalprice * 100) AS BIGINT)
 * pow(0.5, CAST(date_diff('day', CAST(o_orderdate AS DATE), anchor) AS DOUBLE) / 30.0))
 AS BIGINT) AS decayed_cents,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders, anchor)
SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(decayed_cents) AS BIGINT) AS decayed_cents
FROM dec GROUP BY o_custkey""",

    "misc_changepoint" -> """
WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS cnt
               FROM events GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS nd FROM daily),
cs AS (SELECT day, cnt,
              CAST(sum(cnt * nd - total) OVER (ORDER BY day ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
       FROM daily, tot),
mx AS (SELECT CAST(max(abs(cusum)) AS BIGINT) AS mx FROM cs),
cp AS (SELECT min(day) AS cp_day FROM cs, mx WHERE abs(cusum) = mx)
SELECT day, cnt, cusum, day = cp_day AS is_changepoint FROM cs, cp""",

    "misc_seasonality" -> """
WITH cnt AS (SELECT event_type,
                    CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INTEGER) AS dow,
                    CAST(count(*) AS BIGINT) AS n
             FROM events GROUP BY 1, 2),
t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM cnt GROUP BY 1)
SELECT cnt.event_type, dow, n,
       CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
       CAST(n * 1000000 // total - 142857 AS BIGINT) AS dev_ppm
FROM cnt JOIN t ON t.event_type = cnt.event_type""",

    "misc_cohort_ltv" -> """
WITH o AS (SELECT o_custkey,
                  CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m_idx,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
cohort AS (SELECT o_custkey, CAST(min(m_idx) AS BIGINT) AS cohort_idx FROM o GROUP BY 1),
sizes AS (SELECT cohort_idx, CAST(count(*) AS BIGINT) AS cohort_size FROM cohort GROUP BY 1),
cells AS (SELECT c.cohort_idx, o.m_idx - c.cohort_idx AS "offset",
                 CAST(sum(o.cents) AS BIGINT) AS rev_cents,
                 CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active
          FROM o JOIN cohort c ON c.o_custkey = o.o_custkey
          GROUP BY 1, 2),
cum AS (SELECT cohort_idx, "offset", rev_cents, n_active,
               CAST(sum(rev_cents) OVER (PARTITION BY cohort_idx ORDER BY "offset" ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        FROM cells)
SELECT cohort_idx, "offset", cohort_size, n_active, rev_cents, cum_cents,
       CAST(cum_cents // cohort_size AS BIGINT) AS ltv_cents_per_user
FROM cum JOIN sizes USING (cohort_idx)""",

    "misc_abc_analysis" -> """
WITH per AS (SELECT l_partkey,
                    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
             FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS sx FROM per),
rk AS (SELECT l_partkey, cents,
              CAST(row_number() OVER (ORDER BY cents DESC, l_partkey ASC) AS BIGINT) AS rnk,
              CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
       FROM per)
SELECT l_partkey, cents, rnk, cum_cents,
       CASE WHEN (cum_cents - cents) * 5 < sx * 4 THEN 'A'
            WHEN (cum_cents - cents) * 20 < sx * 19 THEN 'B'
            ELSE 'C' END AS abc_class
FROM rk, tot""",

    "misc_gini_lift" -> """
WITH per AS (SELECT o_custkey,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
             FROM orders GROUP BY o_custkey),
rk AS (SELECT o_custkey, cents,
              CAST(row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS BIGINT) AS i,
              CAST(ntile(10) OVER (ORDER BY cents ASC, o_custkey ASC) AS INTEGER) AS decile
       FROM per),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS sx,
               CAST(sum(i * cents) AS BIGINT) AS sixi,
               CAST(count(*) AS BIGINT) AS n FROM rk),
dec AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS decile_cents
        FROM rk GROUP BY decile),
cum AS (SELECT decile, n_customers, decile_cents,
               CAST(sum(decile_cents) OVER (ORDER BY decile ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        FROM dec)
SELECT decile, n_customers, decile_cents, cum_cents,
       CAST(cum_cents * 1000000 // sx AS BIGINT) AS cum_share_ppm,
       round((2.0 * CAST(sixi AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
FROM cum, tot""",

    "misc_histogram" -> """
WITH st AS (SELECT min(o_totalprice) AS xmin, max(o_totalprice) AS xmax FROM orders),
b AS (SELECT least(CAST(9 AS BIGINT),
              CAST(floor((o_totalprice - xmin) * 10.0 / (xmax - xmin)) AS BIGINT)) AS bin,
             xmin, xmax
      FROM orders, st)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       round(min(xmin) + CAST(bin AS DOUBLE) * (min(xmax) - min(xmin)) / 10.0, 6) AS bin_lo,
       round(min(xmin) + CAST(bin + 1 AS DOUBLE) * (min(xmax) - min(xmin)) / 10.0, 6) AS bin_hi
FROM b GROUP BY bin"""
  )
}
