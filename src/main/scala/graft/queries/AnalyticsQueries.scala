package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import graft.Tables
import graft.operators.RangeJoin

/** Classic warehouse analytics beyond the reference's own surface: window
  * frames, PIVOT, exact grouped percentiles, and a bin-bucketed range
  * join. Money sums follow the output-type contract: aggregate in exact
  * DECIMAL (order-independent), cast to DOUBLE at the boundary. */
object AnalyticsQueries {

  private val dec = DecimalType(18, 2)

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    // Window-frame family over the per-customer order history: lag,
    // running total (unbounded preceding), 3-row moving sum, and
    // row_number — one shuffle (hash by customer) + in-partition sort
    // serves all four frames.
    "misc_window_analytics" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ma3 = w.rowsBetween(-2, Window.currentRow)
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        row_number().over(w).as("order_seq"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        sum(col("o_totalprice").cast(dec)).over(cum).cast(DoubleType).as("cum_spend"),
        sum(col("o_totalprice").cast(dec)).over(ma3).cast(DoubleType).as("ma3_spend"))
    }),

    // PIVOT: revenue by nation x order status, statuses as columns.
    // Explicit pivot values keep the plan a single pass (no distinct-scan
    // to discover columns) — the posture that survives a 100x fact.
    // Year-over-year growth per calendar month: revenue in EXACT integer
    // cents, the lag window partitioned by month-of-year (so each
    // partition is one month's year-series — never a global sort), and
    // the growth ratio derived once in double from exact integers
    // (integer DIV is avoided because trunc-vs-floor division diverges
    // between engines on negative deltas).
    "misc_yoy_growth" -> ((s, d) => {
      val byMonth = Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev_cents"))
      val w = Window.partitionBy(col("o_month")).orderBy(col("o_year").asc)
      byMonth.withColumn("prev_rev_cents", lag(col("rev_cents"), 1).over(w))
        .select(col("o_year"), col("o_month"), col("rev_cents"), col("prev_rev_cents"),
          round((col("rev_cents") - col("prev_rev_cents")).cast(DoubleType)
            / col("prev_rev_cents").cast(DoubleType), 6).as("yoy_growth"))
    }),

    // percent_rank + cume_dist — the remaining rank-family window
    // functions: a customer's account-balance position within its
    // nation. Both are pure integer-ratio doubles (ties share a value,
    // so no tiebreak nondeterminism can leak into the output).
    "misc_percent_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").asc)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
    }),

    // Cumulative user acquisition: each user's first-seen day, new-user
    // counts per day, and the running total. The cumulative window runs
    // over the DAY frame (calendar-sized, 30 rows here), never over
    // events — the growth-curve shape at any event volume.
    "misc_cumulative_users" -> ((s, d) => {
      val firstSeen = Tables.events(s, d)
        .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("day"))
      val daily = firstSeen.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
      daily.withColumn("cum_users",
        sum(col("n_new")).over(Window.orderBy(col("day").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }),

    // Linear multi-touch attribution: every click in the 7 days before a
    // purchase shares the credit equally (integer ppm per touch — a
    // purchase's credits sum to ≤ 1e6 exactly), rolled up per channel
    // (derived from the JSON props payload). The join is equi on user_id
    // with a bounded time predicate — hash join + filter, the
    // stream_attribution interval shape with credit math on top.
    "misc_multitouch_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          unix_micros(col("ts")).as("p_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
          concat(lit("ch"),
            get_json_object(col("props"), "$.k").cast(LongType) % 5L).as("channel"))
      val touches = purchases.join(clicks, Seq("user_id"))
        .filter(col("c_us") <= col("p_us") &&
          col("c_us") >= col("p_us") - lit(7L * 86400L * 1000000L))
      touches
        .withColumn("n_touch", count(lit(1)).over(Window.partitionBy(col("p_id"))))
        .withColumn("credit_ppm", expr("1000000 DIV n_touch"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          countDistinct(col("p_id")).as("n_purchases"),
          sum(col("credit_ppm")).as("credit_e6"))
    }),

    // NTILE decile banding per order priority — the remaining classic
    // window function (equi-count buckets; ties broken by o_orderkey so
    // the banding is total-order deterministic). Partitioned by the
    // 5-value priority, so each sort is per-partition; at cluster scale
    // equi-DEPTH banding over a skewless key would move to range
    // partitioning + approx bounds, which misc_approx_sketch covers.
    "misc_ntile_deciles" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("decile", ntile(10).over(w)
          .cast(org.apache.spark.sql.types.IntegerType))
        .groupBy(col("o_orderpriority"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    }),

    // Gaps-and-islands: contiguous runs of daily activity per user (the
    // streak statistic). The day−row_number trick turns consecutive
    // dates into a constant group key — one hash-by-user shuffle + sort,
    // no self-join, no recursive walk; islands of ≥ 3 days survive.
    "misc_activity_islands" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
      Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("grp",
          datediff(col("day"), lit("2024-01-01").cast(org.apache.spark.sql.types.DateType))
            - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("day")).as("island_start"), max(col("day")).as("island_end"),
          count(lit(1)).as("n_days"))
        .filter(col("n_days") >= 3)
        .select(col("user_id"), col("island_start"), col("island_end"), col("n_days"))
    }),

    // First-order Markov transition matrix over per-user event
    // sequences — the sessionized "what happens next" statistic
    // (navigation analysis, funnel discovery). One hash-by-user shuffle
    // + in-partition sort feeds the lag window; the transition counts
    // and integer-ppm probabilities are exact (BIGINT DIV, no float
    // ratios to drift between engines).
    "misc_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .select(col("event_type").as("next_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n_transitions"))
        .withColumn("row_total",
          sum(col("n_transitions")).over(Window.partitionBy(col("prev_type"))))
        .select(col("prev_type"), col("next_type"), col("n_transitions"),
          expr("n_transitions * 1000000 DIV row_total").as("transition_ppm"))
    }),

    // Robust outlier detection via median absolute deviation (the
    // Iglewicz–Hoaglin modified z-score): per group, med and MAD from
    // the EXACT percentile aggregate (rounded once to 6 decimals so the
    // lerp's last ulp can't drift between engines), then |x - med| >
    // 3.5·1.4826·MAD counts outliers. Two passes over the cached
    // column frame; percentile is a single-pass exact aggregate per
    // group, no global sort.
    "misc_mad_outliers" -> ((s, d) => {
      val li = graft.QueryCaches.scoped(Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("x")))
      val med = li.groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(x, 0.5D)"), 6).as("med"))
      val withMed = li.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("x") - col("med")))
      val mad = withMed.groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(adev, 0.5D)"), 6).as("mad"))
      withMed.join(broadcast(mad), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), min(col("med")).as("med"),
          min(col("mad")).as("mad"),
          sum(when(col("adev") > lit(3.5) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
    }),

    // OHLC downsampling bars — the time-series compaction shape (metrics
    // rollups, market candles): per (event_type, hour), open/close are
    // ORDER statistics picked by an argmin/argmax over the unique
    // (ts, event_id) order — one hash aggregation, no window over the
    // event stream, and no double SUM (order-dependent at scale);
    // high/low/min-max and count are order-independent by nature.
    // ArgExtremePairValue (r21) replaces min/max(struct(ts, event_id,
    // value)).value: the struct-typed buffer planned a SortAggregate
    // with a Sort over the FULL event scan (plans/r21/
    // misc_ohlc_bars_before.txt); the flat (ts, id, value, seen) buffer
    // hash-aggregates with map-side combine — same three-field
    // lexicographic pick, bit-identical on the null-free events table.
    "misc_ohlc_bars" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bar_ts"))
        .agg(
          org.apache.spark.sql.graft.ArgExtremePairValue.argminValue(
            col("ts"), col("event_id"), col("value")).as("open"),
          org.apache.spark.sql.graft.ArgExtremePairValue.argmaxValue(
            col("ts"), col("event_id"), col("value")).as("close"),
          max(col("value")).as("high"), min(col("value")).as("low"),
          count(lit(1)).as("n_events"))
        .select(col("event_type"), col("bar_ts"),
          col("open"), col("high"), col("low"),
          col("close"), col("n_events"))),

    "misc_pivot" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      // nation is genuinely tiny → broadcast; customer is a real dim that
      // grows with the data → leave the fact⋈customer strategy to
      // Catalyst/AQE (shuffle hash at scale, auto-broadcast when small)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast(dec)).cast(DoubleType))
        .select(col("n_name"), col("F").as("rev_f"), col("O").as("rev_o"),
          col("P").as("rev_p"))
    }),

    // The reshape inverse: the pivoted wide frame melted back to long via
    // the NATIVE Dataset.unpivot (Spark's melt — one generate pass, no
    // per-measure self-union). Null measures survive the melt (a nation
    // with no P-status orders keeps its rev_p row, value NULL) — pinned
    // by the oracle's explicit NULL-preserving union replay.
    "misc_unpivot" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast(dec)).cast(DoubleType))
        .select(col("n_name"), col("F").as("rev_f"), col("O").as("rev_o"),
          col("P").as("rev_p"))
        .unpivot(Array(col("n_name")),
          Array(col("rev_f"), col("rev_o"), col("rev_p")), "measure", "revenue")
    }),

    // Exact grouped percentiles (interpolated), rounded to 6 decimals at
    // the boundary (both engines interpolate linearly; the rounding
    // absorbs last-ulp divergence, same policy as the cosine queries).
    "misc_group_percentile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("pct"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          round(element_at(col("pct"), 1), 6).as("p25"),
          round(element_at(col("pct"), 2), 6).as("p50"),
          round(element_at(col("pct"), 3), 6).as("p75"))),

    // Bin-bucketed range join: orders matched into overlapping promo
    // windows (a deterministic 25-row range dim derived from nation).
    // The equi-join on bin replaces the BroadcastNestedLoopJoin Spark
    // would otherwise plan for BETWEEN — the shape that still works when
    // the range side is millions of intervals. 90-day bins ~ the longest
    // promo length (150d → ≤3 bins/range).
    "misc_range_join" -> ((s, d) => {
      val promos = Tables.nation(s, d).select(
        col("n_nationkey").cast(LongType).as("promo_id"),
        (lit(9131L) + col("n_nationkey") * 90L).as("start_day"),
        (lit(9131L) + col("n_nationkey") * 90L + 30L +
          (col("n_nationkey") % 5) * 30L).as("end_day"))
      val pts = Tables.orders(s, d).select(
        datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01")))
          .cast(LongType).as("day"),
        col("o_totalprice"))
      RangeJoin.pointInRange(pts, promos, "day", "start_day", "end_day", 90L)
        .groupBy(col("promo_id"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).cast(DoubleType).as("revenue"))
    })
  )

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    "misc_window_analytics" -> """
SELECT o_orderkey, o_custkey,
       CAST(row_number() OVER w AS INTEGER) AS order_seq,
       lag(o_totalprice, 1) OVER w AS prev_price,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS ma3_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""",

    // exact-cents revenue, month-partitioned lag
    "misc_yoy_growth" -> """
WITH m AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         CAST(month(o_orderdate) AS INTEGER) AS o_month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1, 2)
SELECT o_year, o_month, rev_cents,
       lag(rev_cents) OVER (PARTITION BY o_month ORDER BY o_year ASC) AS prev_rev_cents,
       round(CAST(rev_cents - lag(rev_cents) OVER (PARTITION BY o_month ORDER BY o_year ASC) AS DOUBLE)
             / CAST(lag(rev_cents) OVER (PARTITION BY o_month ORDER BY o_year ASC) AS DOUBLE), 6) AS yoy_growth
FROM m""",

    // rank-family remainder: integer-ratio doubles, tie-safe
    "misc_percent_rank" -> """
SELECT c_custkey, c_nationkey, c_acctbal,
       round(percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal ASC), 6) AS pr,
       round(cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal ASC), 6) AS cd
FROM customer""",

    // first-seen day per user; running total over the day frame
    "misc_cumulative_users" -> """
WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id),
d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new FROM fs GROUP BY day)
SELECT day, n_new,
       CAST(sum(n_new) OVER (ORDER BY day ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM d""",

    // 7-day lookback touches; equal integer-ppm credit per touch
    "misc_multitouch_attribution" -> """
WITH p AS (SELECT user_id, event_id AS p_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_us,
             concat('ch', CAST(json_extract_string(props, '$.k') AS BIGINT) % 5) AS channel
      FROM events WHERE event_type = 'click'),
t AS (SELECT p.p_id, c.channel FROM p JOIN c ON c.user_id = p.user_id
       AND c.c_us <= p.p_us AND c.c_us >= p.p_us - 604800000000),
n AS (SELECT p_id, channel, count(*) OVER (PARTITION BY p_id) AS n_touch FROM t)
SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
       CAST(sum(1000000 // n_touch) AS BIGINT) AS credit_e6
FROM n GROUP BY channel""",

    // ntile(10) with total-order tiebreak
    "misc_ntile_deciles" -> """
SELECT o_orderpriority, CAST(decile AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi
FROM (SELECT o_orderpriority, o_totalprice,
             ntile(10) OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice ASC, o_orderkey ASC) AS decile
      FROM orders)
GROUP BY o_orderpriority, decile""",

    // day − row_number constant-key islands
    "misc_activity_islands" -> """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
g AS (SELECT user_id, day,
        (day - DATE '2024-01-01')
          - row_number() OVER (PARTITION BY user_id ORDER BY day ASC) AS grp
      FROM days)
SELECT user_id, min(day) AS island_start, max(day) AS island_end,
       CAST(count(*) AS BIGINT) AS n_days
FROM g GROUP BY user_id, grp HAVING count(*) >= 3""",

    // lag over (ts, event_id) per user; ppm via truncating //
    "misc_event_transitions" -> """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
           ORDER BY ts ASC, event_id ASC) AS prev_type,
         event_type AS next_type
  FROM events),
t AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, next_type, n_transitions,
       CAST(n_transitions * 1000000 // sum(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT)
         AS transition_ppm
FROM t""",

    // med/MAD rounded once to 6 before the threshold compare
    "misc_mad_outliers" -> """
WITH li AS (SELECT l_returnflag, l_extendedprice AS x FROM lineitem),
med AS (SELECT l_returnflag, round(quantile_cont(x, 0.5), 6) AS med FROM li GROUP BY 1),
a AS (SELECT li.l_returnflag, li.x, med.med, abs(li.x - med.med) AS adev
      FROM li JOIN med USING (l_returnflag)),
mad AS (SELECT l_returnflag, round(quantile_cont(adev, 0.5), 6) AS mad FROM a GROUP BY 1)
SELECT a.l_returnflag, CAST(count(*) AS BIGINT) AS n,
       min(a.med) AS med, min(mad.mad) AS mad,
       CAST(sum(CASE WHEN a.adev > 3.5 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM a JOIN mad USING (l_returnflag)
GROUP BY a.l_returnflag""",

    // open/close via row_number over the unique (ts, event_id) order
    "misc_ohlc_bars" -> """
WITH e AS (SELECT event_type, date_trunc('hour', ts) AS bar_ts, ts, event_id, value
           FROM events),
r AS (SELECT *,
        row_number() OVER (PARTITION BY event_type, bar_ts
          ORDER BY ts ASC, event_id ASC) AS ra,
        row_number() OVER (PARTITION BY event_type, bar_ts
          ORDER BY ts DESC, event_id DESC) AS rd
      FROM e)
SELECT event_type, bar_ts,
       max(CASE WHEN ra = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       max(CASE WHEN rd = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_events
FROM r GROUP BY 1, 2""",

    "misc_pivot" -> """
SELECT n_name,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_p
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name""",

    // NULL-preserving union replay of the melt
    "misc_unpivot" -> """
WITH wide AS (
  SELECT n_name,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o,
         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_p
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name)
SELECT n_name, 'rev_f' AS measure, rev_f AS revenue FROM wide
UNION ALL SELECT n_name, 'rev_o', rev_o FROM wide
UNION ALL SELECT n_name, 'rev_p', rev_p FROM wide""",

    "misc_group_percentile" -> """
SELECT l_returnflag, count(*) AS n,
       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
FROM lineitem GROUP BY l_returnflag""",

    "misc_range_join" -> """
WITH promos AS (
  SELECT CAST(n_nationkey AS BIGINT) AS promo_id,
         9131 + n_nationkey * 90 AS start_day,
         9131 + n_nationkey * 90 + 30 + (n_nationkey % 5) * 30 AS end_day
  FROM nation
), pts AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         o_totalprice
  FROM orders
)
SELECT promo_id, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM pts JOIN promos ON day BETWEEN start_day AND end_day
GROUP BY promo_id"""
  )
}
