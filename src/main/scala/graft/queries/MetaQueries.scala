package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.models.{Meta, TestdataAdapter}

/** taico/meta model queries: the flagship transform (P1, F1-F8, F13-F14,
  * W1, J1), the incremental staging merge (A6, U1, I1), and the cleaning
  * model (F7, F1). SURVEY.md §2.8-§2.9. */
object MetaQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    // denseId=false + drop(id): the reference's `row_number() over ()` is
    // order-undefined, so the dense 1..N id is not oracle-comparable anyway —
    // and at cluster scale an unpartitioned window is a single-task sort.
    // The registered plan has NO global window; the dense variant stays
    // covered by MetaSpec.
    "meta_fb_ads_transformed" -> ((s, d) =>
      Meta.fbAdsTransformed(TestdataAdapter.adsInsights(s, d), TestdataAdapter.campaigns(s, d),
        denseId = false).drop("id")),

    "meta_incremental_staging" -> ((s, d) => {
      // The narrow projection feeds THREE evaluations of the transform
      // subtree (watermark agg inside incrementalMerge, `existing`, and
      // the source union) — materialize it once, and materialize the
      // merged result (one row per key — tiny) so the projection's blocks
      // can be released before returning.
      val t = Meta.fbAdsTransformed(TestdataAdapter.adsInsights(s, d), TestdataAdapter.campaigns(s, d),
        denseId = false)
        .select("ad_id", "campaign_id", "date", "spend", "updated_at")
        .localCheckpoint(true)
      val existing = t.filter(col("updated_at") <= lit("2024-01-20 00:00:00").cast("timestamp"))
      val merged = Meta.incrementalMerge(existing, t, Seq("campaign_id", "date"),
        watermarkCol = "updated_at", tieBreak = Seq("ad_id"))
        .localCheckpoint(true)
      graft.operators.Checkpoints.release(t)
      merged
    }),

    // TRUE-MERGE fidelity pin: a backfill batch (updated_at in
    // (01-10, 01-14]) is merged into the incremental snapshot as of
    // 01-15. The batch does NOT contain the keys' newest rows, so MERGE
    // (source wins on match — dbt's `merge` strategy) overwrites newer
    // target rows with re-delivered older ones, which is exactly where
    // it diverges from incrementalMerge's last-writer-wins union. The
    // oracle replays when-matched-update/when-not-matched-insert in SQL.
    "meta_merge_semantics" -> ((s, d) => {
      val t = Meta.fbAdsTransformed(TestdataAdapter.adsInsights(s, d), TestdataAdapter.campaigns(s, d),
        denseId = false)
        .select("ad_id", "campaign_id", "date", "spend", "updated_at")
        .localCheckpoint(true)
      val key = Seq("campaign_id", "date")
      val existing = Meta.latestByKey(
        t.filter(col("updated_at") <= lit("2024-01-15 00:00:00").cast("timestamp")),
        key, "updated_at", Seq("ad_id"))
      val batch = t.filter(
        col("updated_at") > lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("updated_at") <= lit("2024-01-14 00:00:00").cast("timestamp"))
      val out = Meta.mergeUpsert(existing, batch, key,
        watermarkCol = "updated_at", tieBreak = Seq("ad_id"))
        .localCheckpoint(true)
      graft.operators.Checkpoints.release(t)
      out
    }),

    "meta_cleaned_data" -> ((s, d) =>
      Meta.cleanedData(TestdataAdapter.mainWide(s, d))),

    // IVM equivalence pin: the state (partials over the %10≠0 "history")
    // merged with a delta batch (%10==0) must equal the full recompute —
    // which is exactly what the oracle runs. Exact DECIMAL sums make the
    // partial merge order-independent; doubles only at the boundary.
    "meta_ivm_agg" -> ((s, d) => {
      val e = Tables.events(s, d).select(
        col("event_type"), hour(col("ts")).as("hr"), col("event_id"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"))
      val keys = Seq("event_type", "hr")
      val parts = Seq("n" -> count(lit(1)), "sv" -> sum(col("v")))
      val state = Meta.toPartials(e.filter(col("event_id") % 10 =!= 0), keys, parts)
      val delta = Meta.toPartials(e.filter(col("event_id") % 10 === 0), keys, parts)
      Meta.incrementalAggMerge(state, delta, keys, Seq("n", "sv"))
        .select(col("event_type"), col("hr"), col("n").as("n_events"),
          col("sv").cast(org.apache.spark.sql.types.DoubleType).as("total_value"))
    }),

    // dbt `snapshot` (check_cols) materialization: the event feed
    // collapsed into SCD-2 validity intervals of each user's state —
    // the BUILD side of the scd2Lookup/bi-temporal pair. One shuffle
    // (hash by user_id), two window passes over the same sort;
    // event_id tie-breaks equal timestamps so the intervals are
    // deterministic under any partitioning.
    "meta_scd2_snapshot" -> ((s, d) => {
      val e = Tables.events(s, d).select("user_id", "ts", "event_type", "event_id")
      graft.operators.Temporal.scd2Build(e, Seq("user_id"), "ts",
        tracked = Seq("event_type"), tieBreak = Seq("event_id"))
        .select("user_id", "event_type", "valid_from", "valid_to", "is_current")
    })
  )

  /** DuckDB twin of TestdataAdapter.adsInsights + campaigns + the model. */
  private val adsCte = """
WITH ads AS (
  SELECT concat('ad_', lpad(CAST(event_id AS VARCHAR), 8, '0')) AS ad_id,
         concat('campaign_id_', CAST(user_id % 20 AS VARCHAR)) AS campaign_id,
         CASE event_type WHEN 'purchase' THEN 'CONVERSIONS' WHEN 'click' THEN 'TRAFFIC'
              WHEN 'view' THEN 'VIDEO_VIEWS' WHEN 'signup' THEN 'LINK_CLICKS'
              ELSE 'OUTCOME_ENGAGEMENT' END AS objective,
         CAST(event_id % 1000 AS VARCHAR) AS clicks,
         CAST((event_id * 7) % 100000 AS VARCHAR) AS impressions,
         CAST(event_id % 500 AS VARCHAR) AS unique_clicks,
         replace(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR), '.', ',') AS spend,
         concat(CAST(((event_id * 13) % 100000) // 100 AS VARCHAR), ',', lpad(CAST(((event_id * 13) % 100000) % 100 AS VARCHAR), 2, '0')) AS cpm,
         concat(CAST(((event_id * 17) % 10000) // 100 AS VARCHAR), ',', lpad(CAST(((event_id * 17) % 10000) % 100 AS VARCHAR), 2, '0')) AS cpc,
         concat(CAST(((event_id * 23) % 1000000) // 100 AS VARCHAR), ',', lpad(CAST(((event_id * 23) % 1000000) % 100 AS VARCHAR), 2, '0')) AS conversion_values,
         strftime(ts, '%Y-%m-%d') AS date_start,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS created_time,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS updated_time,
         concat('Account ', CAST(user_id % 5 AS VARCHAR)) AS account_name,
         CAST(user_id % 5 AS VARCHAR) AS account_id,
         CASE user_id % 4 WHEN 0 THEN 'Classical' WHEN 1 THEN 'CRM'
              WHEN 2 THEN 'Digital' ELSE 'Legacy' END AS optimization_goal
  FROM events
), campaigns AS (
  SELECT concat('cmp', CAST(k AS VARCHAR)) AS id, concat('Campaign #', CAST(k AS VARCHAR)) AS name,
         'ACTIVE' AS status, 'CONVERSIONS' AS objective
  FROM (SELECT DISTINCT user_id % 20 AS k FROM events) WHERE k < 15
), transformed AS (
  SELECT a.campaign_id, a.ad_id,
         CAST(a.date_start AS TIMESTAMP) AS date,
         CAST(a.clicks AS INTEGER) AS clicks,
         CAST(a.impressions AS INTEGER) AS impressions,
         CAST(a.unique_clicks AS INTEGER) AS "unique",
         CAST(replace(a.spend, ',', '.') AS DOUBLE) AS spend,
         CAST(replace(a.cpm, ',', '.') AS DOUBLE) AS cpm,
         CAST(replace(a.cpc, ',', '.') AS DOUBLE) AS cpc,
         CAST(replace(a.conversion_values, ',', '.') AS DOUBLE) AS revenue,
         a.account_name AS publisher, a.account_id AS property, a.account_name AS owner,
         CASE a.objective WHEN 'CONVERSIONS' THEN 'Conversion Ad' WHEN 'TRAFFIC' THEN 'Traffic Ad'
              WHEN 'VIDEO_VIEWS' THEN 'Video Ad' ELSE 'Other Ad' END AS media_type,
         CASE WHEN a.optimization_goal IN ('Classical','CRM','Digital')
              THEN a.optimization_goal ELSE 'Other' END AS media_cluster,
         'facebook' AS channel, 'group_placeholder' AS product_group,
         'product_placeholder' AS product, 'audience_placeholder' AS audience,
         CAST(a.created_time AS TIMESTAMP) AS added_at,
         CAST(a.updated_time AS TIMESTAMP) AS updated_at,
         CAST(replace(a.spend, ',', '.') AS DOUBLE) AS gross_media_cost,
         CAST(replace(a.spend, ',', '.') AS DOUBLE) * CAST(0.9 AS DOUBLE) AS net_media_cost,
         CAST(replace(a.spend, ',', '.') AS DOUBLE) * CAST(0.8 AS DOUBLE) AS net_net_media_cost,
         c.name AS campaign
  FROM ads a
  LEFT JOIN campaigns c
    ON a.campaign_id = concat('campaign_id_', substring(c.id, 4))
)"""

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    "meta_fb_ads_transformed" -> s"""$adsCte
SELECT * FROM transformed""",

    "meta_incremental_staging" -> s"""$adsCte,
narrow AS (
  SELECT ad_id, campaign_id, date, spend, updated_at FROM transformed
), existing AS (
  SELECT * FROM narrow WHERE updated_at <= TIMESTAMP '2024-01-20 00:00:00'
), merged AS (
  SELECT * FROM existing
  UNION ALL
  -- coalesce: an empty existing slice (NULL watermark) must admit ALL
  -- source rows, matching Meta.incrementalMerge's null-watermark branch
  SELECT * FROM narrow
  WHERE updated_at > coalesce((SELECT max(updated_at) FROM existing),
                              TIMESTAMP '0001-01-01 00:00:00')
)
SELECT ad_id, campaign_id, date, spend, updated_at FROM (
  SELECT *, row_number() OVER (PARTITION BY campaign_id, date
                               ORDER BY updated_at DESC, ad_id ASC) AS rn
  FROM merged
) WHERE rn = 1""",

    "meta_merge_semantics" -> s"""$adsCte,
narrow AS (
  SELECT ad_id, campaign_id, date, spend, updated_at FROM transformed
), existing AS (
  SELECT ad_id, campaign_id, date, spend, updated_at FROM (
    SELECT *, row_number() OVER (PARTITION BY campaign_id, date
                                 ORDER BY updated_at DESC, ad_id ASC) AS rn
    FROM narrow WHERE updated_at <= TIMESTAMP '2024-01-15 00:00:00'
  ) WHERE rn = 1
), batch AS (
  SELECT ad_id, campaign_id, date, spend, updated_at FROM (
    SELECT *, row_number() OVER (PARTITION BY campaign_id, date
                                 ORDER BY updated_at DESC, ad_id ASC) AS rn
    FROM narrow WHERE updated_at > TIMESTAMP '2024-01-10 00:00:00'
                  AND updated_at <= TIMESTAMP '2024-01-14 00:00:00'
  ) WHERE rn = 1
)
SELECT e.ad_id, e.campaign_id, e.date, e.spend, e.updated_at FROM existing e
WHERE NOT EXISTS (SELECT 1 FROM batch b
                  WHERE b.campaign_id = e.campaign_id AND b.date = e.date)
UNION ALL
SELECT ad_id, campaign_id, date, spend, updated_at FROM batch""",

    "meta_cleaned_data" -> s"""${OracleCtes.mainWide}
SELECT id, CAST(date AS TIMESTAMP) AS date,
       coalesce(channel, 'N/A') AS channel,
       coalesce(campaign, 'N/A') AS campaign,
       coalesce(publisher, 'N/A') AS publisher,
       coalesce(clicks, 0) AS clicks,
       coalesce(impressions, 0) AS impressions,
       CAST(replace(media_cost_eur, ',', '.') AS DOUBLE) AS media_cost_eur,
       CAST(replace(cpm, ',', '.') AS DOUBLE) AS cpm,
       CAST(replace(cpc, ',', '.') AS DOUBLE) AS cpc,
       coalesce(revenue, CAST(0 AS DOUBLE)) AS revenue
FROM main_wide""",

    // Full recompute — the IVM merge must be indistinguishable from it.
    "meta_ivm_agg" -> """
SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type, hr""",

    // SCD-2 build replay: a row opens an interval when its tracked
    // state IS DISTINCT FROM the predecessor's (null-safe, first row
    // always opens); valid_to is the next open's ts, open tail is
    // current. Same event_id tie-break as the Spark side.
    "meta_scd2_snapshot" -> """
WITH ordered AS (
  SELECT user_id, ts, event_type, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), opens AS (
  SELECT user_id, ts, event_type, event_id FROM ordered
  WHERE prev_ts IS NULL OR (event_type IS DISTINCT FROM prev_type)
)
SELECT user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
FROM opens"""
  )
}
