package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.models.{Mms, TestdataAdapter}

/** mms/google_sheets model queries: German-locale staging (F9, F5, F3,
  * F14), channel-name normalization (F6), and the 3-part normalized-key
  * left join (J2, F4). SURVEY.md §2.3, §2.8. */
object MmsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    "mms_lb_staged" -> ((s, d) => Mms.lbStaged(TestdataAdapter.mmsSheet(s, d))),
    "mms_normalized_costs" -> ((s, d) => Mms.normalizedCosts(TestdataAdapter.mmsCosts(s, d))),
    "mms_perf_cost_combined" -> ((s, d) =>
      Mms.performanceCostCombined(
        Mms.lbStaged(TestdataAdapter.mmsSheet(s, d)),
        Mms.normalizedCosts(TestdataAdapter.mmsCosts(s, d))))
  )

  // Triple-quoted: \d stays a literal backslash-d for the DuckDB regex.
  private val blockRe = """'(\d{2})(\d{2})(\d{2})(\d{2})', '\1-\2-\3-\4'"""

  /** DuckDB twins of TestdataAdapter.mmsSheet / mmsCosts and the models. */
  private val cte = s"""
WITH sheet AS (
  SELECT strftime(ts, '%d.%m.%Y') AS datum,
         concat('Motiv ', CAST(user_id % 10 AS VARCHAR)) AS Motiv,
         CASE user_id % 7 WHEN 0 THEN 'RTL II' WHEN 1 THEN 'Super RTL' WHEN 2 THEN 'RTL Nitro'
              WHEN 3 THEN 'Tele 5' WHEN 4 THEN 'Disney Channel' WHEN 5 THEN 'SAT.1'
              ELSE 'ProSieben' END AS Sender,
         'Landliebe' AS Firma,
         concat('P', CAST(user_id % 3 AS VARCHAR)) AS Produkt,
         'E. 14-49' AS Audience,
         CAST(user_id % 60 AS INTEGER) AS Spot_laenge,
         value AS BRW, CAST(event_id % 1000 AS DOUBLE) / CAST(10 AS DOUBLE) AS GRP,
         lpad(CAST(event_id % 100000000 AS VARCHAR), 8, '0') AS Block
  FROM events
), costs_raw AS (
  SELECT CASE user_id % 7 WHEN 0 THEN 'RTL2' WHEN 1 THEN 'SUP RTL' WHEN 2 THEN 'rtl nitro'
              WHEN 3 THEN 'Tele5' WHEN 4 THEN 'disney channel' WHEN 5 THEN 'ARD'
              ELSE 'ZDF' END AS Medien,
         CASE WHEN event_id % 19 = 0 THEN NULL ELSE CAST(ts AS DATE) END AS ET,
         lpad(CAST(event_id % 100000000 AS VARCHAR), 8, '0') AS Blockkodierung,
         'IP Deutschland' AS Vermarkter,
         value AS Grundpreis_AR,
         CAST((event_id * 7) % 50000 AS DOUBLE) / CAST(100 AS DOUBLE) AS Netto_AR,
         CAST((event_id * 3) % 50000 AS DOUBLE) / CAST(100 AS DOUBLE) AS N_N_AR
  FROM events WHERE event_id % 2 = 0
), staged AS (
  SELECT strptime(datum, '%d.%m.%Y') AS date,
         'TV' AS channel, Motiv AS campaign, Sender AS publisher, 'DE' AS property,
         concat(CAST(Spot_laenge AS VARCHAR), ' second spot') AS media_type,
         'Classical' AS media_cluster,
         BRW AS "unique",
         GRP AS grp_circulation,
         Firma AS owner, Produkt AS product, Audience AS audience,
         'MMS' AS product_group,
         regexp_replace(Block, $blockRe) AS block_code
  FROM sheet
), norm_costs AS (
  SELECT CASE Medien WHEN 'RTL2' THEN 'RTL II' WHEN 'SUP RTL' THEN 'Super RTL'
              WHEN 'Tele5' THEN 'Tele 5' WHEN 'rtl nitro' THEN 'RTL Nitro'
              WHEN 'disney channel' THEN 'Disney Channel' ELSE Medien END AS publisher,
         CAST(ET AS TIMESTAMP) AS date,
         regexp_replace(Blockkodierung, $blockRe) AS block_code,
         Vermarkter AS marketer,
         Grundpreis_AR AS gross_media_cost,
         Netto_AR AS net_media_cost,
         N_N_AR AS net_net_media_cost
  FROM costs_raw WHERE ET IS NOT NULL
)"""

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    "mms_lb_staged" -> s"""$cte
SELECT * FROM staged""",

    "mms_normalized_costs" -> s"""$cte
SELECT * FROM norm_costs""",

    "mms_perf_cost_combined" -> s"""$cte
SELECT s.block_code, s.date, s.channel, s.campaign, s.publisher, s.property,
       s.media_type, s.media_cluster, s."unique", s.grp_circulation, s.owner,
       s.product, s.audience, s.product_group,
       c.gross_media_cost, c.net_media_cost, c.net_net_media_cost
FROM staged s
LEFT JOIN norm_costs c
  ON s.block_code = c.block_code AND s.date = c.date
 AND lower(regexp_replace(s.publisher, '[^a-zA-Z0-9]', '', 'g')) =
     lower(regexp_replace(c.publisher, '[^a-zA-Z0-9]', '', 'g'))"""
  )
}
