package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.models.{Retail, TestdataAdapter}

/** Shared DuckDB SQL fragments for the oracle side. */
object OracleCtes {
  /** DuckDB twin of TestdataAdapter.rawInvoices + country. */
  val retail: String = """
WITH raw_invoices AS (
  SELECT CAST(o.o_orderkey AS VARCHAR) AS InvoiceNo,
         concat('SC', CAST(l.l_partkey AS VARCHAR)) AS StockCode,
         p.p_name AS Description,
         CAST(CASE WHEN l.l_orderkey % 53 = 0 THEN -l.l_quantity ELSE l.l_quantity END AS INTEGER) AS Quantity,
         CASE WHEN o.o_orderkey % 2 = 0 THEN strftime(o.o_orderdate, '%m/%d/%Y %H:%M')
              ELSE strftime(o.o_orderdate, '%-m/%-d/%Y %-H:%M') END AS InvoiceDate,
         CASE WHEN l.l_partkey % 41 = 0 THEN 0.0 ELSE p.p_retailprice END AS UnitPrice,
         CASE WHEN o.o_custkey % 37 = 0 THEN NULL ELSE o.o_custkey END AS CustomerID,
         n.n_name AS Country
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
), country_map AS (
  SELECT n_name AS nicename, upper(substring(n_name, 1, 2)) AS iso FROM nation
)"""

  /** dbt_utils surrogate key in DuckDB (md5 of '-'-joined coalesced casts). */
  def sk(cols: String*): String =
    "md5(concat_ws('-', " + cols.map(c => s"coalesce(CAST($c AS VARCHAR), '')").mkString(", ") + "))"

  /** Engine-stable money text: double → DECIMAL(18,2). */
  def money(c: String): String = s"CAST($c AS DECIMAL(18,2))"

  val parsedTs: String =
    "CASE WHEN length(InvoiceDate) = 16 THEN strptime(InvoiceDate, '%m/%d/%Y %H:%M') " +
      "ELSE strptime(InvoiceDate, '%-m/%-d/%Y %-H:%M') END"

  /** DuckDB twin of TestdataAdapter.mainWide (26-col wide-table analog). */
  val mainWide: String = """
WITH main_wide AS (
  SELECT event_id AS id, CAST(ts AS DATE) AS date,
         CASE WHEN user_id % 11 = 0 THEN NULL ELSE concat('ch', CAST(user_id % 5 AS VARCHAR)) END AS channel,
         CASE WHEN user_id % 13 = 0 THEN NULL ELSE concat('cmp', CAST(user_id % 20 AS VARCHAR)) END AS campaign,
         CASE WHEN user_id % 7 = 0 THEN NULL ELSE concat('pub', CAST(user_id % 7 AS VARCHAR)) END AS publisher,
         CASE WHEN event_id % 17 = 0 THEN NULL
              WHEN event_id % 31 = 0 THEN CAST(-5 AS INTEGER)
              ELSE CAST(event_id % 1000 AS INTEGER) END AS clicks,
         CASE WHEN event_id % 23 = 0 THEN NULL ELSE CAST((event_id * 7) % 100000 AS INTEGER) END AS impressions,
         replace(CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR), '.', ',') AS media_cost_eur,
         concat(CAST(((event_id * 13) % 100000) // 100 AS VARCHAR), ',', lpad(CAST(((event_id * 13) % 100000) % 100 AS VARCHAR), 2, '0')) AS cpm,
         concat(CAST(((event_id * 17) % 10000) // 100 AS VARCHAR), ',', lpad(CAST(((event_id * 17) % 10000) % 100 AS VARCHAR), 2, '0')) AS cpc,
         CASE WHEN event_id % 29 = 0 THEN value * CAST(3 AS DOUBLE) - CAST(500 AS DOUBLE)
              ELSE value * CAST(3 AS DOUBLE) END AS revenue
  FROM events
)"""
}

object RetailQueries {
  import OracleCtes._

  // Session cache: fctInvoices derives its three dims from the same raw
  // build, and the report queries reuse it again — Spark's cache manager
  // matches by logical plan, so every retail query shares one
  // materialization of the 5-way adapter join instead of recomputing it
  // per dim. MEMORY_AND_DISK_SER (r21 scale-proofing): raw/fct are
  // fact-table-scale at 100 TB — serialized residency and byte-priced
  // eviction instead of deserialized object graphs; plans unchanged.
  private val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
  private def raw(s: SparkSession, d: String) =
    TestdataAdapter.rawInvoices(s, d).persist(ser)
  // The fact is likewise shared (plan-matched) by the report queries.
  private def fct(s: SparkSession, d: String) =
    Retail.fctInvoices(raw(s, d), ctry(s, d)).persist(ser)
  private def ctry(s: SparkSession, d: String) = TestdataAdapter.country(s, d)
  // The two dims the report queries re-derive are shared the same way
  // (r20): dim_customer's distinct+surrogate-md5 over raw ran once per
  // consuming query per run before — the cache manager now plan-matches
  // the dim query and its report consumers to one materialization, the
  // exact star-schema materialization the reference's dbt DAG performs.
  private def dimC(s: SparkSession, d: String) =
    Retail.dimCustomer(raw(s, d), ctry(s, d)).persist(ser)
  private def dimD(s: SparkSession, d: String) =
    Retail.dimDatetime(raw(s, d), TestdataAdapter.parseAdapterTs).persist(ser)

  val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.registry(
    "retail_dim_customer" -> ((s, d) => dimC(s, d)),
    "retail_dim_product" -> ((s, d) => Retail.dimProduct(raw(s, d))),
    "retail_dim_datetime" -> ((s, d) => dimD(s, d)),
    "retail_fct_invoices" -> ((s, d) => fct(s, d)),
    "retail_report_customer" -> ((s, d) =>
      Retail.reportCustomerInvoices(fct(s, d), dimC(s, d))),
    "retail_report_product" -> ((s, d) => Retail.reportProductInvoices(raw(s, d))),
    "retail_report_year" -> ((s, d) =>
      Retail.reportYearInvoices(fct(s, d), dimD(s, d)))
  )

  private val productId = sk("StockCode", "Description", money("UnitPrice"))
  private val customerId = sk("CustomerID", "Country")
  private val datetimeId = sk("InvoiceDate")

  val oracle: Map[String, String] = graft.SparkEntry.registry(
    "retail_dim_customer" -> s"""$retail
SELECT $customerId AS customer_id, r.Country AS country, cm.iso AS iso
FROM (SELECT DISTINCT CustomerID, Country FROM raw_invoices WHERE CustomerID IS NOT NULL) r
LEFT JOIN country_map cm ON r.Country = cm.nicename""",

    "retail_dim_product" -> s"""$retail
SELECT DISTINCT $productId AS product_id, StockCode AS stock_code,
       Description AS description, UnitPrice AS unit_price
FROM raw_invoices WHERE UnitPrice > 0""",

    "retail_dim_datetime" -> s"""$retail
SELECT $datetimeId AS datetime_id, $parsedTs AS datetime,
       CAST(year($parsedTs) AS INTEGER) AS year,
       CAST(month($parsedTs) AS INTEGER) AS month,
       CAST(day($parsedTs) AS INTEGER) AS day,
       CAST(hour($parsedTs) AS INTEGER) AS hour,
       CAST(minute($parsedTs) AS INTEGER) AS minute,
       CAST(dayofweek($parsedTs) + 1 AS INTEGER) AS weekday
FROM (SELECT DISTINCT InvoiceDate FROM raw_invoices)""",

    "retail_fct_invoices" -> s"""$retail
SELECT InvoiceNo AS invoice_id, $datetimeId AS datetime_id, $productId AS product_id,
       $customerId AS customer_id, Quantity * UnitPrice AS total
FROM raw_invoices
WHERE Quantity > 0 AND CustomerID IS NOT NULL AND UnitPrice > 0""",

    "retail_report_customer" -> s"""$retail
SELECT Country AS country, count(DISTINCT InvoiceNo) AS total_invoices,
       CAST(sum(CAST(Quantity * UnitPrice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
FROM raw_invoices
WHERE Quantity > 0 AND CustomerID IS NOT NULL AND UnitPrice > 0
GROUP BY Country""",

    "retail_report_product" -> s"""$retail
SELECT StockCode AS stock_code, CAST(sum(Quantity) AS BIGINT) AS total_quantity_sold
FROM raw_invoices WHERE Quantity > 0 AND UnitPrice > 0
GROUP BY StockCode""",

    "retail_report_year" -> s"""$retail
SELECT CAST(year($parsedTs) AS INTEGER) AS year, count(DISTINCT InvoiceNo) AS num_invoices
FROM raw_invoices
WHERE Quantity > 0 AND CustomerID IS NOT NULL AND UnitPrice > 0
GROUP BY 1"""
  )
}
