package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.models.{Retail, TestdataAdapter}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is an operator (or model) from SURVEY.md §2 run over
  * the harness tables; `oracleSql` carries the DuckDB-equivalent SQL. Column
  * names and types are aligned on both sides (the driver hash-compares after
  * sorting columns by name).
  *
  * Output type contract (CORRECTNESS_r01 lesson — every DECIMAL-output
  * query hash-failed in the driver even though values matched): NO
  * DecimalType and NO ArrayType in any registered output. Money math
  * aggregates in exact DECIMAL internally (order-independent) and casts to
  * DOUBLE at the output boundary — a correctly-rounded, engine-identical
  * conversion while unscaled sums stay below 2^53. Doubles that feed
  * surrogate keys still go through DECIMAL→string (engine-stable text);
  * double arithmetic keeps the same IEEE expression shape on both sides,
  * and DuckDB-side literals are CAST to DOUBLE where DuckDB would
  * otherwise type them DECIMAL. graft.Verify refuses to dump a violating
  * schema; tools/selfcheck.py re-checks both sides.
  */
object SparkEntry {

  /** The output-type contract's blacklist, shared by graft.Verify's
    * runtime guard and ContractSpec's schema test so the two gates cannot
    * drift: DECIMAL cells normalize asymmetrically across comparer
    * readers; nested cells are unhashable. */
  def bannedOutputType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.DecimalType => true
    case _: org.apache.spark.sql.types.ArrayType => true
    case _: org.apache.spark.sql.types.MapType => true
    case _: org.apache.spark.sql.types.StructType => true
    case _ => false
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The retail star-schema fact build: scan→filter→surrogate keys→3 dim
    * joins (SURVEY.md §3.3). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Retail.fctInvoices(
      TestdataAdapter.rawInvoices(spark, dir),
      TestdataAdapter.country(spark, dir))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    mergeRegistries(RetailQueries.queries, MetaQueries.queries,
      MmsQueries.queries, SyncQueries.queries, CheckQueries.queries,
      LlmQueries.queries, StreamQueries.queries, MiscQueries.queries,
      TpchQueries.queries, AnalyticsQueries.queries, MarketQueries.queries)

  def oracleSql: Map[String, String] =
    mergeRegistries(RetailQueries.oracle, MetaQueries.oracle,
      MmsQueries.oracle, SyncQueries.oracle, CheckQueries.oracle,
      LlmQueries.oracle, StreamQueries.oracle, MiscQueries.oracle,
      TpchQueries.oracle, AnalyticsQueries.oracle, MarketQueries.oracle)

  /** The union of per-module registries. A name registered by more than
    * one module fails, naming every such name — `++` would silently keep
    * only the last registration. */
  private[graft] def mergeRegistries[V](modules: Map[String, V]*): Map[String, V] = {
    val dups = modules.flatMap(_.keys).groupBy(identity)
      .collect { case (k, ks) if ks.length > 1 => k }.toSeq.sorted
    require(dups.isEmpty,
      s"query names registered by more than one module: ${dups.mkString(", ")}")
    modules.reduce(_ ++ _)
  }
}
