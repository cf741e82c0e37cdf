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
    registry(Seq(RetailQueries.queries, MetaQueries.queries,
      MmsQueries.queries, SyncQueries.queries, CheckQueries.queries,
      LlmQueries.queries, StreamQueries.queries, MiscQueries.queries,
      TpchQueries.queries, AnalyticsQueries.queries, MarketQueries.queries).flatten: _*)

  def oracleSql: Map[String, String] =
    registry(Seq(RetailQueries.oracle, MetaQueries.oracle,
      MmsQueries.oracle, SyncQueries.oracle, CheckQueries.oracle,
      LlmQueries.oracle, StreamQueries.oracle, MiscQueries.oracle,
      TpchQueries.oracle, AnalyticsQueries.oracle, MarketQueries.oracle).flatten: _*)

  /** A registry built from its entries: a name given more than once —
    * inside one module's literal or across modules — fails, naming every
    * such name, where a `Map(...)` literal or `++` would silently keep only
    * the last entry. Iterates as `Map(entries: _*)` does. */
  private[graft] def registry[V](entries: (String, V)*): Map[String, V] = {
    val dups = entries.groupBy(_._1)
      .collect { case (k, es) if es.length > 1 => k }.toSeq.sorted
    require(dups.isEmpty, s"registry names given more than once: ${dups.mkString(", ")}")
    entries.toMap
  }

  /** The registered queries named in `names` (empty: all of them), in
    * [[queries]]' iteration order — results may depend on the order
    * queries share a session in. An unknown name fails, naming every
    * unknown one. */
  def select(names: Set[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names -- all.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    all.toSeq.filter { case (name, _) => names.isEmpty || names(name) }
  }
}
