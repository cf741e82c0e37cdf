package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Declared-expected schemas for the harness tables, mirroring the
  * reference's validate-at-the-door posture (schemas as declared sets,
  * checked at runtime — reference: include/scripts/config.py:77-112,
  * include/scripts/validate_extracted_data.py:17-37).
  *
  * Loads are plain parquet scans; Spark prunes columns + pushes
  * predicates into the scan, so callers should NOT pre-select here.
  */
object Schemas {
  val region = StructType(Seq(
    StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
  val nation = StructType(Seq(
    StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))
  val customer = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  val supplier = StructType(Seq(
    StructField("s_suppkey", LongType), StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))
  val part = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))
  val orders = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  val lineitem = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
  val events = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val documents = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val embeddings = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val all: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)
}

/** Table loaders over the harness parquet dirs. A load fails fast when
  * the expected column set is not a subset of the actual one (the
  * reference's superset check, validate_extracted_data.py:27-31). */
object Tables {
  /** Fresh per-application tmp dir for queries that materialize side
    * state (snapshot tables, connector sinks): a prior run's leftovers
    * in the same app are deleted so re-runs rebuild from scratch. */
  def freshTmpDir(s: SparkSession, tag: String): java.io.File = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${tag}_${s.sparkContext.applicationId}")
    if (dir.exists()) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        dir.toURI, s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir.getAbsolutePath), true)
    }
    dir
  }

  /** A [[freshTmpDir]] warehouse registered as the snapshot catalog
    * `name`, with its `name.db` namespace created; returns the warehouse
    * path. Catalog confs are session-global, so each query picks a
    * unique `name`. */
  def freshCatalog(s: SparkSession, name: String, tag: String): String = {
    val wh = freshTmpDir(s, tag).getAbsolutePath
    s.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    wh
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    Schemas.all.get(name).foreach { expected =>
      val missing = expected.fieldNames.toSet -- df.columns.toSet
      require(missing.isEmpty, s"table $name missing expected columns: $missing")
    }
    df
  }
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts has shipped as three different parquet physical types across
    * harness fixture generations; normalize all of them to session-TZ
    * TimestampType so downstream `unix_micros`/window logic never sees a
    * fixture-dependent type:
    *  - TIMESTAMP(NANOS): Spark 4 rejects it outright (PARQUET_TYPE_ILLEGAL)
    *    unless read as LongType via the legacy conf; truncate to micros with
    *    integer division (exact on longs; DuckDB's ns→µs cast truncates the
    *    same way).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
    *    cast to TimestampType. The session TZ is pinned UTC everywhere
    *    (Verify/Bench/specs), so the wall-clock values are reinterpreted as
    *    UTC instants — identical to what DuckDB computes on the same file.
    *  - TIMESTAMP(MICROS, adjusted): already TimestampType, pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", df("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
