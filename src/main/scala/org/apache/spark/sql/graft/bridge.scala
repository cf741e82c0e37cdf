package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column↔Expression converters (the
  * Column(expr) constructor was removed in Spark 4's Connect refactor).
  * Lives under org.apache.spark.sql so custom Catalyst expressions in
  * graft.* can be exposed as user-facing Columns. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field, element and value nullable — what
    * `df.write.parquet` writes files under (`asNullable` is private). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Count a file this task wrote in its output metrics, as Spark's own
    * file writers do (the setters are private to Spark). */
  def recordOutput(file: org.apache.hadoop.fs.Path, records: Long): Unit = {
    val bytes = file.getFileSystem(new org.apache.hadoop.conf.Configuration())
      .getFileStatus(file).getLen
    val m = org.apache.spark.TaskContext.get().taskMetrics().outputMetrics
    m.setBytesWritten(m.bytesWritten + bytes)
    m.setRecordsWritten(m.recordsWritten + records)
  }

  /** Build a DataFrame from a logical plan (`Dataset.ofRows` went
    * private-to-sql in the classic split). Streaming V1 sources need it
    * to return batch-planned scans with streaming-flagged leaves. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-expose a fully-planned batch frame as a one-leaf STREAMING scan
    * (the incremental planner sees a plain RDD leaf, so batch joins and
    * set-diffs inside `df` cannot be mistaken for stateful streaming
    * operators). Planning happens here; execution stays lazy. */
  def streamingScanOf(spark: org.apache.spark.sql.SparkSession,
                      df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** Executor-side parquet row reader with Spark's FULL read fidelity
    * (schema pinning, int->long/float->double upcast, missing-column
    * null-fill, rebase handling) — `ParquetFileFormat
    * .buildReaderWithPartitionValues` is private[sql], re-exposed here
    * for DSv2 Batch scans that must produce InternalRows themselves
    * (the row-level DML scan: Spark's group-based rewrite requires a
    * real Batch, not the V1Scan fallback). The returned function closes
    * over a broadcast Hadoop config and is executor-serializable;
    * OPTION_RETURNING_BATCH=false guarantees row iterators. */
  def parquetRowReader(spark: org.apache.spark.sql.SparkSession,
                       schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    fmt.buildReaderWithPartitionValues(
      spark, schema, new org.apache.spark.sql.types.StructType(), schema, Nil,
      Map(org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConf())
  }

  /** A parquet DataFrame over an EXPLICIT file list with KNOWN statuses
    * — planning from the manifest instead of `spark.read.parquet(paths)`
    * (whose InMemoryFileIndex re-lists every path: a driver listing
    * job per query, a measured 16.8 s on a 10k-file table, and on an
    * object store a LIST/HEAD storm). The FileIndex below hands Spark
    * the statuses it already has; everything downstream — column
    * pruning, parquet filter pushdown, file splitting, vectorized
    * read, `input_file_name()` — is the stock V1 file-source path. The
    * schema must be pinned (the snapshot manifest records it), so no
    * footer inference is needed either. */
  def manifestParquetFrame(spark: org.apache.spark.sql.SparkSession,
                           statuses: Seq[org.apache.hadoop.fs.FileStatus],
                           schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new FileIndex {
      override def rootPaths: Seq[org.apache.hadoop.fs.Path] =
        statuses.map(_.getPath)
      override def listFiles(
          partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
          dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
          : Seq[PartitionDirectory] =
        Seq(PartitionDirectory(
          org.apache.spark.sql.catalyst.InternalRow.empty, statuses.toArray))
      override def inputFiles: Array[String] =
        statuses.map(_.getPath.toString).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = statuses.map(_.getLen).sum
      override def partitionSchema: org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()
    }
    val relation = HadoopFsRelation(index,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      dataSchema = schema, bucketSpec = None,
      fileFormat = new parquet.ParquetFileFormat(),
      options = Map.empty)(classic)
    ofRows(spark, LogicalRelation(relation))
  }

  /** The inverse of [[streamingScanOf]]: re-expose a micro-batch's
    * streaming DataFrame (whose IncrementalExecution cannot be handed to
    * batch writers) as a plain BATCH frame over the same physical RDD —
    * the V1 `Sink.addBatch` idiom for sinks that persist through batch
    * APIs (`df.write`). Execution stays lazy until the sink writes. */
  def batchOf(spark: org.apache.spark.sql.SparkSession,
              df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)
}
