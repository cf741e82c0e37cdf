package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured Streaming SOURCE over a [[SnapshotTable]]'s version chain —
  * `spark.readStream.format("graft-snapshot").load(root)` turns the table
  * into a live append feed, closing the lakehouse loop in both directions
  * (streaming ingest lands versions via `commitAppendOnce`; this reads
  * them back out as micro-batches). The public-format shape: Delta's
  * streaming source over the commit log, re-expressed on the manifest
  * chain.
  *
  * Offsets ARE version numbers (checkpointed by the engine as
  * `LongOffset`), so a restart resumes exactly at the next uncommitted
  * version. Each micro-batch is `readAppendedBetween(start, end]`:
  * planned from manifests only, cost O(the delta's files), and
  * `dataChange=false` maintenance versions (compaction) deliver nothing —
  * a consumer never re-receives the table after file reorganization.
  * Semantics are an INSERT-ONLY feed, enforced: a non-append data change
  * in the range (delete, upsert, overwrite, replaceWhere, rollback) fails
  * the batch loudly — delivering a rewrite's files would replay old rows
  * as new, and skipping silently would lose the change. The user picks
  * the relaxation: `option("skipChangeCommits", "true")` streams appends
  * only (ignoring changes, the Delta option of the same name), or
  * `option("changeFeed", "true")` switches batches to `readChangeFeed`
  * rows with `_change_type`/`_commit_version` appended to the schema — a
  * downstream job can maintain an exact replica by applying deletes and
  * inserts per version (the Delta CDF streaming shape).
  *
  * The batch plan keeps the native parquet scan (pushdown, codegen): the
  * analyzed plan's relation leaves are re-flagged `isStreaming = true`
  * rather than routed through a row-copying adapter. Reference analog:
  * the scheduled incremental rerun (SURVEY.md §2.9 I2), upgraded from a
  * timestamp watermark to exact version offsets.
  */
class SnapshotSourceProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister {
  import org.apache.spark.sql.types.{LongType, StringType}

  override def shortName(): String = "graft-snapshot"

  // ---- batch DSv2 read (versionAsOf / timestampAsOf) ----
  // The provider is ALSO a TableProvider so `spark.read.format(...)`
  // resolves V2; the V2 table reports BATCH_READ only, so streaming
  // reads fall back to the V1 StreamSourceProvider below (exact version
  // offsets) and streaming writes to the V1 sink — one format name,
  // three surfaces.

  override def inferSchema(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.types.StructType = {
    val spark = SparkSession.active
    // a sink target may not exist yet: report an empty schema instead of
    // failing — the write path only capability-checks the table
    val root = Option(options.get("path")).getOrElse(sys.error(
      "graft-snapshot needs a table root (load(<root>) or option(\"path\", …))"))
    if (new SnapshotTable(spark, root).latestVersion() == 0L)
      new org.apache.spark.sql.types.StructType()
    else {
      val (table, version) = SnapshotBatch.resolve(spark, options)
      table.schemaOf(version) // manifest-recorded: zero data-file I/O
    }
  }

  override def getTable(schema: org.apache.spark.sql.types.StructType,
                        partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
                        properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    val spark = SparkSession.active
    val root = Option(properties.get("path")).getOrElse(sys.error(
      "graft-snapshot needs a table root (load(<root>) or option(\"path\", …))"))
    // resolve the snapshot version ONCE, here at relation-creation time:
    // re-resolving 'latest' per ScanBuilder would let one DataFrame read
    // DIFFERENT versions across its actions when commits race it
    // (non-repeatable read). A not-yet-existing sink target stays
    // unpinned — the write path only capability-checks the table.
    val pinned =
      if (new SnapshotTable(spark, root).latestVersion() == 0L) None
      else Some(SnapshotBatch.resolve(spark,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(properties)))
    new GraftSnapshotBatchTable(spark, root, schema, pinned)
  }

  // ---- streaming sink (exactly-once versions via commitAppendOnce) ----

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft-snapshot sink does not take partitionBy; layout is a table " +
        "maintenance choice (compact(clusterBy = …))")
    val complete = outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    require(complete || outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-snapshot sink supports Append (commitAppendOnce) and Complete " +
        s"(commitOverwrite); got $outputMode")
    new SnapshotSink(sqlContext.sparkSession, rootOf(parameters), complete,
      txnAppIdOption = parameters.get("txnAppId"),
      branchName = parameters.get("branch"))
  }

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", sys.error(
      "graft-snapshot needs a table root: readStream.format(\"graft-snapshot\").load(<root>)"))

  private def cdfOf(parameters: Map[String, String]): Boolean =
    parameters.get("changeFeed").exists(_.toBoolean)

  private def schemaOf(sqlContext: SQLContext, schema: Option[StructType],
                       parameters: Map[String, String]): StructType = {
    val base = schema.getOrElse {
      val main = new SnapshotTable(sqlContext.sparkSession, rootOf(parameters))
      parameters.get("branch").fold(main)(main.branch).read().schema
    }
    if (!cdfOf(parameters)) base
    else base.add("_change_type", StringType, nullable = false)
      .add("_commit_version", LongType, nullable = false)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String, parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), schemaOf(sqlContext, schema, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new SnapshotSource(sqlContext.sparkSession, rootOf(parameters),
      schemaOf(sqlContext, schema, parameters), cdf = cdfOf(parameters),
      skipChangeCommits = parameters.get("skipChangeCommits").exists(_.toBoolean),
      maxVersionsPerTrigger = capOf(parameters, "maxVersionsPerTrigger"),
      maxRowsPerTrigger = capOf(parameters, "maxRowsPerTrigger"),
      maxBytesPerTrigger = capOf(parameters, "maxBytesPerTrigger"),
      branchName = parameters.get("branch"),
      // "latest" = from-now-on; a number = that version onward
      // (inclusive). Lets a fresh consumer bootstrap on a vacuumed table
      // whose old manifests are gone: read(tip) + stream from
      // startingVersion=latest, the Delta-source idiom. "latest" is
      // resolved ONCE per checkpoint, persisted under metadataPath.
      startingVersion = parameters.get("startingVersion").map {
        case "latest" =>
          StreamAdmission.resolveLatestOnce(sqlContext.sparkSession,
            rootOf(parameters), metadataPath)
        case n => n.toLong
      }.getOrElse(1L))

  private def capOf(parameters: Map[String, String], key: String): Option[Long] =
    parameters.get(key).map { v =>
      val n = v.toLong
      require(n >= 1, s"$key must be >= 1, got $n")
      n
    }
}

/** Rate limiting: the source implements [[SupportsAdmissionControl]]
  * (the FileStreamSource shape — a V1 `Source` mixing in the DSv2
  * admission interface, which `MicroBatchExecution` matches FIRST), so
  * the ENGINE threads each batch's start offset into
  * `latestOffset(start, limit)` and the source holds no position state.
  * `maxRowsPerTrigger` becomes the engine's `ReadLimit.maxRows`;
  * `maxVersionsPerTrigger` caps commits per batch. Without caps the
  * admitted offset is the tip — byte-for-byte the old `getOffset`
  * behavior. [[SupportsTriggerAvailableNow]] pins the drain target at
  * query start so `Trigger.AvailableNow` + a cap drains a large backlog
  * in bounded batches and stops. */
class SnapshotSource(spark: SparkSession, root: String,
                     override val schema: StructType,
                     cdf: Boolean = false,
                     skipChangeCommits: Boolean = false,
                     startingVersion: Long = 1L,
                     maxVersionsPerTrigger: Option[Long] = None,
                     maxRowsPerTrigger: Option[Long] = None,
                     maxBytesPerTrigger: Option[Long] = None,
                     branchName: Option[String] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}

  private val table = branchName
    .fold(new SnapshotTable(spark, root))(new SnapshotTable(spark, root).branch)

  /** Works for LongOffset and the engine's SerializedOffset replay alike —
    * both round-trip the version through `json()`. */
  private def version(o: OffsetV1): Long = o.json.trim.toLong

  private def floor: Long =
    math.max(table.chainFloor, math.max(0L, startingVersion - 1))

  @volatile private var availableNowTip: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTip = math.max(table.latestVersion(), floor)

  override def initialOffset(): OffsetV2 = LongOffset(floor)
  override def deserializeOffset(json: String): OffsetV2 =
    LongOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit =
    StreamAdmission.defaultLimit(
      maxRowsPerTrigger.map(_.toString), maxBytesPerTrigger.map(_.toString))

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = math.max(Option(start).map(o => o.json.trim.toLong).getOrElse(0L), floor)
    val tip0 = math.max(table.latestVersion(), floor)
    val tip = if (availableNowTip >= 0) math.min(tip0, availableNowTip) else tip0
    LongOffset(StreamAdmission.admit(table, from, tip, maxVersionsPerTrigger,
      StreamAdmission.rowsCapOf(limit), StreamAdmission.bytesCapOf(limit)))
  }

  override def reportLatestOffset(): OffsetV2 =
    LongOffset(math.max(table.latestVersion(), floor))

  override def getOffset: Option[OffsetV1] = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    // startingVersion floors EVERY batch (not just the first): with a
    // future startingVersion, the engine may checkpoint offsets below it
    // before versions exist — those must never deliver later
    val from = math.max(start.map(version).getOrElse(0L),
      math.max(0L, startingVersion - 1))
    val to = version(end)
    val batch =
      if (to <= from)
        bridge.ofRows(spark,
          LocalRelation(DataTypeUtils.toAttributes(schema), Nil, isStreaming = true))
      else if (cdf)
        // the CDF plan contains joins and set-diffs — ride it into the
        // stream as one pre-planned leaf so the incremental planner
        // cannot mistake its operators for stateful streaming state
        bridge.streamingScanOf(spark, table.readChangeFeed(from, to)
          .select(schema.fieldNames.map(col).toSeq: _*))
      else {
        // one manifest walk per batch: append files to deliver + the
        // non-append changes the insert-only contract must fail on —
        // a rewrite/delete in the range means rows were changed or
        // removed; delivering the rewritten files would replay old rows
        // as new, and skipping silently would lose the change (the
        // Delta-source behavior, relaxed only by explicit options).
        val (appendFiles, changed) = table.appendDelta(from, to)
        if (changed.nonEmpty && !skipChangeCommits)
          throw new IllegalStateException(
            s"graft-snapshot at $root: non-append data change " +
              changed.map { case (v, a) => s"$a@v$v" }.mkString(", ") +
              " in the stream range; read with option(\"changeFeed\",\"true\") " +
              "for retractions, or option(\"skipChangeCommits\",\"true\") to " +
              "stream appends only")
        if (appendFiles.isEmpty)
          // empty from the PINNED stream schema: the tip's schema may
          // have drifted (e.g. a skipped overwrite dropped a column) and
          // must not leak into an empty batch's plan
          bridge.ofRows(spark,
            LocalRelation(DataTypeUtils.toAttributes(schema), Nil, isStreaming = true))
        else {
          // the delta read is PINNED to the stream's start-time schema
          // (schema-following): additively-evolved files deliver with
          // their new columns pruned, files predating a pinned column
          // null-fill it, narrower files widen natively — and an
          // incompatible type change stays loud in the parquet reader
          // (restart the query to adopt the evolved schema). Without
          // the pin, a footer-inferred read would fail on BOTH benign
          // directions (extra column → select mismatch, missing column
          // → unresolved) instead of following.
          val df = table.readFilesAs(appendFiles, schema)
          bridge.ofRows(spark, df.queryExecution.analyzed.transform {
            case lr: LogicalRelation => lr.copy(isStreaming = true)
          })
        }
      }
    batch
  }

  // versions are retained until the table's own vacuum policy drops them;
  // the source holds no state beyond the engine-checkpointed offset
  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"SnapshotSource[$root]"
}
