package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 micro-batch STREAM over a snapshot table — what makes
  * `spark.readStream.table("cat.db.t")` work (the catalog is the front
  * door; the path-based V1 source `format("graft-snapshot")` keeps its
  * own provider). The V1 [[SnapshotSource]]'s semantics, minus two of
  * its options: no `changeFeed` (retractions stream only through the
  * path-based source) and no `branch` (the catalog stream reads the
  * table's main chain):
  *
  *  - offsets ARE table versions (`LongOffset`), checkpointed by the
  *    engine — a restart resumes at the next uncommitted version;
  *    `startingVersion=latest` is resolved ONCE per checkpoint and
  *    persisted under the source's checkpoint dir
  *    ([[StreamAdmission.resolveLatestOnce]], shared with the V1 source),
  *    so a restart never floors past commits made while it was down;
  *  - insert-only contract: a non-append data change in the range is an
  *    error unless `skipChangeCommits=true` (appends-only), exactly the
  *    V1 source's rule; compactions (dataChange=false) never deliver;
  *  - schema-following: batches read with the schema the CATALOG
  *    resolved at query (re)start — additively-evolved files prune new
  *    columns mid-run, older files null-fill, restarts adopt evolution;
  *  - rows come from Spark's own parquet row reader (the
  *    [[SnapshotDmlReaderFactory]] plumbing, no delete files — append
  *    commits never carry them), one input partition per delta file;
  *  - ADMISSION CONTROL ([[SupportsAdmissionControl]]): without it, a
  *    stream bootstrapping against a large table (startingVersion=1 on
  *    months of commits) reads the ENTIRE backlog as one micro-batch —
  *    one giant stage, one giant state update, one giant sink commit.
  *    `option("maxRowsPerTrigger", n)` becomes the engine's
  *    `ReadLimit.maxRows` (so Trigger.AvailableNow drains the backlog in
  *    bounded batches and STOPS — the wrapper pins the end offset at
  *    start); `option("maxVersionsPerTrigger", n)` caps commits per
  *    batch. Both translate to a version offset by walking SCALAR
  *    manifest summaries ([[SnapshotTable.versionSummary]], O(1) bytes
  *    per version) — admission never parses file lists. At least one
  *    version is always admitted when available (the engine's progress
  *    contract); a single over-cap commit therefore delivers alone and
  *    whole — versions are the atomic delivery unit, never split.
  */
class SnapshotMicroBatchStream(spark: SparkSession, table: SnapshotTable,
                               schema: StructType,
                               options: CaseInsensitiveStringMap,
                               checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  private val root = table.rootPath
  private val skipChangeCommits =
    options.getBoolean("skipChangeCommits", false)
  private val startingVersion: Long =
    Option(options.get("startingVersion")).map {
      case "latest" =>
        StreamAdmission.resolveLatestOnce(spark, root, checkpointLocation)
      case v => v.toLong
    }.getOrElse(1L)
  private def floor: Long =
    math.max(table.chainFloor, math.max(0L, startingVersion - 1))

  private val maxVersionsPerTrigger: Option[Long] =
    StreamAdmission.capOption(Option(options.get("maxVersionsPerTrigger")),
      "maxVersionsPerTrigger")

  // Trigger.AvailableNow pins the drain target ONCE at query start:
  // batches then step toward it under the read limits and the query
  // stops there, ignoring commits that land mid-drain (they are the
  // next run's backlog). Spark calls prepareForTriggerAvailableNow
  // before the first batch of such a query; -1 = unpinned (continuous).
  @volatile private var availableNowTip: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTip = math.max(table.latestVersion(), floor)

  override def initialOffset(): Offset = LongOffset(floor)

  override def getDefaultReadLimit: ReadLimit =
    StreamAdmission.defaultLimit(
      Option(options.get("maxRowsPerTrigger")),
      Option(options.get("maxBytesPerTrigger")))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = math.max(start.asInstanceOf[LongOffset].offset, floor)
    val tip0 = math.max(table.latestVersion(), floor)
    val tip = if (availableNowTip >= 0) math.min(tip0, availableNowTip) else tip0
    LongOffset(StreamAdmission.admit(table, from, tip, maxVersionsPerTrigger,
      StreamAdmission.rowsCapOf(limit), StreamAdmission.bytesCapOf(limit)))
  }

  override def reportLatestOffset(): Offset =
    LongOffset(math.max(table.latestVersion(), floor))

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def deserializeOffset(json: String): Offset =
    LongOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // the floor applies to EVERY batch, not just the first: with a
    // future startingVersion the engine may checkpoint offsets below it
    val from = math.max(start.asInstanceOf[LongOffset].offset, floor)
    val to = end.asInstanceOf[LongOffset].offset
    if (to <= from) return Array.empty
    val (appendFiles, changed) = table.appendDelta(from, to)
    if (changed.nonEmpty && !skipChangeCommits)
      throw new IllegalStateException(
        s"graft-snapshot at $root: non-append data change " +
          changed.map { case (v, a) => s"$a@v$v" }.mkString(", ") +
          " in the stream range; use the path-based source with " +
          "option(\"changeFeed\",\"true\") for retractions, or " +
          "option(\"skipChangeCommits\",\"true\") to stream appends only")
    table.fileEntries(appendFiles).map { case (path, len) =>
      SnapshotDmlPartition(path, len, Array.empty, Array.empty): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotDmlReaderFactory(
      bridge.parquetRowReader(spark, schema), null, Array.empty, Array.empty)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"SnapshotMicroBatchStream[$root]"
}

/** The version-admission walk shared by BOTH snapshot streaming sources
  * (the DSv2 [[SnapshotMicroBatchStream]] and the V1 path-based
  * [[SnapshotSource]] — each implements `SupportsAdmissionControl`, so
  * the ENGINE threads the start offset through; the sources hold no
  * position state of their own). Row caps translate to a version offset
  * over SCALAR manifest summaries ([[SnapshotTable.versionSummary]],
  * O(1) bytes per version — admission never parses a manifest's file
  * arrays), and versions are the atomic delivery unit: at least one is
  * always admitted when available (the engine's progress contract), so
  * a single over-cap commit delivers alone and whole. */
private[sources] object StreamAdmission {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit, ReadMaxBytes, ReadMaxRows}

  /** `startingVersion=latest` ("from now on"), resolved ONCE per
    * checkpoint and persisted under the source's `metadataPath`:
    * re-resolving on every restart would floor past the commits made
    * while the query was down and silently drop them. */
  def resolveLatestOnce(spark: SparkSession, root: String, metadataPath: String): Long = {
    val marker = new Path(metadataPath, "graft-starting-version")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    } else {
      val v = new SnapshotTable(spark, root).latestVersion() + 1
      fs.mkdirs(marker.getParent)
      val out = fs.create(marker, /* overwrite = */ false)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      v
    }
  }

  def capOption(raw: Option[String], key: String): Option[Long] =
    raw.map { v =>
      val n = v.toLong
      require(n >= 1, s"$key must be >= 1, got $n")
      n
    }

  /** maxRowsPerTrigger / maxBytesPerTrigger become the engine's own
    * `ReadLimit.maxRows` / `maxBytes` (composed when both are set) so
    * Trigger.AvailableNow folds them into its pinned drain. */
  def defaultLimit(maxRows: Option[String], maxBytes: Option[String]): ReadLimit = {
    val limits =
      capOption(maxRows, "maxRowsPerTrigger").map(ReadLimit.maxRows).toSeq ++
        capOption(maxBytes, "maxBytesPerTrigger").map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** The rows cap inside the engine-passed limit, if any (AvailableNow
    * wraps the default limit in a composite). */
  def rowsCapOf(limit: ReadLimit): Option[Long] = limit match {
    case r: ReadMaxRows => Some(r.maxRows)
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(rowsCapOf).minOption
    case _ => None
  }

  def bytesCapOf(limit: ReadLimit): Option[Long] = limit match {
    case b: ReadMaxBytes => Some(b.maxBytes)
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(bytesCapOf).minOption
    case _ => None
  }

  /** Rows version `v` ADDED to the table — scalar-summary subtraction,
    * zero for maintenance commits (dataChange=false) and conservatively
    * zero for non-append changes (those fail batch planning loudly
    * unless skipChangeCommits, in which case they deliver nothing). */
  private def deltaRows(table: SnapshotTable, v: Long): Long = {
    val s = table.versionSummary(v)
    if (!s.dataChange || s.action != "append") 0L
    else {
      val prev = if (v <= 1) 0L else table.versionSummary(v - 1).rows
      math.max(0L, s.rows - prev)
    }
  }

  /** Last admissible version in (from, tip] under the caps — `from`
    * itself when nothing is available. One walk charges rows and bytes
    * together; whichever cap fills first ends the batch. */
  def admit(table: SnapshotTable, from: Long, tip: Long,
            maxVersions: Option[Long], rowsCap: Option[Long],
            bytesCap: Option[Long] = None): Long = {
    if (tip <= from) return from
    val hi = maxVersions.map(n => math.min(tip, from + n)).getOrElse(tip)
    if (rowsCap.isEmpty && bytesCap.isEmpty) return hi
    var v = from
    var rows = 0L
    var bytes = 0L
    var end = from
    while (v < hi) {
      v += 1
      val dr = if (rowsCap.isDefined) deltaRows(table, v) else 0L
      val db = if (bytesCap.isDefined) table.versionAddedBytes(v) else 0L
      val over = rowsCap.exists(rows + dr > _) || bytesCap.exists(bytes + db > _)
      if (end != from && over) return end
      rows += dr
      bytes += db
      end = v
      if (rowsCap.exists(rows >= _) || bytesCap.exists(bytes >= _)) return end
    }
    end
  }
}

/** DSv2 STREAMING sink for catalog-resolved snapshot tables — what
  * makes `df.writeStream.toTable("cat.db.t")` work. Executors write the
  * epoch's parquet + folded skipping-index stats exactly like the batch
  * write; the driver publishes each epoch with the (queryId, epochId)
  * idempotency key ([[SnapshotTable.commitWrittenAppendOnce]]) — a
  * restarted query re-delivering an epoch commits NOTHING and its
  * orphan files are deleted (exactly-once at the table boundary, the
  * same contract as the V1 [[SnapshotSink]], keyed the same way so the
  * two sinks interleave safely). Complete mode overwrites per epoch
  * under the same key. */
class SnapshotStreamingWrite(spark: SparkSession, root: String,
                             schema: StructType, statsCols: Seq[String],
                             queryId: String, complete: Boolean)
    extends StreamingWrite {
  private val commitUuid = java.util.UUID.randomUUID().toString
  private def dataDir = new Path(root, "data")
  private def hadoopFs =
    dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new SnapshotTable(spark, root, statsCols)
      .writerFactory(schema, commitUuid, constrained = true)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val all = messages.toSeq.map(_.asInstanceOf[SnapshotWriteMessage])
    val (nonEmpty, empty) = all.partition(_.rows > 0L)
    empty.foreach(m =>
      hadoopFs.delete(new Path(new Path(dataDir, commitUuid), m.file), false))
    val table = new SnapshotTable(spark, root, statsCols)
    // complete mode must publish even an empty result set: ensure one
    // schema-bearing file (a file-less manifest is unreadable)
    val written =
      if (complete && nonEmpty.isEmpty)
        Seq(table.writerFactory(schema, commitUuid).emptyFile(
          f"epoch-$epochId%020d-empty.parquet", spark.sparkContext.hadoopConfiguration))
      else nonEmpty
    val files = written.map(m => s"$commitUuid/${m.file}")
    val stats = SnapshotWrite.colStats(written, statsCols.length)
    val rows = written.map(_.rows).sum
    val replay: Boolean =
      if (complete)
        table.commitWrittenOverwriteOnce(queryId, epochId, files, stats, rows,
          schema, frows = written.map(_.rows))._2
      else if (written.isEmpty) false // an empty append epoch publishes no version — replay-safe
      else
        table.commitWrittenAppendOnce(queryId, epochId, files, stats, rows,
          schema, frows = written.map(_.rows))._2
    if (replay)
      // the epoch was already committed by a previous run: nothing
      // references this run's files for it — drop them
      files.foreach(f => hadoopFs.delete(new Path(dataDir, f), false))
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case m: SnapshotWriteMessage =>
        hadoopFs.delete(new Path(new Path(dataDir, commitUuid), m.file), false)
      case _ => ()
    }
    ()
  }
}
