package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Batch DSv2 WRITE for the snapshot format — the missing half of
  * [[GraftSnapshotBatchTable]] (which was BATCH_READ-only), so
  * `df.write.format("graft-snapshot").mode("append"|"overwrite").save(root)`
  * and the catalog's `INSERT INTO` / CTAS land as atomic table versions.
  *
  * Protocol (the staged-commit shape, specialized to the manifest-gated
  * format where no rename step is needed at all):
  *  - every task writes ONE parquet file directly under the commit's
  *    fresh `data/<uuid>/` dir — reads plan from the manifest's explicit
  *    file list, so unreferenced files are invisible by construction:
  *    writing "in place" IS staging;
  *  - each task folds its per-file column stats (band-key min/max, null
  *    count, typed string bounds, blooms, NDV sketch for every stats
  *    column) INLINE while writing, so the skipping index costs no extra
  *    I/O — the same [[SnapshotParquetWriter]] writes the Scala-API
  *    commits' files too ([[SnapshotWrite.writeFiles]]);
  *  - the driver's `commit` assembles the aligned stats and publishes
  *    via [[SnapshotTable.commitWrittenAppend]] /
  *    [[SnapshotTable.commitWrittenOverwrite]] — manifest-only, with the
  *    same optimistic create-exclusive retry as every other commit;
  *  - `abort` deletes the commit dir; the manifest (and so every reader)
  *    never saw the job.
  *
  * Schema: appends are gated by the table's evolution rules BEFORE any
  * task runs (fail-fast, nothing written) and re-validated per publish
  * attempt against the then-tip. Stats columns come from the table tip
  * (or catalog property), so a DSv2 append carries the skipping index
  * forward exactly like the streaming sink does. Stats are folded
  * natively through the [[BandKeys]] mapping (integral/boolean/date
  * exact; timestamp/string lossy-monotonic); unmapped types record the
  * never-pruned unknown sentinel (sound: unpruned = read). */
object SnapshotWrite {
  // the manifest stats sentinels ([[SnapshotTable]] reads these as
  // "unknown — never prune"); -1 nulls = may contain NULLs
  private[sources] val UnknownMin = Long.MinValue
  private[sources] val UnknownMax = Long.MaxValue
  private[sources] val UnknownNulls = -1L

  /** Write `df` under `data/<commitUuid>/` with `factory`'s writers as
    * ONE Spark job over `df`'s own partitions (no distribution imposed),
    * inside a SQL execution and counted in the tasks' output metrics,
    * like any `df.write`. Returns every task's
    * message, 0-row files included ([[committedFiles]] settles those).
    * A failed job drops the commit dir: no manifest references it. */
  private[sources] def writeFiles(df: org.apache.spark.sql.DataFrame,
                                  factory: SnapshotWriterFactory)
      : Seq[SnapshotWriteMessage] = {
    val qe = df.queryExecution
    try org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
        qe, Some("graft snapshot write")) {
      qe.toRdd.mapPartitionsWithIndex { (i, rows) =>
        val w = factory.createWriter(i,
          org.apache.spark.TaskContext.get().taskAttemptId())
        val msg = try {
          rows.foreach(w.write)
          w.commit().asInstanceOf[SnapshotWriteMessage]
        } catch { case e: Throwable => w.abort(); throw e }
        org.apache.spark.sql.graft.bridge.recordOutput(
          new Path(new Path(factory.dataDir, factory.commitUuid), msg.file), msg.rows)
        Iterator.single(msg)
      }.collect().toSeq
    } catch {
      case e: Throwable =>
        val dir = new Path(factory.dataDir, factory.commitUuid)
        dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(dir, true)
        throw e
    }
  }

  /** The files a finished write commits. Every task opens its file
    * eagerly, so empty input partitions leave 0-row files: they are
    * dropped from the commit and from disk — a wide empty plan must not
    * litter the manifest with schema-only shards. A write with no rows
    * at all still needs one schema-bearing file (a file-less manifest
    * would make read() of the version unplannable): it is written here,
    * with the same factory, no Spark job. */
  private[sources] def committedFiles(spark: SparkSession,
                                      factory: SnapshotWriterFactory,
                                      all: Seq[SnapshotWriteMessage])
      : Seq[SnapshotWriteMessage] = {
    val (nonEmpty, empty) = all.partition(_.rows > 0L)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    if (empty.nonEmpty) {
      val dir = new Path(factory.dataDir, factory.commitUuid)
      val fs = dir.getFileSystem(hadoopConf)
      empty.foreach(m => fs.delete(new Path(dir, m.file), false))
    }
    if (nonEmpty.nonEmpty) nonEmpty
    else Seq(factory.emptyFile("part-00000-empty.parquet", hadoopConf))
  }

  /** Per-stats-column [[ColStats]] over written files' messages, each
    * aligned with the writer's `n` stats columns. */
  private[sources] def colStats(msgs: Seq[SnapshotWriteMessage], n: Int): Seq[ColStats] =
    (0 until n).map { c =>
      ColStats(msgs.map(_.mins(c)), msgs.map(_.maxs(c)), msgs.map(_.nulls(c)),
        msgs.map(_.tminsOr(n)(c)), msgs.map(_.tmaxsOr(n)(c)),
        msgs.map(_.bloomsOr(n)(c)), msgs.map(_.ndvsOr(n)(c)))
    }

  /** The delete-KEY band folded across a statement's non-empty key
    * files, when it is usable for pruning the commit's exact-count
    * scan: single key column, every file's fold known (foldable type,
    * no NULL keys). The scan counts rows MATCHING the keys, every key
    * lies inside this band, so files whose stats band misses it can
    * hold no matching row — the count stays exact over the pruned
    * read. */
  private[sources] def foldedKeyBand(keyCols: Seq[String],
                                     msgs: Seq[SnapshotWriteMessage])
      : Option[(Long, Long)] = {
    if (keyCols.length != 1 || msgs.isEmpty) return None
    val known = msgs.forall(m => m.mins.length == 1 &&
      m.mins(0) != UnknownMin && m.maxs(0) != UnknownMax && m.nulls(0) == 0L)
    if (known) Some((msgs.map(_.mins(0)).min, msgs.map(_.maxs(0)).max))
    else None
  }

  /** PER-FILE key bands for the manifest's delete-band vector. Single
    * key column: the raw band. COMPOSITE key (2-8 columns): the
    * per-column bands interleave into one z-value band
    * ([[graft.sources.BandKeys.zBand]] — dominance-monotone, so
    * [zBand(mins), zBand(maxs)] covers every key tuple the file
    * holds), matching how `countRange`/fsck derive a data file's own z
    * box. Anything unknown degrades to the all-overlapping sentinel
    * band, never to a wrong one. */
  private[sources] def perFileKeyBands(keyCols: Seq[String],
                                       msgs: Seq[SnapshotWriteMessage])
      : Seq[(Long, Long)] =
    msgs.map { m =>
      val n = keyCols.length
      val known = m.mins.length == n && m.maxs.length == n &&
        m.nulls.length == n &&
        (0 until n).forall(k => m.mins(k) != UnknownMin &&
          m.maxs(k) != UnknownMax && m.nulls(k) == 0L &&
          m.mins(k) <= m.maxs(k))
      if (n == 1 && known) (m.mins(0), m.maxs(0))
      else if (n >= 2 && n <= 8 && known)
        (BandKeys.zBand(m.mins.toSeq), BandKeys.zBand(m.maxs.toSeq))
      else (UnknownMin, UnknownMax)
    }

  /** Post-DML auto-maintenance (`write.delete.compact.at = N`): once the
    * tip carries >= N delete files, fold them ([[SnapshotTable
    * .compactDeletes]]). Runs AFTER the statement's commit published —
    * the DML has succeeded, so a maintenance failure (e.g. the fold
    * giving up after 50 conflicts) is reported, never propagated:
    * failing a committed statement over its housekeeping would be a
    * lie. */
  private[sources] def maybeAutoCompactDeletes(table: SnapshotTable,
                                               threshold: Option[Int]): Unit =
    threshold.foreach { n =>
      try {
        val tip = table.latestVersion()
        if (tip > 0 && table.snapshot(tip).deletes.length >= n) {
          table.compactDeletes()
          ()
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] auto compact_deletes skipped (statement already " +
              s"committed): ${e.getMessage}")
      }
    }
}

/** One committed data file + its inline-folded stats, aligned with the
  * factory's statsCols. `tmins`/`tmaxs` are the typed STRING bounds
  * ([[TypedBounds]]; Absent for non-string/over-cap/unknown). */
case class SnapshotWriteMessage(file: String, rows: Long,
                                mins: Array[Long], maxs: Array[Long],
                                nulls: Array[Long],
                                tmins: Array[String] = Array.empty,
                                tmaxs: Array[String] = Array.empty,
                                blooms: Array[String] = Array.empty,
                                ndvs: Array[String] = Array.empty)
    extends WriterCommitMessage {
  def tminsOr(n: Int): Seq[String] =
    if (tmins.length == n) tmins.toSeq else Seq.fill(n)(TypedBounds.Absent)
  def tmaxsOr(n: Int): Seq[String] =
    if (tmaxs.length == n) tmaxs.toSeq else Seq.fill(n)(TypedBounds.Absent)
  def bloomsOr(n: Int): Seq[String] =
    if (blooms.length == n) blooms.toSeq else Seq.fill(n)("")
  def ndvsOr(n: Int): Seq[String] =
    if (ndvs.length == n) ndvs.toSeq else Seq.fill(n)("")
}

/** Per-file NDV sketches over a stats column's BAND KEYS — the `ndv`
  * column-statistics idea of the public formats (Iceberg's puffin
  * theta sketches), carried as a datasketches HLL per file per stats
  * column (base64 compact form in the manifest, "" = absent). MERGEABLE:
  * the union over any file subset estimates that subset's distinct
  * count, so pruned scans report post-pruning NDV and the join planner
  * stops guessing. lgK = 9 → ≤ ~550 B per sketch, ~4.6% relative
  * standard error (HLL carries a small bias even at low counts — an
  * ESTIMATE, never claimed exact). The sketch domain is the band-key
  * long ([[BandKeys]]), updated via the same `update(long)` +
  * HLL_8 target Spark's own `hll_sketch_agg` uses — the executor
  * writers' inline fold and the driver path's aggregate produce
  * union-compatible sketches by construction. STRING keys are the
  * lossy 8-byte prefix — a shared prefix undercounts, so string NDV
  * is a LOWER bound (documented, still planning-safe). */
private[sources] object FileNdv {
  val LgK = 9

  def newSketch(): org.apache.datasketches.hll.HllSketch =
    new org.apache.datasketches.hll.HllSketch(LgK,
      org.apache.datasketches.hll.TgtHllType.HLL_8)

  def encode(s: org.apache.datasketches.hll.HllSketch): String =
    java.util.Base64.getEncoder.encodeToString(s.toCompactByteArray)

  def decode(b64: String): Option[org.apache.datasketches.hll.HllSketch] =
    if (b64 == null || b64.isEmpty) None
    else scala.util.Try(org.apache.datasketches.hll.HllSketch.heapify(
      java.util.Base64.getDecoder.decode(b64))).toOption

  /** Union-estimate over a file subset's sketches: None when ANY member
    * is absent/corrupt — a partial union would silently under-estimate. */
  def unionEstimate(sketches: Seq[String]): Option[Long] = {
    if (sketches.isEmpty) return None
    val decoded = sketches.map(decode)
    if (decoded.exists(_.isEmpty)) None
    else {
      val u = new org.apache.datasketches.hll.Union(LgK)
      decoded.flatten.foreach(u.update)
      Some(math.round(u.getEstimate))
    }
  }
}

/** Per-file point-lookup bloom filters over a stats column's BAND KEYS
  * (`write.bloom.cols`, opt-in): an equality lookup prunes files whose
  * [min, max] band covers the key but whose filter proves absence — the
  * 100 TB point-lookup story bands alone cannot give on unclustered
  * data. Fixed 2 KB budget per file per column (spark-sketch blocked
  * bloom, base64 in the manifest/group stats blocks); a file with more
  * distinct keys than the budget sizes for degrades its false-POSITIVE
  * rate (weaker pruning), never its soundness — every written key is in
  * the filter, so "absent" is always true. Lossy band keys (STRING
  * prefix, legacy floor-second timestamps) stay sound for the same
  * reason: the QUERY key under the same mapping is what was stored. */
private[sources] object FileBlooms {
  val ExpectedItems = 2048L
  val Fpp = 0.02
  /** Same sizing for the driver-side BloomFilterAggregate fold as the
    * executor writers' create(ExpectedItems, Fpp) — one filter shape. */
  val NumBits: Long =
    org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(ExpectedItems, Fpp)

  def newFilter(): org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.create(ExpectedItems, Fpp)

  def encode(bf: org.apache.spark.util.sketch.BloomFilter): String = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  def decode(b64: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    if (b64 == null || b64.isEmpty) None
    else scala.util.Try(org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        java.util.Base64.getDecoder.decode(b64)))).toOption

  /** Membership under prune semantics: absent/corrupt filter = MIGHT
    * contain (never pruned). */
  def mightContain(b64: String, key: Long): Boolean =
    decode(b64).forall(_.mightContainLong(key))
}

/** How a finished distributed write publishes its manifest. */
sealed trait SnapshotCommitMode
object SnapshotCommitMode {
  /** Tip's files + the new ones ([[SnapshotTable.commitWrittenAppend]]). */
  case object Append extends SnapshotCommitMode
  /** New files ARE the table ([[SnapshotTable.commitWrittenOverwrite]]). */
  case object Truncate extends SnapshotCommitMode
  /** New files are the FULL table contents, valid only while `base` is
    * still the tip — the SQL row-level DML commit
    * ([[SnapshotTable.commitWrittenReplaceAtBase]]): a concurrent commit
    * surfaces as a conflict instead of being silently erased. */
  case class ReplaceAtBase(base: Long, action: String) extends SnapshotCommitMode
  /** New files replace exactly `removed` (the DML scan's pruned group
    * set); every other tip file is re-listed untouched
    * ([[SnapshotTable.commitWrittenRewriteFiles]]). Unlike
    * [[ReplaceAtBase]] a lost race here auto-rebases when the
    * concurrent commits are file-disjoint from `removed` (see the
    * commit method's contract) — only overlapping rewrites surface a
    * conflict. */
  case class RewriteFiles(base: Long, removed: Seq[String], action: String)
      extends SnapshotCommitMode
  /** New files replace exactly the rows with `column` ∈ [lo, hi] —
    * overwrite-by-filter mapped onto the file-surgical
    * [[SnapshotTable.commitWrittenReplaceWhere]]. */
  case class ReplaceWhere(column: String, lo: Long, hi: Long) extends SnapshotCommitMode
}

class GraftSnapshotWriteBuilder(spark: SparkSession, root: String,
                                batchSchema: StructType,
                                statsCols: Seq[String],
                                queryId: String = "",
                                clusterBy: Seq[String] = Seq.empty)
    extends WriteBuilder with SupportsOverwrite {
  private var doTruncate = false
  private var replaceWhere: Option[(String, Long, Long)] = None
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** Overwrite-by-filter (`df.writeTo(t).overwrite(cond)`): an
    * always-true condition is a truncate; a conjunction of
    * band-derivable predicates on ONE stats column maps to the
    * file-surgical replaceWhere (files outside the band untouched,
    * straddlers rewritten, the batch must lie inside it). Anything else
    * is rejected loudly — a silently widened overwrite would delete
    * rows the condition never named. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      return truncate()
    // CONTIGUOUS bands only: the overwrite deletes every row in the
    // derived range, so the range must be the predicate's exact truth
    // set — an IN list's hull ([100,200] for IN (100, 200)) would
    // silently delete the rows between the members
    val nontrivial = filters.toSeq.filterNot(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    val bands = SnapshotBatch.contiguousBandsOf(nontrivial,
      new SnapshotTable(spark, root).tableBandsV).getOrElse(Map.empty)
    require(bands.size == 1,
      s"graft-snapshot overwrite-by-filter supports contiguous " +
        s"range/equality predicates on exactly ONE stats column " +
        s"(IN lists are not a range); got ${filters.mkString(", ")}")
    val (column, (lo, hi)) = bands.head
    require(statsCols.contains(column),
      s"overwrite-by-filter column '$column' is not a stats column " +
        s"(${statsCols.mkString(",")})")
    replaceWhere = Some((column, lo, hi))
    this
  }
  /** CLUSTERED WRITES: when the table has stats columns present in the
    * batch, the write requests a RANGE distribution + within-partition
    * sort on them — each task then writes ONE file covering a tight,
    * near-disjoint band, so the manifest's skipping index is effective
    * for DSv2-ingested data from the first commit (the optimized-write
    * idea of the public formats). Price: one extra shuffle per write —
    * exactly the trade a declared skipping index asks for; tables
    * without stats_cols pay nothing. Advisory, not strict: AQE may
    * coalesce tiny writes.
    *
    * `write.cluster.by` (a table property, DDL-validated) OVERRIDES the
    * clustering column set: a table indexed on several stats columns
    * clusters its daily appends on the ONE column its range reloads
    * prune by, so files land band-disjoint without waiting for
    * `compact(clusterBy)` — write-time layout as configuration, not
    * maintenance. */
  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

    private val clusterCols =
      (if (clusterBy.nonEmpty) clusterBy else statsCols)
        .filter(batchSchema.fieldNames.contains)
    private def sortOrders: Array[SortOrder] =
      clusterCols.map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

    override def requiredDistribution(): Distribution =
      if (clusterCols.isEmpty) Distributions.unspecified()
      else Distributions.ordered(sortOrders)
    override def requiredOrdering(): Array[SortOrder] =
      if (clusterCols.isEmpty) Array.empty else sortOrders
    override def distributionStrictlyRequired(): Boolean = false

    override def toBatch: BatchWrite = {
      // fail-fast evolution gate: an incompatible append costs nothing
      // and writes nothing (re-validated per publish attempt too)
      if (!doTruncate)
        new SnapshotTable(spark, root, statsCols).validateAppendSchema(batchSchema)
      val mode = replaceWhere match {
        case Some((c, lo, hi)) => SnapshotCommitMode.ReplaceWhere(c, lo, hi)
        case None if doTruncate => SnapshotCommitMode.Truncate
        case None => SnapshotCommitMode.Append
      }
      new GraftSnapshotBatchWrite(spark, root, batchSchema, statsCols, mode)
    }

    /** `df.writeStream.toTable(...)` — epoch-idempotent distributed
      * appends (or per-epoch overwrites in complete mode), keyed on
      * (queryId, epochId); see [[SnapshotStreamingWrite]]. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(replaceWhere.isEmpty,
        "overwrite-by-filter is a batch write shape; streaming supports " +
          "append and complete modes")
      if (!doTruncate)
        new SnapshotTable(spark, root, statsCols).validateAppendSchema(batchSchema)
      new SnapshotStreamingWrite(spark, root, batchSchema, statsCols,
        queryId, complete = doTruncate)
    }
  }
}

class GraftSnapshotBatchWrite(spark: SparkSession, root: String,
                              schema: StructType, statsCols: Seq[String],
                              mode: SnapshotCommitMode,
                              opColumn: Boolean = false) extends BatchWrite {
  private val commitUuid = java.util.UUID.randomUUID().toString
  private def dataDir = new Path(root, "data")

  // captured once at write creation: the column mapping and the
  // band-semantics version are immutable per column / per table, so a
  // concurrent rename cannot change what the physical names mean and
  // every executor fold stays consistent with the manifest the driver
  // will publish
  private val factory = new SnapshotTable(spark, root, statsCols)
    .writerFactory(schema, commitUuid, constrained = true, opColumn = opColumn)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    factory

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ensured = SnapshotWrite.committedFiles(spark, factory,
      messages.toSeq.map(_.asInstanceOf[SnapshotWriteMessage]))
    val files = ensured.map(m => s"$commitUuid/${m.file}")
    val stats = SnapshotWrite.colStats(ensured, statsCols.length)
    val rows = ensured.map(_.rows).sum
    val table = new SnapshotTable(spark, root, statsCols)
    mode match {
      case SnapshotCommitMode.Append =>
        table.commitWrittenAppend(files, stats, rows, schema,
          frows = ensured.map(_.rows))
      case SnapshotCommitMode.Truncate =>
        table.commitWrittenOverwrite(files, stats, rows, schema,
          frows = ensured.map(_.rows))
      case SnapshotCommitMode.ReplaceWhere(c, lo, hi) =>
        table.commitWrittenReplaceWhere(c, lo, hi, files, stats,
          ensured.map(_.rows), schema)
      case SnapshotCommitMode.ReplaceAtBase(base, action) =>
        table.commitWrittenReplaceAtBase(base, action, files, stats, rows,
            schema, frows = ensured.map(_.rows))
          .getOrElse(dmlConflict(base, action))
      case SnapshotCommitMode.RewriteFiles(_, removed, _)
          if removed.isEmpty && rows == 0L =>
        // fully-pruned no-op (DELETE/UPDATE matched nothing, and — for
        // MERGE — no inserts either): publish no version at all; drop
        // the commit dir (it holds at most the driver's empty
        // schema-bearing file)
        val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(dataDir, commitUuid), true)
      case SnapshotCommitMode.RewriteFiles(base, removed, action) =>
        table.commitWrittenRewriteFiles(base, action, removed, files, stats,
            rows, schema, frows = ensured.map(_.rows))
          .getOrElse(dmlConflict(base, action))
    }
    ()
  }

  /** Snapshot-isolation conflict: a concurrent commit moved the tip
    * past the version this DML statement read AND touched state the
    * statement depends on (pruned rewrites auto-rebase past
    * file-disjoint commits first — see
    * [[SnapshotTable.commitWrittenRewriteFiles]]). A blind retry here
    * would erase that commit's rows — surface it. */
  private def dmlConflict(base: Long, action: String): Nothing = {
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dataDir, commitUuid), true)
    throw new java.util.ConcurrentModificationException(
      s"$action on $root: table version moved past v$base while the " +
        "statement ran (concurrent writer touching overlapping files, " +
        "deletes, or schema); re-run the statement against the new snapshot")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // nothing was published: dropping the commit dir erases the job
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dataDir, commitUuid), true)
    ()
  }
}

/** SQL row-level DML (`DELETE FROM` / `UPDATE` / `MERGE INTO`) for
  * catalog-resolved snapshot tables — Spark's group-based
  * [[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]
  * rewrite, with the whole table as the ONE group:
  *
  *  - the operation pins the table's tip version at construction; its
  *    scan reads exactly that snapshot, full table, NO file pruning —
  *    the replacement write publishes the scan's surviving/updated rows
  *    as the COMPLETE new contents, so a scan that skipped files would
  *    silently drop their rows (which is also why this ScanBuilder
  *    deliberately implements no pushdown: Spark re-evaluates the DML
  *    predicate on the full row stream);
  *  - executors write the replacement parquet + stats exactly like a
  *    batch write; the driver publishes via
  *    [[SnapshotTable.commitWrittenReplaceAtBase]] — valid only while
  *    the pinned version is still the tip. A concurrent commit in the
  *    window surfaces as a ConcurrentModificationException instead of
  *    being erased (snapshot-isolation validation, the same discipline
  *    as the Scala `commitRewrite`).
  *
  * Copy-on-write cost O(table rewrite) per statement — the honest price
  * of row-level SQL on immutable files; the Scala API's merge-on-read
  * `commitDeleteByKey` remains the O(keys) path for key deletes at
  * scale, and the two compose (the rewrite reads THROUGH MOR deletes
  * and absorbs them). */
class GraftSnapshotRowLevelBuilder(spark: SparkSession, root: String,
                                   statsCols: Seq[String],
                                   info: RowLevelOperationInfo,
                                   props: Map[String, String] = Map.empty)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // per-command mode switch, the Iceberg property names: each DML
    // statement kind opts into merge-on-read independently (a table may
    // keep point DELETEs cheap but prefer CoW MERGE for compaction-free
    // reads). All three share the ONE equality key (`write.delete.key`)
    // because the manifest carries a single delete-key schema between
    // compactions.
    val modeKey = info.command() match {
      case RowLevelOperation.Command.DELETE => "write.delete.mode"
      case RowLevelOperation.Command.UPDATE => "write.update.mode"
      case _ => "write.merge.mode"
    }
    val mode = props.getOrElse(modeKey, "copy-on-write")
    require(mode == "copy-on-write" || mode == "merge-on-read",
      s"$modeKey at $root must be 'copy-on-write' or " +
        s"'merge-on-read'; got '$mode'")
    if (mode == "merge-on-read") {
      val keyCols = props.get("write.delete.key")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      require(keyCols.nonEmpty,
        s"$modeKey='merge-on-read' at $root needs " +
          "write.delete.key = '<col>[,<col>…]' (a row-unique equality key)")
      // optional auto-maintenance: fold delete files past a threshold,
      // AFTER the statement commits (DDL-validated integer)
      val autoAt = props.get("write.delete.compact.at")
        .flatMap(v => scala.util.Try(v.toInt).toOption)
      // every command as equality-delete + append in ONE delta commit (a
      // DELETE is the delta with no data rows). Sequencing stays correct
      // when the same key is touched twice between compactions: each
      // statement's delete file gets the new version as its sequence and
      // applies only to STRICTLY older data files, so the previous
      // update's row (older seq) is removed while this statement's
      // replacement (same seq as the delete) survives — the Iceberg v2
      // rule, exercised by spec.
      new GraftSnapshotDeltaRowOperation(spark, root, statsCols, keyCols,
        info.command(), autoAt)
    } else {
      new GraftSnapshotRowLevelOperation(spark, root, statsCols, info.command())
    }
  }
}

class GraftSnapshotRowLevelOperation(spark: SparkSession, root: String,
                                     statsCols: Seq[String],
                                     cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  // the statement's snapshot: scan reads it, commit validates tip == base
  private val table = new SnapshotTable(spark, root, statsCols)
  private val base = table.latestVersion()

  /** Set when the (pruned) scan is planned — optimizer time, strictly
    * before the write's toBatch: the relative paths the scan covers and
    * whether that is the whole table. */
  @volatile private var planned: Option[(Seq[String], Boolean)] = None

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    require(base > 0, s"${cmd.name} on empty table at $root")
    // pinned-version Batch scan, file-pruned by the statement's pushed
    // predicate (see SnapshotDmlScanBuilder)
    new SnapshotDmlScanBuilder(spark, table, base, root,
      (rel, full) => planned = Some((rel, full)))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          // resolved HERE (physical planning, after the scan is built):
          // a pruned scan rewrites only its planned files; a full scan
          // keeps the absorb-the-MOR-deletes full replacement
          val mode = planned match {
            case Some((rel, false)) =>
              SnapshotCommitMode.RewriteFiles(base, rel, cmd.name.toLowerCase)
            case _ =>
              SnapshotCommitMode.ReplaceAtBase(base, cmd.name.toLowerCase)
          }
          new GraftSnapshotBatchWrite(spark, root, info.schema(), statsCols,
            mode, opColumn = true)
        }
      }
    }

  override def description(): String =
    s"graft-snapshot ${cmd.name} at v$base of $root"
}

/** SQL `DELETE` / `UPDATE` / `MERGE INTO` as a MERGE-ON-READ delta
  * operation ([[SupportsDelta]]): one statement publishes ONE version
  * carrying equality-delete KEY files (the matched rows' pre-image keys)
  * plus fresh DATA files (the updated/inserted rows; none for a DELETE)
  * — no existing data file is rewritten, so a point UPDATE on a 100 TB
  * table costs O(changed rows), not O(matched files), and a DELETE
  * O(matched keys) written plus one scan for the exact count. The scan
  * is file-pruned by the same band math as the copy-on-write path.
  * Spark's delta rewrite hands the writer the ORIGINAL row's key for
  * every update (`buildOriginalRowIdValues`), so key-changing updates
  * delete the OLD key and insert the new row. Readers anti-join, the
  * next compaction materializes, change feeds replay the retraction.
  *
  * Sequencing (why double-updating a key between compactions is safe,
  * and why a re-inserted deleted key survives): the statement's delete
  * files and data files BOTH get the committed version as their
  * sequence; equality deletes apply only to STRICTLY older data files,
  * so this statement's replacement rows survive its own delete while
  * every older copy — including a previous update's replacement — is
  * removed.
  *
  * Contract: `write.delete.key` must be row-unique and non-null for the
  * matched rows; the commit verifies (matched count vs equality-removed
  * count) and refuses loudly on divergence rather than deleting rows the
  * statement never named. */
class GraftSnapshotDeltaRowOperation(spark: SparkSession, root: String,
                                     statsCols: Seq[String],
                                     keyCols: Seq[String],
                                     cmd: RowLevelOperation.Command,
                                     autoCompactAt: Option[Int] = None)
    extends RowLevelOperation with SupportsDelta {
  private val table = new SnapshotTable(spark, root, statsCols)
  private val base = table.latestVersion()

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    keyCols.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    require(base > 0, s"${cmd.name} on empty table at $root")
    // same pruned pinned-version scan as the other row-level paths; the
    // planned-file callback is unused — a delta commit removes no files
    new SnapshotDmlScanBuilder(spark, table, base, root, (_, _) => ())
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = {
          val keySchema = if (info.rowIdSchema().isPresent) info.rowIdSchema().get
            else {
              val full = table.read(base).schema
              StructType(keyCols.map(c => full.fields(full.fieldNames.indexOf(c))))
            }
          // a DELETE's row schema has no columns: it writes keys only
          new SnapshotDeltaRowBatchWrite(spark, root, statsCols, keyCols,
            keySchema, info.schema(), base, cmd, autoCompactAt)
        }
      }
    }

  override def description(): String =
    s"graft-snapshot merge-on-read ${cmd.name} at v$base of $root " +
      s"(key: ${keyCols.mkString(",")})"
}

/** One task's delta-row output: the delete-KEY file (matched rows'
  * pre-image keys) and the DATA file (updated/inserted rows, skipping
  * stats folded inline). Either may be empty — commit() drops 0-row
  * files from disk and the manifest. */
case class SnapshotDeltaRowMessage(key: SnapshotWriteMessage,
                                   data: SnapshotWriteMessage)
    extends WriterCommitMessage

/** Distributed delta-row write: each task streams matched-row keys into
  * one delete-key parquet file and replacement/inserted rows into one
  * data parquet file (stats folded inline like any batch write); the
  * driver publishes both lists as ONE `delete_mor`/`update_mor`/
  * `merge_mor` version ([[SnapshotTable.commitWrittenRowDelta]]). A
  * statement matching and inserting nothing publishes no version. */
class SnapshotDeltaRowBatchWrite(spark: SparkSession, root: String,
                                 statsCols: Seq[String], keyCols: Seq[String],
                                 keySchema: StructType, rowSchema: StructType,
                                 base: Long, cmd: RowLevelOperation.Command,
                                 autoCompactAt: Option[Int] = None)
    extends DeltaBatchWrite {
  private val commitUuid = java.util.UUID.randomUUID().toString
  private val action = s"${cmd.name.toLowerCase}_mor"
  private def dataDir = new Path(root, "data")
  private def hadoopFs =
    dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    // the commit records the LOGICAL rowSchema; data files carry the
    // factory's physical names
    val data = new SnapshotTable(spark, root, statsCols)
      .writerFactory(rowSchema, commitUuid, constrained = true)
    SnapshotDeltaRowWriterFactory(data.forKeys(keySchema, keyCols), data)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val all = messages.toSeq.map(_.asInstanceOf[SnapshotDeltaRowMessage])
    val (keyMsgs, keyEmpty) = all.map(_.key).partition(_.rows > 0L)
    val (dataMsgs, dataEmpty) = all.map(_.data).partition(_.rows > 0L)
    (keyEmpty ++ dataEmpty).foreach(m =>
      hadoopFs.delete(new Path(new Path(dataDir, commitUuid), m.file), false))
    if (cmd == RowLevelOperation.Command.DELETE && dataMsgs.nonEmpty) {
      hadoopFs.delete(new Path(dataDir, commitUuid), true)
      throw new IllegalStateException(
        s"merge-on-read DELETE on $root: the delta carried " +
          s"${dataMsgs.map(_.rows).sum} data rows — a DELETE writes delete " +
          "keys only; refusing to publish (plan shape not understood)")
    }
    if (keyMsgs.isEmpty && dataMsgs.isEmpty) {
      // matched nothing, inserted nothing: no version (no-op contract)
      hadoopFs.delete(new Path(dataDir, commitUuid), true)
      return
    }
    val stats = SnapshotWrite.colStats(dataMsgs, statsCols.length)
    val table = new SnapshotTable(spark, root, statsCols)
    table.commitWrittenRowDelta(base, action,
        keyMsgs.map(m => s"$commitUuid/${m.file}"), keyCols,
        keyMsgs.map(_.rows).sum,
        dataMsgs.map(m => s"$commitUuid/${m.file}"), stats,
        dataMsgs.map(_.rows).sum, rowSchema,
        SnapshotWrite.foldedKeyBand(keyCols, keyMsgs),
        dataFrows = dataMsgs.map(_.rows),
        keyFrows = keyMsgs.map(_.rows),
        keyBands = SnapshotWrite.perFileKeyBands(keyCols, keyMsgs))
      .getOrElse {
        hadoopFs.delete(new Path(dataDir, commitUuid), true)
        throw new java.util.ConcurrentModificationException(
          s"merge-on-read $action on $root: table version moved past " +
            s"v$base while the statement ran (concurrent writer); re-run " +
            "the statement against the new snapshot")
      }
    SnapshotWrite.maybeAutoCompactDeletes(table, autoCompactAt)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    hadoopFs.delete(new Path(dataDir, commitUuid), true)
    ()
  }
}

/** Serializable executor-side factory for the delta-row write: each
  * task owns a delete-key writer and a data writer. delete() records
  * the pre-image key; update() records the ORIGINAL key + the updated
  * row; insert() records the new row. The data file opens on its first
  * row, so a task that only deletes — every task of a DELETE — writes
  * none; the key file opens eagerly, and the driver's commit drops
  * 0-row files from disk and keeps them out of the manifest. */
case class SnapshotDeltaRowWriterFactory(keys: SnapshotWriterFactory,
                                         data: SnapshotWriterFactory)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] = {
    val keyW = keys.writer(f"delete-$partitionId%05d-$taskId.parquet")
    val dataFile = f"part-$partitionId%05d-$taskId.parquet"
    new DeltaWriter[InternalRow] {
      private var dataW: SnapshotParquetWriter = null
      private def writeData(row: InternalRow): Unit = {
        if (dataW == null) dataW = data.writer(dataFile)
        dataW.write(row)
      }
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        keyW.write(id)
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        keyW.write(id) // id carries the ORIGINAL row's key values
        writeData(row)
      }
      override def insert(row: InternalRow): Unit = writeData(row)
      override def commit(): WriterCommitMessage =
        SnapshotDeltaRowMessage(
          keyW.commit().asInstanceOf[SnapshotWriteMessage],
          if (dataW == null)
            SnapshotWriteMessage(dataFile, 0L, Array.empty, Array.empty, Array.empty)
          else dataW.commit().asInstanceOf[SnapshotWriteMessage])
      override def abort(): Unit = { keyW.abort(); if (dataW != null) dataW.abort() }
      override def close(): Unit = ()
    }
  }
}

/** Serializable factory of every parquet file a snapshot-table write
  * produces, built by [[SnapshotTable.writerFactory]], all under
  * `data/<commitUuid>/`: one data file per batch task
  * (`part-<partition>-<task>`) or per streaming (epoch, task) —
  * `epoch-<epoch>-part-…`, the epoch keeping a long-lived run's files
  * collision-free across its commits; the delta writes' delete-key
  * files through [[forKeys]]; and the driver's empty schema-bearing
  * files through [[emptyFile]]. Carries only strings/schemas — the
  * executor re-opens the filesystem from a fresh Hadoop config. */
case class SnapshotWriterFactory(dataDir: String, commitUuid: String,
                                 schemaJson: String, statsCols: Seq[String],
                                 legacyFormat: String, timestampType: String,
                                 opColumn: Boolean, bandsV: Int,
                                 constraints: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)],
                                 bloomCols: Seq[String])
    extends DataWriterFactory with StreamingDataWriterFactory {
  def writer(fileName: String,
             hadoopConf: Configuration = new Configuration()): SnapshotParquetWriter =
    new SnapshotParquetWriter(dataDir, commitUuid, fileName,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], statsCols,
      legacyFormat, timestampType, hadoopConf, opColumn, bandsV,
      constraints, bloomCols)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(f"part-$partitionId%05d-$taskId.parquet")

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    writer(f"epoch-$epochId%020d-part-$partitionId%05d-$taskId.parquet")

  /** One 0-row schema-bearing file, written on the driver with no Spark
    * job: a version must list at least one file to stay readable. */
  def emptyFile(fileName: String, hadoopConf: Configuration): SnapshotWriteMessage =
    writer(fileName, hadoopConf).commit().asInstanceOf[SnapshotWriteMessage]

  /** The delete-KEY side of a delta write: `keySchema` rows with the key
    * columns as stats columns — their folded band prunes only the
    * commit's exact-count scan ([[SnapshotWrite.foldedKeyBand]]; readers
    * load key files whole). No constraints (pre-image keys are not table
    * rows), no blooms, and logical names: key columns cannot be renamed
    * (DDL guard), so a key schema needs no mapping. */
  def forKeys(keySchema: StructType, keyCols: Seq[String]): SnapshotWriterFactory =
    copy(schemaJson = keySchema.json, statsCols = keyCols, opColumn = false,
      constraints = Seq.empty, bloomCols = Seq.empty)
}

/** Task-side parquet writer over Spark's own [[ParquetWriteSupport]]
  * (InternalRow → parquet, the exact encoder the native scan writes
  * with), folding the per-file skipping-index stats as rows stream
  * through — every data file of a snapshot table is written here. Band
  * keys are [[BandKeys]]': integral types widen, boolean is 0/1, date is
  * epoch days, timestamp follows `bandsV`, string is the 8-byte prefix
  * key; anything else records unknown (never pruned — conservative, not
  * wrong). */
class SnapshotParquetWriter(dataDir: String, commitUuid: String, fileName: String,
                            schema: StructType, statsCols: Seq[String],
                            legacyFormat: String, timestampType: String,
                            hadoopConf: Configuration,
                            opColumn: Boolean = false,
                            bandsV: Int = BandKeys.CurrentBandsV,
                            // write-time CHECK constraints: (name, BOUND
                            // boolean expression over this writer's row
                            // layout — positions, not names, so physical
                            // renames are transparent); compiled once per
                            // task, evaluated per row, a violation fails
                            // the task so the write commits NOTHING
                            constraints: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
                            // statsCols subset carrying per-file
                            // point-lookup bloom filters (see
                            // [[FileBlooms]]); keys are the same band
                            // keys the min/max fold records
                            bloomCols: Seq[String] = Seq.empty)
    extends DataWriter[InternalRow] {
  import SnapshotWrite._

  private val constraintPreds: Array[(String, org.apache.spark.sql.catalyst.expressions.BasePredicate)] =
    constraints.map { case (n, e) =>
      val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(e)
      p.initialize(0)
      (n, p)
    }.toArray

  // one filter per OPTED stats column (null = not opted / unfoldable)
  private val bloomFold: Array[org.apache.spark.util.sketch.BloomFilter] =
    statsCols.map(c =>
      if (bloomCols.contains(c)) FileBlooms.newFilter() else null).toArray

  // one NDV sketch per stats column, always folded inline (≤512 B each,
  // one update(long) per row — see [[FileNdv]])
  private val ndvFold: Array[org.apache.datasketches.hll.HllSketch] =
    statsCols.map(_ => FileNdv.newSketch()).toArray

  private val path = new Path(new Path(dataDir, commitUuid), fileName)
  private val fs = path.getFileSystem(hadoopConf)

  private val writer: ParquetWriter[InternalRow] = {
    val conf = new Configuration(hadoopConf)
    ParquetWriteSupport.setSchema(schema, conf)
    // ParquetWriteSupport.init and its schema converter require these
    // explicitly present (the native writer's prepareWrite sets them the
    // same way); the last two take their session-default values
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, legacyFormat)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, timestampType)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    class B(out: HadoopOutputFile) extends ParquetWriter.Builder[InternalRow, B](out) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration)
          : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
        new ParquetWriteSupport
    }
    new B(HadoopOutputFile.fromPath(path, conf))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

  // per-stats-column fold state; fieldIdx -1 / unsupported type => unknown
  private val fieldIdx: Array[Int] =
    statsCols.map(c => schema.fieldNames.indexOf(c)).toArray
  // per-type band-key folds — the [[BandKeys]] mapping, inlined on the
  // physical InternalRow accessors (DATE is days-as-int, TIMESTAMP is
  // micros-as-long, STRING is UTF8String bytes)
  private val asLong: Array[InternalRow => Long] = statsCols.indices.map { c =>
    val i = fieldIdx(c)
    if (i < 0) null
    else schema.fields(i).dataType match {
      case ByteType => (r: InternalRow) => r.getByte(i).toLong
      case ShortType => (r: InternalRow) => r.getShort(i).toLong
      case IntegerType => (r: InternalRow) => r.getInt(i).toLong
      case LongType => (r: InternalRow) => r.getLong(i)
      case BooleanType => (r: InternalRow) => if (r.getBoolean(i)) 1L else 0L
      case DateType => (r: InternalRow) => r.getInt(i).toLong // days since epoch — exact
      case TimestampType => // the table's versioned key: v2 = the micros
        // long as stored (exact), v1 legacy = floor epoch seconds
        (r: InternalRow) => BandKeys.timestampKey(r.getLong(i), bandsV)
      case StringType => // order-preserving 8-byte-prefix key (lossy, monotonic)
        (r: InternalRow) => BandKeys.stringKey(r.getUTF8String(i).getBytes)
      case _ => null
    }
  }.toArray
  // typed STRING bounds fold alongside the long keys: running min/max of
  // the actual value bytes (cloned — readers reuse row buffers), capped
  // at encode time so a long extremum records Absent
  private val isStringCol: Array[Boolean] = statsCols.indices.map { c =>
    fieldIdx(c) >= 0 && schema.fields(fieldIdx(c)).dataType == StringType
  }.toArray
  private val tminBytes = Array.fill[Array[Byte]](statsCols.length)(null)
  private val tmaxBytes = Array.fill[Array[Byte]](statsCols.length)(null)
  private val mins = Array.fill(statsCols.length)(UnknownMax) // running min starts high
  private val maxs = Array.fill(statsCols.length)(UnknownMin)
  private val nullCounts = Array.fill(statsCols.length)(0L)
  private var rows = 0L

  // The group-based row-level rewrite prefixes each row with the
  // __row_operation marker, and Spark's projection-aware writing task
  // only strips it when the operation declares metadata attributes (ours
  // declares none — the plain task hands rows through raw). Project it
  // away here with Spark's own ProjectingInternalRow; a marker other
  // than plain WRITE would mean a plan shape this writer doesn't
  // understand and must not silently drop.
  private val opProjection =
    if (!opColumn) null
    else org.apache.spark.sql.catalyst.ProjectingInternalRow(schema,
      (1 to schema.length).toList)

  override def write(record: InternalRow): Unit = {
    val row =
      if (opColumn && record.numFields == schema.length + 1) {
        val op = record.getInt(0)
        if (op != org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_OPERATION &&
            op != org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_WITH_METADATA_OPERATION)
          throw new IllegalStateException(
            s"row-level write at $dataDir/$commitUuid: unexpected row operation " +
              s"marker $op — refusing to guess (plan shape not understood)")
        opProjection.project(record)
        opProjection
      } else record
    if (row.numFields != schema.length)
      throw new IllegalStateException(
        s"snapshot write at $dataDir/$commitUuid: row has ${row.numFields} " +
          s"fields but the write schema has ${schema.length} " +
          s"(${schema.fieldNames.mkString(",")}) — plan/write schema mismatch")
    var k = 0
    while (k < constraintPreds.length) {
      if (!constraintPreds(k)._2.eval(row))
        throw new IllegalStateException(
          s"CHECK constraint '${constraintPreds(k)._1}' violated by a row " +
            s"in this write — nothing was committed")
      k += 1
    }
    writer.write(row)
    rows += 1
    var c = 0
    while (c < fieldIdx.length) {
      val i = fieldIdx(c)
      if (i >= 0 && asLong(c) != null) {
        if (row.isNullAt(i)) nullCounts(c) += 1
        else {
          val v = asLong(c)(row)
          if (v < mins(c)) mins(c) = v
          if (v > maxs(c)) maxs(c) = v
          if (bloomFold(c) != null) bloomFold(c).putLong(v)
          ndvFold(c).update(v)
          if (isStringCol(c)) {
            val b = row.getUTF8String(i).getBytes
            if (tminBytes(c) == null || TypedBounds.compareBytes(b, tminBytes(c)) < 0)
              tminBytes(c) = b.clone()
            if (tmaxBytes(c) == null || TypedBounds.compareBytes(b, tmaxBytes(c)) > 0)
              tmaxBytes(c) = b.clone()
          }
        }
      }
      c += 1
    }
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    val outMins = new Array[Long](statsCols.length)
    val outMaxs = new Array[Long](statsCols.length)
    val outNulls = new Array[Long](statsCols.length)
    val outTmins = Array.fill(statsCols.length)(TypedBounds.Absent)
    val outTmaxs = Array.fill(statsCols.length)(TypedBounds.Absent)
    var c = 0
    while (c < statsCols.length) {
      val known = fieldIdx(c) >= 0 && asLong(c) != null
      if (isStringCol(c) && tminBytes(c) != null) {
        outTmins(c) = TypedBounds.encode(tminBytes(c))
        outTmaxs(c) = TypedBounds.encode(tmaxBytes(c))
      }
      if (known && rows == 0L) {
        // an EMPTY file gets the INVERTED band (min > max): no range can
        // overlap it, so reads prune it everywhere and replaceWhere
        // keeps it untouched (or drops it whole) instead of endlessly
        // routing it through the straddler rewrite — sound, it holds
        // no row any predicate could match
        outMins(c) = UnknownMax
        outMaxs(c) = UnknownMin
        outNulls(c) = 0L
      } else {
        // an all-null file has no band: unknown min/max but an EXACT
        // null count (what the rewrite-routing in replaceWhere keys on)
        outMins(c) = if (known && maxs(c) != UnknownMin) mins(c) else UnknownMin
        outMaxs(c) = if (known && maxs(c) != UnknownMin) maxs(c) else UnknownMax
        outNulls(c) = if (known) nullCounts(c) else UnknownNulls
      }
      c += 1
    }
    val outBlooms = statsCols.indices.map { c =>
      // a filter is recorded only when the fold actually SAW the column
      // (fieldIdx >= 0, foldable type) and the file has rows — an
      // absent/empty one reads as "" (never pruned / band-pruned anyway)
      if (bloomFold(c) != null && fieldIdx(c) >= 0 && asLong(c) != null && rows > 0L)
        FileBlooms.encode(bloomFold(c))
      else ""
    }.toArray
    val outNdvs = statsCols.indices.map { c =>
      // same visibility rule as blooms: recorded only when the fold saw
      // the column and the file has rows ("" = absent, estimate declines)
      if (fieldIdx(c) >= 0 && asLong(c) != null && rows > 0L)
        FileNdv.encode(ndvFold(c))
      else ""
    }.toArray
    SnapshotWriteMessage(fileName, rows, outMins, outMaxs, outNulls,
      outTmins, outTmaxs, outBlooms, outNdvs)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Exception => () }
    fs.delete(path, false)
    ()
  }

  override def close(): Unit = ()
}
