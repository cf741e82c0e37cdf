package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** What a self-contained Batch scan of one snapshot version needs —
  * produced by [[SnapshotTable.dmlSpec]]. File entries are (absolute
  * path, length). */
case class SnapshotDmlSpec(files: Seq[(String, Long)], seqs: Seq[Long],
                           deletes: Seq[(String, Long)], deleteSeqs: Seq[Long],
                           deleteKey: Seq[String], schema: StructType)

/** A REAL DSv2 `Batch` scan of a pinned snapshot version — required by
  * the row-level DML rewrite, which plans the operation's scan as a
  * `BatchScanExec` (the V1Scan fallback the ordinary read path uses is
  * not wrapped there). One input partition per data file; rows come
  * from Spark's own parquet row reader (via the bridge), so schema
  * pinning, widening upcasts and missing-column null-fill behave
  * exactly like the engine's native reads. MOR deletes are applied
  * IN the reader: each partition loads its applicable delete-key files
  * (commit-sized parquet) into a hash set and filters rows — the same
  * strictly-greater sequence rule as [[SnapshotTable]]'s read plan.
  * The spec's file list is the operation's GROUP set: the rewrite
  * replaces exactly these files with the rows this scan produces (so
  * the scan returns their COMPLETE rows, never row-filtered), and the
  * commit re-lists every file outside the spec untouched — see
  * [[SnapshotDmlScanBuilder]] for how the statement's predicate prunes
  * the spec down from the full table. */
/** ScanBuilder for the row-level DML read, with PREDICATE-PRUNED group
  * planning: Spark's group-based row-level planning pushes the
  * statement's condition here as V1 filters; the conjuncts a
  * [[Pruning]] lane derives from prune whole files off the manifest
  * (the same lanes and admission rule, bloom filters included, as the
  * ordinary read path), and the scan then plans ONLY the files that
  * can hold a matching row. Pruned files are
  * reported back through `onPlanned` so the replacement commit
  * re-lists them untouched ([[SnapshotTable.commitWrittenRewriteFiles]])
  * instead of rewriting the whole table — a point UPDATE/DELETE on a
  * 100 TB table costs its matched files, not 100 TB.
  *
  * Correctness split: pruning is FILE-level only. Every filter is
  * handed back to Spark (the rewrite plan re-evaluates the full
  * condition on the row stream), and the scan never row-filters —
  * non-matching rows of a planned file must flow through to the
  * replacement write or they would be lost with the file. */
class SnapshotDmlScanBuilder(spark: SparkSession, table: SnapshotTable,
                             base: Long, root: String,
                             onPlanned: (Seq[String], Boolean) => Unit)
    extends ScanBuilder with SupportsPushDownFilters {
  import org.apache.spark.sql.sources.Filter

  private var pruning: Array[Filter] = Array.empty

  /** The pinned base version's band-semantics version — the DML scan's
    * filter-literal bands must be keyed the way its manifests are. */
  private val bandsV: Int =
    try table.snapshot(base).bandsV
    catch { case scala.util.control.NonFatal(_) => 1 }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruning = filters.filter(Pruning.derives(_, bandsV))
    filters // group pruning only — Spark keeps row-level evaluation
  }
  override def pushedFilters(): Array[Filter] = pruning

  override def build(): Scan = {
    val (spec, scannedRel, full) =
      table.dmlSpecPruned(base, Pruning.of(pruning.toSeq, bandsV))
    onPlanned(scannedRel, full)
    new SnapshotDmlScan(spark, spec, base, root)
  }
}

class SnapshotDmlScan(spark: SparkSession, spec: SnapshotDmlSpec,
                      version: Long, root: String) extends Scan with Batch {
  override def readSchema(): StructType = spec.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSnapshotDmlScan v$version of $root (${spec.files.length} files)"

  override def planInputPartitions(): Array[InputPartition] =
    spec.files.indices.map { i =>
      val appl = spec.deletes.indices
        .filter(j => spec.deleteSeqs(j) > spec.seqs.applyOrElse(i, (_: Int) => 0L))
      SnapshotDmlPartition(spec.files(i)._1, spec.files(i)._2,
        appl.map(spec.deletes(_)._1).toArray, appl.map(spec.deletes(_)._2).toArray)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val keyFields: Seq[StructField] =
      spec.deleteKey.map(c => spec.schema.fields(spec.schema.fieldNames.indexOf(c)))
    // column-mapped tables: fetch by PHYSICAL name — InternalRows are
    // positional, so the logical readSchema above stays the contract
    // (delete keys are unrenameable by DDL guard: logical == physical)
    new SnapshotDmlReaderFactory(
      bridge.parquetRowReader(spark, ColumnMapping.physicalSchema(spec.schema)),
      if (spec.deleteKey.isEmpty) null
      else bridge.parquetRowReader(spark, StructType(keyFields)),
      spec.deleteKey.map(c => spec.schema.fieldNames.indexOf(c)).toArray,
      keyFields.map(_.dataType).toArray)
  }
}

case class SnapshotDmlPartition(file: String, length: Long,
                                deleteFiles: Array[String],
                                deleteLengths: Array[Long]) extends InputPartition

class SnapshotDmlReaderFactory(
    dataReader: PartitionedFile => Iterator[InternalRow],
    keyReader: PartitionedFile => Iterator[InternalRow],
    keyIdx: Array[Int], keyTypes: Array[DataType])
    extends PartitionReaderFactory {

  private def pf(path: String, length: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      0L, length, Array.empty, 0L, length, Map.empty)

  /** Content-stable copy of one key value (readers may reuse rows, and
    * UTF8String equality is by content, so cloned values hash right). */
  private def keyValue(row: InternalRow, ordinal: Int, dt: DataType): Any = {
    if (row.isNullAt(ordinal)) null
    else row.get(ordinal, dt) match {
      case s: UTF8String => s.clone()
      case other => other
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SnapshotDmlPartition]
    // applicable delete keys -> content-copied tuples (commit-sized)
    val deleted: java.util.HashSet[Seq[Any]] =
      if (p.deleteFiles.isEmpty) null
      else {
        val set = new java.util.HashSet[Seq[Any]]()
        p.deleteFiles.indices.foreach { j =>
          keyReader(pf(p.deleteFiles(j), p.deleteLengths(j))).foreach { kr =>
            set.add(keyTypes.indices.map(i => keyValue(kr, i, keyTypes(i))))
          }
        }
        set
      }
    val rows = dataReader(pf(p.file, p.length)).filter { r =>
      deleted == null ||
        // NULL equality keys match nothing (the anti-join contract)
        {
          val k = keyIdx.indices.map(i => keyValue(r, keyIdx(i), keyTypes(i)))
          k.contains(null) || !deleted.contains(k)
        }
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { cur = rows.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
