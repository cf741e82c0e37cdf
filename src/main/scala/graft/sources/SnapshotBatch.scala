package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Batch DSv2 surface for the snapshot table format:
  * {{{
  *   spark.read.format("graft-snapshot").load(root)                     // latest
  *     .option("versionAsOf", 3)                                        // VERSION AS OF
  *     .option("timestampAsOf", "2026-08-14 12:00:00" /* or millis */)  // TIMESTAMP AS OF
  * }}}
  * resolves through [[SnapshotTable]]'s manifest planning (MOR deletes
  * applied, version's recorded schema pinned), so every non-Scala
  * consumer gets the same read the Scala API and the `snapshot_at` TVF
  * produce.
  *
  * Physical shape: the JDBC-connector pattern — a DSv2 `Table` whose
  * scan implements [[V1Scan]], delegating row production to the
  * engine's existing MOR-aware DataFrame plan. The ScanBuilder accepts
  * column pruning (the delegate plan selects only the required columns,
  * so parquet column pruning happens in the inner scan) and filter
  * pushdown: null-rejecting comparisons on the table's STATS columns
  * become [lo, hi] bands that prune whole files off the manifest before
  * anything is read — `PushedFilters` in explain is the manifest
  * skipping index at work. Every filter is ALSO returned to Spark for
  * re-evaluation, so correctness never depends on the band math. */
object SnapshotBatch {

  /** Resolve (table handle, pinned version) from reader options. The
    * handle carries the manifest's recorded stats columns so filter
    * bands can map to them. */
  def resolve(spark: SparkSession, options: CaseInsensitiveStringMap)
      : (SnapshotTable, Long) = {
    val root = Option(options.get("path")).getOrElse(sys.error(
      "graft-snapshot needs a table root: read.format(\"graft-snapshot\").load(<root>)"))
    val main = new SnapshotTable(spark, root)
    // named refs: option("branch", b) scopes the read to a branch chain;
    // option("tagAsOf", t) — or a non-numeric VERSION AS OF, the SQL
    // spelling — resolves a tag to its pinned main version
    val branchOpt = Option(options.get("branch"))
    val tagOpt = Option(options.get("tagAsOf"))
      .orElse(Option(options.get("versionAsOf"))
        .filter(v => scala.util.Try(v.toLong).isFailure))
    require(branchOpt.isEmpty || tagOpt.isEmpty,
      "a tag pins a MAIN version: combine it with option(\"branch\", …) " +
        "and the read would be ambiguous — pass one or the other")
    val probe = branchOpt.fold(main)(main.branch)
    val version = Option(options.get("versionAsOf"))
      .map(v => scala.util.Try(v.toLong).getOrElse(main.tagVersion(v)))
      .orElse(tagOpt.map(main.tagVersion))
      .orElse(Option(options.get("timestampAsOf")).map(ts => probe.versionAsOf(parseTs(ts))))
      .getOrElse(probe.latestVersion())
    require(version > 0, s"no committed snapshot to read at $root")
    val snap = probe.snapshot(version)
    (branchOpt.fold(new SnapshotTable(spark, root, statsCols = snap.statsCols))(b =>
      new SnapshotTable(spark, root, statsCols = snap.statsCols)
        .branch(b)), version)
  }

  /** Epoch millis as a bare long, or a `yyyy-MM-dd HH:mm:ss[.f…]`
    * timestamp literal (the session-local java.sql form). */
  private def parseTs(s: String): Long =
    scala.util.Try(s.toLong).getOrElse(java.sql.Timestamp.valueOf(s).getTime)

  /** Null-rejecting band for one source filter, if derivable through
    * the [[BandKeys]] typed mapping under the table's band-semantics
    * version (integral/boolean/DATE exact; TIMESTAMP exact at bandsV≥2,
    * lossy floor-seconds at v1; STRING lossy-monotonic). Only these
    * prune: a file's [min,max] band covers every NON-null value's key,
    * and these predicates reject NULL rows, so a file with no band
    * overlap can hold no matching row. For LOSSY keys the strict
    * comparisons keep the boundary key (floor-second / 8-byte-prefix
    * neighbors share a key, so `>` must include it); EXACT keys tighten
    * by ±1 as before. IsNull/doubles etc. derive nothing and prune
    * nothing (sound: unpruned = read). */
  def bandOf(f: Filter, bandsV: Int): Option[(String, (Long, Long))] =
    typedBand(f, requireExact = false, bandsV)

  private def typedBand(f: Filter, requireExact: Boolean, bandsV: Int)
      : Option[(String, (Long, Long))] = {
    def key(v: Any): Option[(Long, Boolean)] =
      Option(v).flatMap(BandKeys.valueKey(_, bandsV))
        .filter { case (_, exact) => exact || !requireExact }
    f match {
      case EqualTo(c, v) => key(v).map { case (x, _) => c -> (x, x) }
      case EqualNullSafe(c, v) if v != null =>
        key(v).map { case (x, _) => c -> (x, x) }
      case GreaterThan(c, v) => key(v).flatMap { case (x, exact) =>
        // exact keys exclude the literal itself; at Long.MaxValue the
        // +1 would wrap — loose is sound for pruning, but an EXACT band
        // must decline (the truth set is empty, not [MaxValue, MaxValue])
        if (exact && x == Long.MaxValue) {
          if (requireExact) None else Some(c -> ((x, Long.MaxValue)))
        } else Some(c -> ((if (exact) x + 1 else x, Long.MaxValue))) }
      case GreaterThanOrEqual(c, v) =>
        key(v).map { case (x, _) => c -> (x, Long.MaxValue) }
      case LessThan(c, v) => key(v).flatMap { case (x, exact) =>
        if (exact && x == Long.MinValue) {
          if (requireExact) None else Some(c -> ((Long.MinValue, x)))
        } else Some(c -> ((Long.MinValue, if (exact) x - 1 else x))) }
      case LessThanOrEqual(c, v) =>
        key(v).map { case (x, _) => c -> (Long.MinValue, x) }
      // hull / prefix bands are PRUNING-only (never exact truth sets)
      case In(c, vs) if !requireExact && vs.nonEmpty &&
          vs.forall(v => Option(v).exists(BandKeys.valueKey(_, bandsV).isDefined)) =>
        val xs = vs.toSeq.flatMap(v => BandKeys.valueKey(v, bandsV).map(_._1))
        Some(c -> (xs.min, xs.max))
      case StringStartsWith(c, p) if !requireExact && p.nonEmpty =>
        Some(c -> (BandKeys.stringKey(p), BandKeys.stringPrefixHi(p)))
      case _ => None
    }
  }

  /** Intersect all derivable bands per column (tightest box wins). */
  def bandsOf(filters: Seq[Filter], bandsV: Int): Map[String, (Long, Long)] =
    filters.flatMap(bandOf(_, bandsV)).groupBy(_._1).map { case (c, bs) =>
      c -> ((bs.map(_._2._1).max, bs.map(_._2._2).min))
    }

  /** Columns some conjunct requires to BE NULL — a file with a
    * KNOWN-ZERO null count for such a column holds no matching row
    * (the complementary pruning lane to the null-rejecting bands). */
  def nullPruneCols(filters: Seq[Filter]): Set[String] =
    filters.collect { case IsNull(c) => c }.toSet

  /** Per-column point SETS from IN-lists, for per-key band + bloom
    * pruning: the hull band [min,max] keeps every file the list's RANGE
    * touches, but a file survives point pruning only if SOME listed key
    * lands inside its band AND its bloom filter (when present) admits
    * it. Bounded lists only (a huge list's per-key test costs more than
    * it saves); NULL literals add no matches (null-rejecting, like the
    * bands), so lists carrying them still derive from the non-null
    * keys. Multiple IN conjuncts on one column intersect. */
  def pointsOf(filters: Seq[Filter], bandsV: Int): Map[String, Seq[Long]] =
    filters.collect {
      case In(c, vs) if vs.nonEmpty && vs.length <= 64 &&
          vs.exists(v => Option(v).exists(BandKeys.valueKey(_, bandsV).isDefined)) &&
          vs.forall(v => v == null || BandKeys.valueKey(v, bandsV).isDefined) =>
        c -> vs.toSeq.flatMap(v =>
          Option(v).flatMap(BandKeys.valueKey(_, bandsV)).map(_._1)).distinct
    }.groupBy(_._1).map { case (c, ps) =>
      c -> ps.map(_._2.toSet).reduce(_ intersect _).toSeq.sorted
    }

  /** DISJUNCTIVE pruning constraints — the lane conjunctive bands
    * cannot serve: `ts < retention_lo OR ts > probe_hi` (the time-union
    * every backfill-plus-fresh read runs) derives NO conjunctive band
    * (its hull covers everything), yet each branch prunes perfectly on
    * its own. Each pushed OR conjunct becomes a list of ALTERNATIVES; a
    * file survives the conjunct iff SOME alternative admits it
    * (`or_match`), and conjuncts compose by intersection like every
    * other pruning lane. An alternative is the band/IS-NULL map derived
    * from one disjunct's own conjuncts (derivable subset only —
    * loosening an alternative is sound, it only admits more); a
    * disjunct deriving NOTHING poisons the whole OR (an unknowable
    * branch could match anything), so the conjunct is dropped rather
    * than mis-pruned. Small IN disjuncts expand to one EQUALITY
    * alternative per key so `k IN (…) OR k = x` keeps per-key
    * band + bloom precision instead of a hull. */
  def orAltsOf(filters: Seq[Filter], bandsV: Int): Seq[Seq[PruneAlt]] =
    filters.flatMap {
      case f: Or =>
        val perDisjunct = disjunctsOf(f).map(altsOf(_, bandsV))
        if (perDisjunct.exists(_.isEmpty)) None
        else Some(perDisjunct.flatMap(_.get))
      case _ => None
    }

  private def disjunctsOf(f: Filter): Seq[Filter] = f match {
    case Or(l, r) => disjunctsOf(l) ++ disjunctsOf(r)
    case x => Seq(x)
  }

  private def conjunctsOf(f: Filter): Seq[Filter] = f match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  /** One disjunct's alternatives, None when nothing is derivable (the
    * branch then admits unknowable rows and the whole OR must be
    * dropped). Nested ORs inside a branch's conjunction are simply not
    * derived from — sound, the branch's other conjuncts still bound it. */
  private def altsOf(leaf: Filter, bandsV: Int): Option[Seq[PruneAlt]] =
    leaf match {
      case In(c, vs) if vs.nonEmpty && vs.length <= 64 &&
          vs.exists(v => Option(v).exists(BandKeys.valueKey(_, bandsV).isDefined)) &&
          vs.forall(v => v == null || BandKeys.valueKey(v, bandsV).isDefined) =>
        // NULL literals never match (null-rejecting, like the bands)
        Some(vs.toSeq
          .flatMap(v => Option(v).flatMap(BandKeys.valueKey(_, bandsV)).map(_._1))
          .distinct.map(k => PruneAlt(Map(c -> ((k, k))), Set.empty)))
      case _ =>
        val cj = conjunctsOf(leaf)
        val bands = bandsOf(cj, bandsV)
        val nulls = nullPruneCols(cj)
        if (bands.isEmpty && nulls.isEmpty) None
        else Some(Seq(PruneAlt(bands, nulls)))
    }

  /** Like [[bandOf]] but ONLY for predicates whose band is the EXACT
    * truth set over non-null values — every value inside the band
    * matches, every value outside does not. That requires an EXACT
    * (injective, order-preserving) band key — integral/boolean/DATE,
    * plus TIMESTAMP at bandsV≥2 (epoch-micros); lossy keys (v1
    * TIMESTAMP floor-seconds, STRING prefix) are sound for file
    * PRUNING but two distinct values can share a key, so a band can
    * never prove "fully-inside ⇒ every row matches" (metadata deletes,
    * overwrite-by-filter ranges). `In`/`StartsWith` are excluded for
    * the same reason: their bands are HULLs (`IN (100, 200)` →
    * [100, 200] contains 150, which does NOT match). */
  def contiguousBandOf(f: Filter, bandsV: Int): Option[(String, (Long, Long))] =
    typedBand(f, requireExact = true, bandsV)

  /** Intersection of [[contiguousBandOf]] bands — defined only when
    * EVERY filter is contiguous-band-derivable (a single underivable
    * conjunct makes the truth set unknowable). */
  def contiguousBandsOf(filters: Seq[Filter], bandsV: Int)
      : Option[Map[String, (Long, Long)]] = {
    val per = filters.map(contiguousBandOf(_, bandsV))
    if (filters.isEmpty || per.exists(_.isEmpty)) None
    else Some(per.flatten.groupBy(_._1).map { case (c, bs) =>
      c -> ((bs.map(_._2._1).max, bs.map(_._2._2).min))
    })
  }

  /** EXACT truth set for a conjunction that may carry single-column OR
    * unions — the multi-range retention DELETE
    * (`day < keep_lo OR day >= probe_hi`) as a metadata statement.
    * Each conjunct must be either a [[contiguousBandOf]] band, or an OR
    * whose every disjunct reduces (via its own conjuncts) to a
    * contiguous band on ONE shared column — those disjuncts coalesce
    * into a sorted interval union (adjacent EXACT keys merge: the key
    * spaces are integral, so [a,k]∪[k+1,b] IS [a,b]). A union column
    * that also carries a plain band clips interval-wise (an empty clip
    * = the predicate matches nothing on that column — exact, not a
    * decline). Any underivable piece returns None: a metadata DELETE
    * must know the truth set exactly. */
  def contiguousPredicateOf(filters: Seq[Filter], bandsV: Int)
      : Option[(Map[String, (Long, Long)], Seq[(String, Seq[(Long, Long)])])] = {
    if (filters.isEmpty) return None
    val parts: Seq[Option[Either[(String, (Long, Long)),
                                 (String, Seq[(Long, Long)])]]] =
      filters.map {
        case f: Or =>
          val leaves = disjunctsOf(f).map(leaf =>
            contiguousBandsOf(conjunctsOf(leaf), bandsV)
              .filter(_.size == 1).map(_.head))
          if (leaves.exists(_.isEmpty)) None
          else {
            val flat = leaves.flatten
            val cols = flat.map(_._1).distinct
            if (cols.length != 1) None
            else Some(Right(cols.head -> coalesceRanges(flat.map(_._2))))
          }
        case In(c, vs) if vs.nonEmpty &&
            vs.exists(v => Option(v).exists(
              BandKeys.valueKey(_, bandsV).exists(_._2))) &&
            vs.forall(v => v == null ||
              BandKeys.valueKey(v, bandsV).exists(_._2)) =>
          // IN over EXACT keys is a union of points (NULL literals make
          // the predicate UNKNOWN, never TRUE — they add nothing to the
          // truth set); lossy keys (strings, v1 timestamps) decline
          Some(Right(c -> coalesceRanges(vs.toSeq.flatMap(v =>
            Option(v).flatMap(BandKeys.valueKey(_, bandsV))
              .map(k => (k._1, k._1))))))
        case f => contiguousBandOf(f, bandsV).map(Left(_))
      }
    if (parts.exists(_.isEmpty)) return None
    val items = parts.flatten
    val bands = items.collect { case Left(b) => b }
      .groupBy(_._1).map { case (c, bs) =>
        c -> ((bs.map(_._2._1).max, bs.map(_._2._2).min)) }
    val unions = items.collect { case Right(u) => u }
      .groupBy(_._1).toSeq.map { case (c, us) =>
        // several unions on one column intersect; with the plain band
        // (when present) clipped in — intersection of interval unions
        val clippedEach = us.map(_._2.map { case (lo, hi) =>
          bands.get(c).fold((lo, hi)) { case (blo, bhi) =>
            (math.max(lo, blo), math.min(hi, bhi)) }
        }.filter(p => p._1 <= p._2))
        c -> clippedEach.reduce(intersectRanges)
      }
    if (bands.isEmpty && unions.isEmpty) None else Some((bands, unions))
  }

  /** Sort + merge overlapping/adjacent EXACT-key intervals. */
  private[graft] def coalesceRanges(ivs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    ivs.filter(p => p._1 <= p._2).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((alo, ahi) :: rest, (lo, hi)) if lo <= ahi ||
            (ahi != Long.MaxValue && lo == ahi + 1) =>
          (alo, math.max(ahi, hi)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  /** Intersection of two coalesced interval unions (both sorted). */
  private[graft] def intersectRanges(a: Seq[(Long, Long)],
                                       b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    a.flatMap { case (alo, ahi) =>
      b.flatMap { case (blo, bhi) =>
        val lo = math.max(alo, blo); val hi = math.min(ahi, bhi)
        if (lo <= hi) Some((lo, hi)) else None
      }
    }
}

/** DSv2 Table: BATCH_READ + BATCH_WRITE — streaming reads stay on the V1
  * streaming source (exact version offsets) and streaming writes on the
  * V1 sink, which the provider falls back to because this table reports
  * no streaming capability.
  *
  * `pinned` is the (handle, version) resolved ONCE when the relation was
  * created (provider getTable): one batch DataFrame re-executed after
  * concurrent commits reads the SAME snapshot across actions — the
  * repeatable-read contract of the public formats. It is None only for
  * a not-yet-existing write target; a read of such a table resolves late
  * and fails with the usual "no committed snapshot".
  *
  * Writes go through [[GraftSnapshotWriteBuilder]] (executors write
  * parquet + fold stats, driver publishes the manifest). Appends carry
  * the tip's stats columns forward (or `writeStatsCols` when the caller
  * — the catalog — resolves them from table properties). A
  * NOT-yet-existing target reports ACCEPT_ANY_SCHEMA so the first write
  * can bootstrap the table (there is no schema to validate against);
  * once the table exists, Spark validates appended frames against the
  * table schema and the format's own evolution gate re-checks at commit. */
class GraftSnapshotBatchTable(spark: SparkSession, root: String,
                              tableSchema: StructType,
                              pinned: Option[(SnapshotTable, Long)] = None,
                              writeStatsCols: Seq[String] = Seq.empty,
                              props: Map[String, String] = Map.empty,
                              streaming: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Row provenance for audits (`SELECT _file, _version, ...`): the
    * physical data file a row came from and the snapshot version the
    * relation was pinned at — the "which shard did this bad training
    * sample come from" question answered without side bookkeeping. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "physical data file holding the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_version"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String = "snapshot version this relation reads"
      })
  override def name(): String = s"graft-snapshot:$root"
  override def schema(): StructType = tableSchema
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => m.put(k, v) }
    m
  }
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    if (tableSchema.isEmpty) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    // the CATALOG front door streams natively (readStream.table /
    // writeStream.toTable); the path-based provider keeps its V1
    // source/sink (exact same offset + epoch semantics), so these
    // capabilities are only reported for catalog-resolved tables —
    // advertising them on the provider's table would silently reroute
    // format("graft-snapshot") streams off the V1 path (losing the
    // changeFeed option)
    if (streaming) {
      caps.add(TableCapability.MICRO_BATCH_READ)
      caps.add(TableCapability.STREAMING_WRITE)
    }
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val (table, version) =
      pinned.getOrElse(SnapshotBatch.resolve(spark, options))
    new GraftSnapshotScanBuilder(spark, table, version, tableSchema, options)
  }
  private def statsColsForWrite: Seq[String] =
    if (writeStatsCols.nonEmpty) writeStatsCols
    else pinned.map(_._1.statsColumns).getOrElse(Seq.empty)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftSnapshotWriteBuilder(spark, root, info.schema(), statsColsForWrite,
      queryId = info.queryId(),
      clusterBy = props.get("write.cluster.by")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty))

  /** SQL DELETE/UPDATE/MERGE — predicate-pruned group-based
    * copy-on-write rewrite by default ([[GraftSnapshotRowLevelOperation]]),
    * or merge-on-read deltas when the table opts in per statement kind:
    * `write.delete.mode` / `write.update.mode` / `write.merge.mode` route
    * DELETE/UPDATE/MERGE to equality-delete + append delta commits
    * ([[GraftSnapshotDeltaRowOperation]]; a DELETE's delta carries no
    * data rows). All share `write.delete.key`. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftSnapshotRowLevelBuilder(spark, root, statsColsForWrite, info, props)

  /** METADATA-ONLY SQL DELETE (Spark's OptimizeMetadataOnlyDeleteFromTable
    * replaces the row-level rewrite when this says yes): serve the
    * statement iff every conjunct is a CONTIGUOUS band on a stats
    * column — or a single-column OR/IN union of such bands
    * ([[SnapshotBatch.contiguousPredicateOf]]) — and every file
    * classifies fully-inside-or-outside; then the delete is a manifest
    * re-list dropping the inside files, zero rewrite. Straddlers,
    * lossy-key IN-lists and non-stats columns decline, falling back to
    * the pruned row-level paths. The partition-drop shapes
    * (`DELETE WHERE day BETWEEN …`, the multi-range retention
    * `WHERE day < a OR day >= b`) at 100 TB are metadata edits. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val t = pinned.map(_._1)
      .getOrElse(new SnapshotTable(spark, root, statsColsForWrite))
    SnapshotBatch.contiguousPredicateOf(filters.toSeq, t.tableBandsV) match {
      case Some((bands, unions)) => t.canDeleteByBands(bands, unions)
      case None => false
    }
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val t = new SnapshotTable(spark, root, statsColsForWrite)
    val (bands, unions) =
      SnapshotBatch.contiguousPredicateOf(filters.toSeq, t.tableBandsV)
        .getOrElse(sys.error(
          s"deleteWhere without canDeleteWhere: ${filters.mkString(", ")}"))
    t.commitDeleteByBands(bands, unions)
    ()
  }

  /** SQL TRUNCATE TABLE: an empty overwrite version — history (and time
    * travel to it) stays intact, exactly like every other commit. The
    * schema-bearing empty file is written under PHYSICAL column names
    * (column-mapped tables' data files always carry physical names —
    * zero rows today, but a footer-inferring reader must never see a
    * logical name in a data file); the commit records the LOGICAL
    * schema as every write path does. */
  override def truncateTable(): Boolean = {
    new SnapshotTable(spark, root, statsColsForWrite)
      .commitEmptyOverwrite(tableSchema, "part-00000-truncate.parquet")
    true
  }
}

class GraftSnapshotScanBuilder(spark: SparkSession, table: SnapshotTable,
                               version: Long, fullSchema: StructType,
                               scanOptions: CaseInsensitiveStringMap =
                                 CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}

  private var required: StructType = fullSchema
  private var pruning: Array[Filter] = Array.empty
  private var hadFilters = false
  private var pushedCounts: Seq[(String, Any, org.apache.spark.sql.types.DataType)] =
    Seq.empty

  /** The read snapshot's band-semantics version — what every band this
    * scan derives from filter literals must be keyed under. */
  private val bandsV: Int =
    try table.snapshot(version).bandsV
    catch { case scala.util.control.NonFatal(_) => 1 }

  /** Record the band-derivable (and IS-NULL) filters for file pruning,
    * but hand EVERY filter back to Spark: the source prunes files, Spark
    * evaluates rows (partial pushdown, the contract explicitly allows
    * both sides). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    hadFilters = filters.nonEmpty
    pruning = filters.filter(Pruning.derives(_, bandsV))
    filters
  }
  override def pushedFilters(): Array[Filter] = pruning

  /** Ungrouped, unfiltered COUNT/MIN/MAX folds to the MANIFEST — no
    * file is opened at all: `count(*)` is the snapshot's exact
    * maintained row count (correct through MOR deletes, replaceWhere
    * and DML, every commit path maintains it); `count(col)` on a stats
    * column is rows − Σ per-file null counts; `min(col)`/`max(col)` on
    * an EXACT-band-key stats column (BIGINT/INT/SMALLINT/TINYINT/DATE/
    * BOOLEAN — [[BandKeys]]' injective, order-preserving keys — plus
    * TIMESTAMP on bandsV≥2 tables, whose key IS the stored micros
    * long) folds the per-file bands: exact write-time values, so
    * min-of-mins/max-of-maxs IS the answer — `SELECT max(ingest_ts)`
    * on a 100 TB table reads one manifest. `min`/`max` on a STRING
    * stats column folds the TYPED per-file bounds ([[TypedBounds]])
    * the same way — every non-empty file must carry one (a >64-byte
    * extremum records Absent and the lane declines). Every lane
    * declines to a normal scan when it cannot be exact: any MOR delete
    * (a removed row may hold the extremum / change the count), any
    * unknown sentinel (an all-NULL or pre-stats file), a LOSSY band
    * key (v1 TIMESTAMP floor-seconds), grouping, filters, distinct,
    * or any other function. */
  private def manifestCounts(agg: Aggregation)
      : Option[Seq[(String, Any, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.types._
    if (agg.groupByExpressions.nonEmpty || hadFilters) return None
    val snap = try table.snapshot(version) catch {
      case scala.util.control.NonFatal(_) => return None
    }
    def statsNulls(name: String): Option[Long] = {
      val ci = table.statsColumns.indexOf(name)
      if (ci < 0 || snap.deletes.nonEmpty) None
      else {
        val aligned = snap.statsCols.indexOf(name)
        if (aligned < 0 || snap.stats(aligned).nulls.length != snap.files.length)
          None
        else {
          val ns = snap.stats(aligned).nulls
          if (ns.exists(_ < 0L)) None else Some(ns.sum)
        }
      }
    }
    // the column's type when its band key is EXACT (key == value for
    // integrals/boolean; DATE's key is its physical days-since-epoch;
    // TIMESTAMP's key is its physical micros — but only under bandsV≥2)
    def exactType(name: String): Option[DataType] =
      fullSchema.fields.find(_.name == name).map(_.dataType).filter {
        case LongType | IntegerType | ShortType | ByteType | DateType |
             BooleanType => true
        case TimestampType => snap.bandsV >= 2
        case _ => false
      }
    def statsBand(name: String): Option[(Long, Long)] = {
      if (snap.deletes.nonEmpty) None
      else {
        val aligned = snap.statsCols.indexOf(name)
        if (aligned < 0) None
        else {
          val cs = snap.stats(aligned)
          if (cs.mins.length != snap.files.length ||
              cs.maxs.length != snap.files.length ||
              cs.mins.contains(Long.MinValue) || // unknown-min sentinel
              cs.maxs.contains(Long.MaxValue))   // unknown-max sentinel
            None
          else Some((cs.mins.min, cs.maxs.max))
        }
      }
    }
    // STRING extremum from the typed per-file bounds: every file must be
    // provably EMPTY (inverted long band — it holds no rows) or carry a
    // typed bound; fold bytewise (UTF8String's own ordering).
    def isString(name: String): Boolean =
      fullSchema.fields.find(_.name == name).exists(_.dataType == StringType)
    def typedBand(name: String): Option[(String, String)] = {
      if (snap.deletes.nonEmpty) return None
      val aligned = snap.statsCols.indexOf(name)
      if (aligned < 0) return None
      val cs = snap.stats(aligned)
      val n = snap.files.length
      if (cs.mins.length != n || cs.tmins.length != n || cs.tmaxs.length != n)
        return None
      val live = snap.files.indices.filter(i => cs.mins(i) <= cs.maxs(i))
      // an all-NULL file has no extremum to contribute but also no typed
      // bound: its long band is the unknown sentinel pair, which reads
      // as live here — its Absent typed bound correctly declines below
      if (live.isEmpty) return None // all-empty table: min/max is NULL — scan
      if (live.exists(i => cs.tmins(i) == TypedBounds.Absent ||
          cs.tmaxs(i) == TypedBounds.Absent)) None
      else Some((
        live.map(cs.tmins).reduce(TypedBounds.minOf),
        live.map(cs.tmaxs).reduce(TypedBounds.maxOf)))
    }
    def singleCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames.head)
        case _ => None
      }
    def extremum(name: String, isMin: Boolean): Option[(String, Any, DataType)] = {
      val label = s"${if (isMin) "min" else "max"}($name)"
      if (isString(name))
        typedBand(name).map { case (lo, hi) =>
          val b64 = if (isMin) lo else hi
          (label, new String(TypedBounds.decode(b64).get, "UTF-8"), StringType)
        }
      else exactType(name).flatMap(dt => statsBand(name).map(b =>
        (label, if (isMin) b._1 else b._2, dt)))
    }
    val resolved: Seq[Option[(String, Any, DataType)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(("count(*)", snap.rows, LongType))
        case c: Count if !c.isDistinct =>
          singleCol(c.column).flatMap(n =>
            statsNulls(n).map(nulls => (s"count($n)", snap.rows - nulls, LongType)))
        case m: Min => singleCol(m.column).flatMap(extremum(_, isMin = true))
        case m: Max => singleCol(m.column).flatMap(extremum(_, isMin = false))
        case _ => None
      }
    if (resolved.contains(None)) None else Some(resolved.flatten)
  }

  // exact, single-source: Spark must NOT re-aggregate the pushed row
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    manifestCounts(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean =
    manifestCounts(aggregation) match {
      case Some(counts) => pushedCounts = counts; true
      case None => false
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    if (pushedCounts.nonEmpty)
      new GraftSnapshotCountScan(pushedCounts, version, table.toString)
    else new GraftSnapshotScan(spark, table, version, required,
      Pruning.of(pruning.toSeq, bandsV), scanOptions)
}

/** One-row scan carrying COMPLETE manifest-served counts/extrema — the
  * scan that reads NOTHING: `.explain` shows it (with no parquet
  * relation beneath), and a 100 TB table answers `SELECT count(*),
  * max(event_date)` in one manifest parse. Each value is a band key
  * converted back to the column's physical representation (exact keys
  * only, gated by the builder): INT/SMALLINT/TINYINT narrow losslessly,
  * DATE's physical form IS its days key, BOOLEAN is the 0/1 key,
  * TIMESTAMP's physical form IS its micros key (bandsV≥2 tables only),
  * STRING extrema arrive as the decoded typed bound. */
class GraftSnapshotCountScan(counts: Seq[(String, Any, org.apache.spark.sql.types.DataType)],
                             version: Long, tableDesc: String)
    extends Scan with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
  import org.apache.spark.sql.types._
  override def readSchema(): StructType = StructType(counts.map { case (n, _, dt) =>
    StructField(n, dt, nullable = false) })
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String =
    s"GraftSnapshotCountScan v$version PushedAggregates=[${counts.map(_._1).mkString(", ")}]"
  private def physical(value: Any, dt: DataType): Any = (value, dt) match {
    case (s: String, StringType) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case (v: Long, LongType | TimestampType) => v // TIMESTAMP stores micros
    case (v: Long, IntegerType | DateType) => v.toInt // DATE is days-since-epoch int
    case (v: Long, ShortType) => v.toShort
    case (v: Long, ByteType) => v.toByte
    case (v: Long, BooleanType) => v != 0L
    case (_, other) => sys.error(s"manifest-served aggregate over non-exact type $other")
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapshotCountPartition(counts.map { case (_, v, dt) =>
      physical(v, dt) }.toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
        val values = p.asInstanceOf[SnapshotCountPartition].values
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val go = !emitted; emitted = true; go }
          override def get(): org.apache.spark.sql.catalyst.InternalRow =
            org.apache.spark.sql.catalyst.InternalRow.fromSeq(values.toSeq)
          override def close(): Unit = ()
        }
      }
    }
}

case class SnapshotCountPartition(values: Array[Any])
  extends org.apache.spark.sql.connector.read.InputPartition

/** One disjunct's derived pruning constraints: a file is ADMITTED by the
  * alternative iff every band overlaps its stats (with the per-file
  * bloom consulted on equality bands) and every IS-NULL column has a
  * nonzero (or unknown) null count. An alternative touching any
  * NON-stats column is unverifiable and admits every file — sound, it
  * just makes its OR conjunct prune nothing. */
case class PruneAlt(bands: Map[String, (Long, Long)], isNull: Set[String])

/** The four file-pruning lanes a scan or DML plan carries, each
  * derived from pushed filters by [[Pruning.of]] and tested per file by
  * [[SnapshotTable]]'s one admission rule: conjunctive `bands` (equality
  * bands also consult the file's bloom filter), IN-list `points`
  * (per-key band + bloom), IS-NULL `nullCols` (a known-zero null count
  * prunes) and disjunctive `orAlts` (one [[PruneAlt]] list per OR
  * conjunct). Lanes on non-stats columns prune nothing. */
case class Pruning(bands: Map[String, (Long, Long)] = Map.empty,
                   points: Map[String, Seq[Long]] = Map.empty,
                   nullCols: Set[String] = Set.empty,
                   orAlts: Seq[Seq[PruneAlt]] = Seq.empty)

object Pruning {
  def of(filters: Seq[Filter], bandsV: Int): Pruning =
    Pruning(SnapshotBatch.bandsOf(filters, bandsV),
      SnapshotBatch.pointsOf(filters, bandsV),
      SnapshotBatch.nullPruneCols(filters),
      SnapshotBatch.orAltsOf(filters, bandsV))

  /** Whether `f` feeds any lane — the filters a builder reports pushed. */
  def derives(f: Filter, bandsV: Int): Boolean = of(Seq(f), bandsV) != Pruning()
}

class GraftSnapshotScan(spark: SparkSession, table: SnapshotTable,
                        version: Long, required: StructType,
                        pruning: Pruning,
                        options: CaseInsensitiveStringMap =
                          CaseInsensitiveStringMap.empty(),
                        joinPrunedCols: Set[String] = Set.empty) extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = required

  /** Whether [[org.apache.spark.sql.graft.JoinSkippingRule]] can add a
    * dim-key point-pruning lane on `colName`: the column must carry
    * manifest bands and not already be join-pruned (the rule's
    * idempotence guard). */
  def joinSkippingCandidate(colName: String): Boolean =
    !joinPrunedCols.contains(colName) && table.statsColumns.contains(colName)

  /** This scan with a dim side's collected distinct join-key VALUES as
    * an extra point-pruning lane on `colName` — the manifest admits a
    * file only when SOME key lands in its band (and, when indexed, its
    * bloom filter). None when any value derives no band key: a missing
    * key could prune a file holding its matching rows, so the whole
    * lane stands down (pruning is an optimization, never a correctness
    * dependency). An existing pushed-IN lane on the column intersects:
    * a row surviving both predicates has its key in both sets. */
  def withJoinKeys(colName: String, values: Seq[Any]): Option[GraftSnapshotScan] = {
    val bandsV =
      try table.snapshot(version).bandsV
      catch { case scala.util.control.NonFatal(_) => return None }
    val keys = values.flatMap(v => BandKeys.valueKey(v, bandsV).map(_._1))
    if (keys.length != values.length) None
    else {
      val merged = pruning.points.get(colName) match {
        case Some(existing) => existing.toSet.intersect(keys.toSet).toSeq.sorted
        case None => keys.distinct.sorted
      }
      Some(new GraftSnapshotScan(spark, table, version, required,
        pruning.copy(points = pruning.points.updated(colName, merged)),
        options, joinPrunedCols + colName))
    }
  }

  /** The HULL fallback past the key cap: the dim's [min, max] join-key
    * band as an extra band lane on `colName` — band keys are (at least
    * weakly) monotonic per type, so [key(min), key(max)] covers every
    * dim key's band key and the lane stays a sound superset. Still
    * prunes a fact clustered on the join key (the common
    * `write.cluster.by` layout). An existing band on the column
    * intersects. */
  def withJoinBand(colName: String, minValue: Any, maxValue: Any)
      : Option[GraftSnapshotScan] = {
    val bandsV =
      try table.snapshot(version).bandsV
      catch { case scala.util.control.NonFatal(_) => return None }
    for {
      lo <- Option(minValue).flatMap(BandKeys.valueKey(_, bandsV)).map(_._1)
      hi <- Option(maxValue).flatMap(BandKeys.valueKey(_, bandsV)).map(_._1)
    } yield {
      val merged = pruning.bands.get(colName) match {
        case Some((elo, ehi)) => (math.max(elo, lo), math.min(ehi, hi))
        case None => (lo, hi)
      }
      new GraftSnapshotScan(spark, table, version, required,
        pruning.copy(bands = pruning.bands.updated(colName, merged)),
        options, joinPrunedCols + colName)
    }
  }

  /** `spark.readStream.table(...)` — the catalog table reports
    * MICRO_BATCH_READ and Spark lands here; column pruning flows
    * through the same builder, so a narrow streaming projection reads
    * narrow parquet. Offsets are table versions; see
    * [[SnapshotMicroBatchStream]]. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SnapshotMicroBatchStream(spark, table, required, options, checkpointLocation)

  /** This scan's file admission, made once: the statistics, the
    * planned file list and the V1 relation's read all take it. */
  private lazy val admission = table.admitted(pruning, version)

  /** The manifest-planned file list after every pruning lane — the
    * evidence the connector spec pins (skipping survives the DSv2 path). */
  private[graft] def plannedFiles: Seq[String] = {
    require(admission.nonEmpty, s"no committed snapshot to read at ${table.rootPath}")
    val a = admission.get
    a.keep.map(a.fl.files)
  }

  /** EXACT row count from the manifest (maintained through every commit
    * path) feeding the planner's broadcast decision — a small snapshot
    * dimension joins broadcast without hints instead of hiding behind a
    * default-sized V2 relation. `sizeInBytes` comes from the manifest's
    * recorded file lengths when every one is known — actual on-disk
    * bytes, scaled exactly as Spark's own FileScan sizes a parquet
    * relation (`fileCompressionFactor` × the read-schema width
    * fraction), so the snapshot format is neither penalized nor favored
    * vs a plain parquet table in join-side selection. Pre-lens
    * manifests fall back to rows × default row width (an overestimate
    * — conservative for broadcast planning); band-pruned scans keep the
    * unpruned totals — an upper bound, also conservative. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val snap =
        try Some(table.snapshot(version))
        catch { case scala.util.control.NonFatal(_) => None }
      // PRUNED statistics when any pruning lane is active: the planner's
      // broadcast decision should see what the scan will actually read —
      // a fact pruned to one day broadcasts like one day, not like the
      // table. Planned rows are an upper bound under MOR deletes (they
      // only shrink), the conservative direction an estimate may err in;
      // unknown vectors fall back to the unpruned totals (also an upper
      // bound).
      private val pruningActive = pruning != Pruning()
      private val (plannedRows, plannedBytes): (Option[Long], Option[Long]) =
        if (!pruningActive || snap.isEmpty) (None, None)
        else try table.plannedStats(admission)
        catch { case scala.util.control.NonFatal(_) => (None, None) }
      private val rows: Option[Long] = plannedRows.orElse(snap.map(_.rows))
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
      /** Per-column statistics from the manifest alone, over the PLANNED
        * (post-pruning) file set — the CBO input that lets join planning
        * and filter-selectivity estimation stop guessing (DSv2 column
        * statistics, SPARK-41378's path): DISTINCT counts from the
        * mergeable NDV sketches, MIN/MAX from the band vectors for the
        * types whose key is exact (typed back via
        * [[BandKeys.keyToCatalyst]] — catalyst-internal values, the
        * representation ColumnStat expects), and NULL counts from the
        * null-census vectors. Columns with no known statistic are
        * simply absent; unknown vectors drop just that statistic. */
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val out = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        val ndvs =
          try table.plannedColumnNdvs(admission)
          catch { case scala.util.control.NonFatal(_) =>
            Map.empty[String, Long] }
        val boundsByCol =
          try table.plannedColumnBounds(admission)
          catch { case scala.util.control.NonFatal(_) =>
            Map.empty[String, (Option[(Long, Long)], Option[Long])] }
        val bandsV = snap.map(_.bandsV).getOrElse(1)
        (ndvs.keySet ++ boundsByCol.keySet).foreach { c =>
          val dtOpt = required.fields.find(_.name == c).map(_.dataType)
          if (dtOpt.nonEmpty) {
            val (keyBounds, nullsN) =
              boundsByCol.getOrElse(c, (None, None))
            val minV = for { dt <- dtOpt; (lo, _) <- keyBounds
              v <- BandKeys.keyToCatalyst(lo, dt, bandsV) } yield v
            val maxV = for { dt <- dtOpt; (_, hi) <- keyBounds
              v <- BandKeys.keyToCatalyst(hi, dt, bandsV) } yield v
            val ndv = ndvs.get(c)
            if (ndv.nonEmpty || minV.nonEmpty || nullsN.nonEmpty)
              out.put(
                org.apache.spark.sql.connector.expressions.Expressions.column(c),
                new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    ndv.map(java.util.OptionalLong.of)
                      .getOrElse(java.util.OptionalLong.empty())
                  override def min(): java.util.Optional[Object] =
                    minV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def max(): java.util.Optional[Object] =
                    maxV.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def nullCount(): java.util.OptionalLong =
                    nullsN.map(java.util.OptionalLong.of)
                      .getOrElse(java.util.OptionalLong.empty())
                })
          }
        }
        out
      }
      override def sizeInBytes(): java.util.OptionalLong = {
        def scaled(raw: Long): Long = {
          val full = math.max(1, table.schemaOf(version).defaultSize)
          val frac = math.min(1.0,
            math.max(8, required.defaultSize).toDouble / full)
          val factor = spark.sessionState.conf.fileCompressionFactor
          math.max(1L, (raw * factor * frac).toLong)
        }
        val fromLens = plannedBytes.map(scaled).orElse(snap.filter(s =>
          s.lens.length == s.files.length && s.lens.forall(_ >= 0L) &&
            s.files.nonEmpty).map(s => scaled(s.lens.sum)))
        fromLens.orElse(rows.map(n =>
          math.max(1L, n * math.max(8, required.defaultSize))))
          .map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      }
    }

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new GraftSnapshotRelation(context, spark, table, version, required,
      admission).asInstanceOf[T]

  override def description(): String = {
    val Pruning(bands, points, nullCols, orAlts) = pruning
    s"GraftSnapshotScan v$version bands=${bands.map { case (c, (lo, hi)) =>
      s"$c:[$lo,$hi]" }.mkString(",")}" +
      (if (nullCols.isEmpty) "" else s" isNull=${nullCols.mkString(",")}") +
      (if (points.isEmpty) "" else s" points=${points.map { case (c, ks) =>
        s"$c:${ks.length}" }.mkString(",")}") +
      (if (orAlts.isEmpty) "" else s" orAlts=${orAlts.map(_.length).mkString("|")}")
  }
}

/** The V1 delegate: rows come from the engine's own MOR-aware plan,
  * pruned to the required columns — the inner parquet scan keeps its
  * pushdown/codegen, and the scan's admission decides which files
  * exist at all. */
class GraftSnapshotRelation(context: SQLContext, spark: SparkSession,
                            table: SnapshotTable, version: Long,
                            required: StructType, admission: Option[Admission])
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = context
  override def schema: StructType = required
  override def buildScan(): RDD[Row] = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    val (df, _) = table.readAdmitted(admission)
    val pruned =
      if (required.isEmpty) df.select() // count-style scans need no columns
      else df.select(required.fieldNames.toIndexedSeq.map {
        // provenance metadata columns, served from the scan itself
        case "_file" if !df.columns.contains("_file") =>
          input_file_name().as("_file")
        case "_version" if !df.columns.contains("_version") =>
          lit(version).as("_version")
        case name => col(name)
      }: _*)
    pruned.rdd
  }
}

/** V1 streaming SINK for the format — `writeStream.format("graft-snapshot")
  * .option("path", root)`:
  *  - Append mode lands each micro-batch through
  *    [[SnapshotTable.commitAppendOnce]], so a replayed epoch (failure
  *    recovery, driver restart) finds its batchId in the history and
  *    commits NOTHING twice — exactly-once table versions without
  *    foreachBatch boilerplate, schema-evolution-gated like any commit;
  *  - Complete mode maps to [[SnapshotTable.commitOverwrite]] (each
  *    trigger replaces the table — the aggregate-refresh shape).
  * The micro-batch frame is re-exposed as a batch plan over the same
  * physical RDD (`bridge.batchOf`) because V1 sinks receive streaming
  * DataFrames that batch writers refuse. */
class SnapshotSink(spark: SparkSession, root: String, complete: Boolean,
                   txnAppIdOption: Option[String] = None,
                   // option("branch", name): epochs land on the branch
                   // chain (staged streaming ingest — the stream side of
                   // write-audit-publish; fastForward publishes the
                   // audited result onto main)
                   branchName: Option[String] = None)
    extends org.apache.spark.sql.execution.streaming.Sink {
  /** The writing query's identity for the epoch-dedup pair — the
    * `txnAppId` option when given (the Delta idiom for caller-managed
    * fan-in), else the streaming queryId Spark stamps on the execution
    * thread: stable across restarts of the SAME checkpoint (it lives in
    * the checkpoint metadata), different for a second query or a fresh
    * checkpoint — so a colliding batchId from another query is never
    * misread as this query's replay. A missing identity FAILS rather
    * than defaulting to "": an empty txnApp would quietly reintroduce
    * the epoch-0 fan-in collision this key exists to close.
    *
    * Upgrade edge (pre-identity manifests): appends committed before the
    * (txnApp, batchId) key carry txnApp="" and can never match a
    * queryId-keyed probe, so upgrading a LIVE checkpoint in place could
    * replay its last pre-upgrade epoch once. Upgrade with the stream
    * drained (its final epoch checkpointed as committed) and no replay
    * window exists; deliberately NOT papered over with a ""-wildcard
    * match, which would re-open the cross-query collision for every
    * legacy manifest. */
  private def txnApp: String = {
    val id = txnAppIdOption.orElse(Option(
      spark.sparkContext.getLocalProperty(
        org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY)))
    require(id.exists(_.nonEmpty),
      s"SnapshotSink[$root]: no writing-query identity on the addBatch thread " +
        "(no streaming queryId local property and no txnAppId option) — " +
        "refusing an anonymous epoch commit; pass option(\"txnAppId\", ...) " +
        "if driving this sink outside a streaming query")
    id.get
  }

  /** Handle opened with the TIP's stats columns so appended manifests
    * carry the table's data-skipping index forward — a stats-less handle
    * would publish a statsCols-free manifest and silently erase pruning
    * (and file-surgical replaceWhere) for every file at the tip. */
  private def table: SnapshotTable = {
    // a branch target must EXIST (createBranch is the explicit fork) —
    // branch() validates the fork marker; a raw ref handle would
    // silently start a markerless chain
    def scoped(h: SnapshotTable): SnapshotTable =
      branchName.fold(h)(h.branch)
    val probe = scoped(new SnapshotTable(spark, root))
    val tip = probe.latestVersion()
    if (tip == 0) probe
    else {
      val cols = probe.snapshot(tip).statsCols
      if (cols.isEmpty) probe
      else scoped(new SnapshotTable(spark, root, statsCols = cols))
    }
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.graft.bridge.batchOf(spark, data)
    if (complete) table.commitOverwrite(batch)
    else table.commitAppendOnce(txnApp, batchId, batch)
  }
  override def toString: String = s"SnapshotSink[$root]"
}
