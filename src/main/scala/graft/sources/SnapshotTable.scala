package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Per-file column statistics aligned with a manifest's file list:
  * min/max of the column cast to LONG plus the file's NULL count for the
  * column. `nulls` is -1 when unknown (older manifest, stats-less file) —
  * consumers must treat unknown as "may contain NULLs" and stay
  * conservative ([[SnapshotTable.commitReplaceWhere]] routes such files
  * through the rewrite instead of dropping them whole). An INVERTED band
  * (min > max, i.e. [Long.MaxValue, Long.MinValue]) marks a known-EMPTY
  * file: no range overlaps it, so every band consumer prunes it —
  * sound, it holds no row any predicate could match.
  *
  * `tmins`/`tmaxs` are the TYPED per-file bounds ([[TypedBounds]]):
  * base64-encoded actual min/max values for columns whose long key is
  * lossy (STRING), [[TypedBounds.Absent]] where not recorded. A vector
  * misaligned with `files` reads as all-absent — never positionally
  * reinterpreted. */
case class ColStats(mins: Seq[Long], maxs: Seq[Long], nulls: Seq[Long],
                    tmins: Seq[String] = Seq.empty,
                    tmaxs: Seq[String] = Seq.empty,
                    // per-file point-lookup bloom filter over the
                    // column's band keys (base64 of the spark-sketch
                    // serialization; "" = absent), recorded only for
                    // `write.bloom.cols` columns — same alignment
                    // discipline as the typed bounds
                    blooms: Seq[String] = Seq.empty,
                    // per-file NDV sketch over the column's band keys
                    // (datasketches HLL, base64 compact; "" = absent) —
                    // mergeable across any file subset, so pruned scans
                    // report post-pruning distinct counts (see
                    // [[FileNdv]]); same alignment discipline
                    ndvs: Seq[String] = Seq.empty)

/** A snapshot descriptor parsed back from a published manifest.
  * `batchId` is -1 for plain commits; streaming appends record their
  * micro-batch epoch here, paired with `txnApp` — the writing QUERY's
  * identity (streaming queryId or a caller-chosen txnAppId). The dedup
  * key is the PAIR: batchId alone is scoped to one query's checkpoint,
  * so a second query fanning into the same table (or a restart with a
  * fresh checkpoint) restarts epochs at 0 and a batchId-only probe
  * would silently classify its first commit as a replay — data loss.
  * The public log-structured formats key sink idempotency on
  * (appId, version) for exactly this reason.
  * `statsCols`/`stats` are the data-skipping index: per stats column,
  * per-file min/max/null-count aligned with `files` (empty when the
  * table collects no stats) — what [[SnapshotTable.readRange]] prunes on.
  * `dataChange=false` marks versions that reorganize files without
  * changing table contents (compaction) — change-feed consumers skip
  * them. `schemaJson` is the table schema AS OF this version (Spark
  * StructType JSON): reads pin it, so old files widen (int→long,
  * float→double) and pre-evolution files null-fill added columns
  * natively in the parquet reader.
  *
  * Merge-on-read deletes (the scalable DELETE the public log-structured
  * formats converged on): `deletes` lists small parquet files of delete
  * KEYS; a reader anti-joins them instead of the table being rewritten.
  * `seqs` (aligned with `files`) and `deleteSeqs` (aligned with
  * `deletes`) record the version each file was first committed in — a
  * delete file applies only to data files with a STRICTLY SMALLER
  * sequence, so a key re-inserted after its deletion survives (the
  * Iceberg v2 equality-delete sequencing rule). `deleteKey` names the
  * equality columns. Empty seqs (pre-MOR manifests) read as all-zero:
  * oldest, so every delete applies — consistent, since such manifests
  * carry no deletes either. `lens` (aligned with `files`) records each
  * data file's byte length AT COMMIT TIME — immutable files never
  * change size, so read/DML/streaming planning builds its FileStatus
  * entries straight from the manifest with ZERO filesystem calls (on an
  * object store: no HEAD storm per query). Manifests predating the
  * field read as empty → planning falls back to one getFileStatus per
  * file, and the next commit records lengths for every carried-forward
  * file. */
/** One live file's manifest-recorded metadata at a version — the
  * format's introspection row (Iceberg's `files` metadata table shape).
  * `content` is 'data' or 'delete' (merge-on-read equality-delete file);
  * the key maps carry each stats column's LONG band key bounds and null
  * count (see [[BandKeys]] for per-type key semantics — BIGINT keys are
  * the values themselves), with unknown stats simply absent; `bloomCols`
  * names the stats columns this file carries a point-lookup bloom filter
  * for. Built from the manifest alone — zero data I/O. */
/** [[SnapshotTable.checkTable]]'s findings: what the manifest claims
  * vs what storage holds. `rowsFromCounts`/`rowsDeepScan` are None when
  * that lane did not apply (unknown per-file counts / MOR deletes;
  * deep not requested). */
case class TableCheckReport(version: Long, files: Long, deletes: Long,
                            missingFiles: Seq[String],
                            lengthMismatches: Seq[String],
                            misalignedVectors: Seq[String],
                            rowsRecorded: Long,
                            rowsFromCounts: Option[Long],
                            rowsDeepScan: Option[Long],
                            ok: Boolean,
                            // metadata-mode MOR reconciliation: live rows
                            // must lie in [Σfrows − Σdrows, Σfrows]
                            // (deletes only remove; each delete file
                            // removes at most its recorded key count)
                            rowsBounds: Option[(Long, Long)] = None)

/** One stats column's manifest-served table statistics
  * ([[SnapshotTable.statsSummary]]): band-key bounds and null census
  * (absent when any live file's vector is unknown — never a guess),
  * DISTINCT estimate from the mergeable NDV sketches. */
case class ColumnStatsSummary(column: String,
                              minKey: Option[Long], maxKey: Option[Long],
                              nullCount: Option[Long], ndvEst: Option[Long],
                              // exact typed VALUE bounds where recorded
                              // (STRING columns, the lossy-key case) —
                              // decoded UTF-8, absent elsewhere
                              minValue: Option[String] = None,
                              maxValue: Option[String] = None)

/** Outcome of [[SnapshotTable.repairTable]] — the recovery verb paired
  * with [[SnapshotTable.checkTable]]. `committed` is the published
  * repair version (None on dry runs and when nothing is damaged);
  * `rowsAfter` is −1 on a dry run whose exact accounting would need a
  * recount scan (the committing run always pays it). */
case class TableRepairReport(version: Long,
                             droppedFiles: Seq[String],
                             droppedDeletes: Seq[String],
                             rowsBefore: Long,
                             rowsAfter: Long,
                             committed: Option[Long])

/** Debris thresholds for [[SnapshotTable.maintain]] — what "needs
  * maintenance" means for a table, as configuration. `maxRetained = 0`
  * disables the retention-vacuum step (time travel is a policy choice,
  * not debris). */
case class MaintainPolicy(deleteFilesAt: Int = 4,
                          smallFileBytes: Long = 8L * 1024 * 1024,
                          smallFilesAt: Int = 4,
                          targetFileBytes: Long = 128L * 1024 * 1024,
                          overlapAt: Int = 4,
                          targetRowsPerFile: Long = 1000000L,
                          maxRetained: Int = 0)

/** What one [[SnapshotTable.maintain]] step did: the verb that ran
  * (`compact_deletes` | `compact_files` | `compact_range` | `vacuum` |
  * `none`), the resulting tip version, the manifest-estimated bytes the
  * step rewrote, and a human-readable reason. */
case class MaintainReport(action: String, version: Long, estBytes: Long,
                          detail: String)

case class SnapshotFileMeta(content: String, file: String, commitSeq: Long,
                            bytes: Long,
                            minKey: Map[String, Long],
                            maxKey: Map[String, Long],
                            nullCount: Map[String, Long],
                            bloomCols: Seq[String],
                            rows: Long = -1L,
                            // per-column DISTINCT estimate from the
                            // file's own NDV sketch (absent = no sketch)
                            ndvEst: Map[String, Long] = Map.empty)

case class Snapshot(version: Long, action: String, baseVersion: Long,
                    rows: Long, files: Seq[String], batchId: Long = -1L,
                    txnApp: String = "",
                    statsCols: Seq[String] = Seq.empty,
                    stats: Seq[ColStats] = Seq.empty,
                    dataChange: Boolean = true,
                    seqs: Seq[Long] = Seq.empty,
                    deletes: Seq[String] = Seq.empty,
                    deleteSeqs: Seq[Long] = Seq.empty,
                    deleteKey: Seq[String] = Seq.empty,
                    ts: Long = 0L,
                    schemaJson: Option[String] = None,
                    lens: Seq[Long] = Seq.empty,
                    deleteLens: Seq[Long] = Seq.empty,
                    // manifest-list encoding (Iceberg's idea, one level):
                    // the first `groupedCount` entries of files/seqs/lens/
                    // stats live in the immutable group files named by
                    // `groupRefs` — a RESOLVED Snapshot (what every
                    // consumer sees) always carries the full materialized
                    // lists; these two fields only tell the next commit
                    // which prefix it can re-reference instead of re-list
                    groupRefs: Seq[String] = Seq.empty,
                    groupedCount: Int = 0,
                    // band-semantics version of every stats band this
                    // manifest carries (see [[BandKeys]]): fixed by the
                    // table's FIRST manifest, inherited forever after —
                    // absent (legacy) reads as 1 (TIMESTAMP keys are
                    // floor-seconds, pruning-only)
                    bandsV: Int = 1,
                    // per-file ROW COUNTS aligned with `files` (-1 =
                    // unknown) — the record_count vector of the public
                    // formats: serves filtered counts and exact
                    // metadata-delete accounting without a scan
                    frows: Seq[Long] = Seq.empty,
                    // per-DELETE-file key counts aligned with `deletes`
                    // (-1 = unknown): each equality-delete file's
                    // distinct-key count, which (by the commit-time
                    // row-uniqueness guard) is exactly the rows it
                    // removed when committed and an UPPER bound on the
                    // rows it still removes (rewrites only absorb) —
                    // lets fsck bound live rows under MOR from metadata
                    drows: Seq[Long] = Seq.empty,
                    // per-delete-file key BAND (band-key space of the
                    // single delete-key column; Long.MinValue/MaxValue =
                    // unknown, conservatively overlapping): a delete
                    // whose band misses a data file's key band cannot
                    // touch it — countRange serves such files from
                    // recorded counts instead of scanning
                    dmins: Seq[Long] = Seq.empty,
                    dmaxs: Seq[Long] = Seq.empty)

/** Per-file stats + MOR bookkeeping aligned with a manifest's file
  * list. `stats` is aligned with the reading table's `statsCols` (outer)
  * and `files` (inner); columns a manifest doesn't cover carry the
  * full-range sentinel — conservatively never pruned. */
private[graft] case class FileSet(files: Seq[String], stats: Seq[ColStats],
                                  seqs: Seq[Long] = Seq.empty,
                                  deletes: Seq[String] = Seq.empty,
                                  deleteSeqs: Seq[Long] = Seq.empty,
                                  deleteKey: Seq[String] = Seq.empty,
                                  lens: Seq[Long] = Seq.empty,
                                  deleteLens: Seq[Long] = Seq.empty,
                                  frows: Seq[Long] = Seq.empty,
                                  drows: Seq[Long] = Seq.empty,
                                  dmins: Seq[Long] = Seq.empty,
                                  dmaxs: Seq[Long] = Seq.empty)

/** One file admission ([[SnapshotTable.admitted]]): the read snapshot,
  * its file set and the indices of the files every pruning lane admits.
  * A scan computes it once; its estimators and its read take it. */
private[graft] case class Admission(snap: Snapshot, fl: FileSet, keep: Seq[Int])

/** Minimal snapshot-versioned table format: immutable parquet data files
  * plus a linear chain of JSON manifests, one per committed version —
  * the miniature of the public log-structured table-format idea
  * (Delta/Iceberg) that turns the reference's backup/restore + blue-green
  * promote (SURVEY.md §2.1 S13, §2.11 C5; `taico_facebook_data_etl_dag.py:
  * 136-222`) into atomic, time-travelable versioned commits.
  *
  * Layout under `root`:
  * {{{
  *   data/<commitUuid>/part-*.parquet   — immutable; never rewritten
  *   _snapshots/v<%020d>.json           — manifest: file list + lineage
  *   _snapshots/_tip                    — best-effort tip HINT (see below)
  * }}}
  *
  * Commit protocol (scale posture):
  *  1. write the batch's parquet files under a fresh `data/<uuid>/` dir —
  *     distributed write, no coordination;
  *  2. publish the manifest create-exclusively through the root's
  *     [[SnapshotLogStore]] (java.nio `CREATE_NEW` on local roots,
  *     server-side atomic create on HDFS, conditional PUT on object
  *     stores) — the single atomic point: exactly one writer wins a
  *     version number, the loser sees the collision and retries the
  *     (cheap, manifest-only) publish on top of the new tip. Data files
  *     written by the loser stay reachable from ITS retried manifest, so
  *     no work is discarded. A non-collision failure (permissions, full
  *     disk) is NOT retried — it propagates with its cause.
  *
  * Tip discovery is O(1)+O(commits since the hint), not O(retained
  * versions): `_tip` records the last published version (best-effort,
  * overwritten after every publish); [[latestVersion]] reads it and
  * probes FORWARD until the next manifest is missing, falling back to a
  * directory listing only when the hint is absent/torn/stale-invalid.
  * The hint is never authoritative — correctness comes from the probe.
  *
  * An APPEND is therefore manifest-only on top of existing data (no data
  * rewrite — the only way a daily append to a 3,000-partition fact stays
  * O(batch)); OVERWRITE publishes a manifest listing only the new files;
  * ROLLBACK is roll-forward (a new version re-listing an old version's
  * files — history is never mutated, [[read]] of any version stays
  * stable); [[vacuum]] deletes data files unreachable from the retained
  * manifest suffix. Reads plan from the manifest's explicit file list, so
  * they never depend on directory listing of `data/` (uncommitted or
  * vacuum-pending files are invisible).
  *
  * Schema evolution: every manifest records the table schema as of its
  * version, and commits VALIDATE the batch against the tip schema —
  * additive columns are allowed (old files null-fill at read), int→long
  * and float→double widening is allowed in either direction (reads pin
  * the wider type; Spark 4's parquet reader upcasts INT32/FLOAT files
  * natively), and any other type change is rejected at commit time with
  * the offending column named. Reads of any version use THAT version's
  * recorded schema, so time travel sees the schema as it was.
  */
class SnapshotTable(spark: SparkSession, root: String,
                    statsCols: Seq[String] = Seq.empty,
                    logStore: Option[SnapshotLogStore] = None,
                    checkpointEvery: Int = 25,
                    // manifest-list thresholds (tests shrink them): fold
                    // the inline file tail into a group file past
                    // `groupInlineFold` entries; merge all groups into one
                    // when a manifest would reference more than
                    // `groupMergeAt` of them
                    groupInlineFold: Int = 128,
                    groupMergeAt: Int = 32,
                    // named-ref scope: Some(branch) roots this handle's
                    // MANIFEST chain under _refs/branch-<name>/ while the
                    // DATA dir stays shared with main — branch commits
                    // write data files next to main's and publish them
                    // only in the branch chain (see the refs section)
                    ref: Option[String] = None) {
  private val mainSnapsDir = new Path(root, "_snapshots")
  private val refsDir = new Path(root, "_refs")
  private val snapsDir =
    ref.fold(mainSnapsDir)(b => new Path(refsDir, s"branch-$b/_snapshots"))
  private val dataDir = new Path(root, "data")
  private val tipHintPath = new Path(snapsDir, "_tip")
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def store: SnapshotLogStore =
    logStore.getOrElse(SnapshotLogStore.forFileSystem(fs))

  /** Metadata-op instrumentation for the bounded-tip-discovery and
    * bounded-history specs: manifest existence probes, full directory
    * listings, and FILE OPENS (manifests + checkpoint chunks). A
    * hint-guided tip lookup does O(commits since hint) probes and ZERO
    * listings; a checkpointed history walk does O(V / checkpointEvery)
    * opens instead of O(V). */
  private[graft] val metaProbes = new java.util.concurrent.atomic.AtomicLong
  private[graft] val metaLists = new java.util.concurrent.atomic.AtomicLong
  private[graft] val metaOpens = new java.util.concurrent.atomic.AtomicLong
  /** File admissions run ([[admitted]] calls): one per planned scan. */
  private[graft] val metaAdmits = new java.util.concurrent.atomic.AtomicLong
  /** Per-file getFileStatus calls on DATA paths (read/DML/stream
    * planning fallbacks + commit-time length recording). On a
    * lens-recording table, planning must keep this at ZERO — each call
    * would be a HEAD request on an object store. */
  private[graft] val dataStats = new java.util.concurrent.atomic.AtomicLong
  private def statOf(p: Path): org.apache.hadoop.fs.FileStatus = {
    dataStats.incrementAndGet()
    fs.getFileStatus(p)
  }

  /** Parsed-manifest memo. Manifests are immutable once published, so
    * entries never invalidate; a vacuumed version may still serve from
    * a live handle's cache (vacuum is GC, not a semantic change). This
    * is what makes the O(retained versions) walks — history, change
    * feeds, the epoch-dedup probe — parse each manifest at most once
    * per handle, and checkpoint chunks pre-fill it N versions per
    * open.
    *
    * BOUNDED: a snapshot's file list grows with the table (each
    * manifest re-lists all live files), so an unbounded memo on a
    * long-lived handle — a writer that has committed V times, a
    * history walk over V versions — holds O(V × files) strings:
    * quadratic driver memory, a measured OOM at 10k commits × 10k
    * files (MetaBench). Overflow clears the map whole (O(1), no LRU
    * bookkeeping on the hot path); bounded walks re-fill from
    * checkpoint chunks at O(checkpointEvery) manifests per miss, so
    * locality — the only thing the memo exists for — is preserved. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Snapshot]()
  private val ManifestCacheCap = 512
  private def cacheManifest(s: Snapshot): Unit = {
    if (manifestCache.size >= ManifestCacheCap) manifestCache.clear()
    manifestCache.putIfAbsent(s.version, s)
    ()
  }

  /** `lens` aligned to an `n`-file list; any misaligned/absent vector
    * reads as all-unknown (-1) — NEVER positionally reinterpreted, a
    * wrong length silently corrupts the parquet footer read. */
  private def alignLens(lens: Seq[Long], n: Int): Seq[Long] =
    if (lens.length == n) lens else Seq.fill(n)(-1L)
  /** Same discipline with an explicit unknown sentinel (delete-band
    * vectors: unknown = the all-overlapping band). */
  private def alignOr(v: Seq[Long], n: Int, unknown: Long): Seq[Long] =
    if (v.length == n) v else Seq.fill(n)(unknown)
  private val UnknownMin = Long.MinValue
  private val UnknownMax = Long.MaxValue
  private val UnknownNulls = -1L

  private def unknownStats(n: Int): ColStats =
    ColStats(Seq.fill(n)(UnknownMin), Seq.fill(n)(UnknownMax), Seq.fill(n)(UnknownNulls),
      Seq.fill(n)(TypedBounds.Absent), Seq.fill(n)(TypedBounds.Absent),
      Seq.fill(n)(""), Seq.fill(n)(""))

  private def emptyStats: Seq[ColStats] = statsCols.map(_ => unknownStats(0))

  /** Typed-bounds vector aligned to an `n`-file list; misaligned/absent
    * reads as all-absent (same discipline as [[alignLens]]). */
  private def alignTyped(t: Seq[String], n: Int): Seq[String] =
    if (t.length == n) t else Seq.fill(n)(TypedBounds.Absent)

  /** Bloom vector aligned to an `n`-file list; misaligned/absent reads
    * as all-absent ("" = no filter = never pruned) — same discipline. */
  private def alignBlooms(b: Seq[String], n: Int): Seq[String] =
    if (b.length == n) b else Seq.fill(n)("")

  private def sliceStats(st: Seq[ColStats], idx: Seq[Int]): Seq[ColStats] =
    st.map { cs =>
      val n = cs.mins.length
      val (tm, tx) = (alignTyped(cs.tmins, n), alignTyped(cs.tmaxs, n))
      val bl = alignBlooms(cs.blooms, n)
      val nd = alignBlooms(cs.ndvs, n)
      ColStats(idx.map(cs.mins), idx.map(cs.maxs), idx.map(cs.nulls),
        idx.map(tm), idx.map(tx), idx.map(bl), idx.map(nd))
    }

  private def concatStats(a: Seq[ColStats], b: Seq[ColStats]): Seq[ColStats] =
    a.zip(b).map { case (x, y) =>
      ColStats(x.mins ++ y.mins, x.maxs ++ y.maxs, x.nulls ++ y.nulls,
        alignTyped(x.tmins, x.mins.length) ++ alignTyped(y.tmins, y.mins.length),
        alignTyped(x.tmaxs, x.mins.length) ++ alignTyped(y.tmaxs, y.mins.length),
        alignBlooms(x.blooms, x.mins.length) ++ alignBlooms(y.blooms, y.mins.length),
        alignBlooms(x.ndvs, x.mins.length) ++ alignBlooms(y.ndvs, y.mins.length)) }

  /** Align a manifest's stats to THIS table's statsCols by column name.
    * A legacy manifest (pre-statsCols) carries ONE unnamed stats block —
    * honored only when this handle ALSO tracks exactly one stats column
    * (the only configuration such a manifest could have been written
    * under). A handle opened with several stats columns cannot know
    * which column the unnamed block described — attributing it to the
    * FIRST would let readRange/readPruned prune files on the wrong
    * column's bands (silently wrong results), so legacy stats read as
    * unknown there: never pruned, always correct. */
  private def fileSetOf(s: Snapshot): FileSet = fileSetOf(s, identity)

  /** [[fileSetOf]] with a name bridge: `manifestNameOf` maps THIS
    * handle's stats-column names to the MANIFEST's (they diverge for
    * exactly one commit during RENAME COLUMN of a stats column — the
    * publishing handle carries the new name, the base manifest the old). */
  private def fileSetOf(s: Snapshot, manifestNameOf: String => String): FileSet = {
    val n = s.files.length
    def aligned(cs: ColStats): ColStats =
      if (cs.mins.length == n && cs.maxs.length == n)
        ColStats(cs.mins, cs.maxs,
          if (cs.nulls.length == n) cs.nulls else Seq.fill(n)(UnknownNulls),
          alignTyped(cs.tmins, n), alignTyped(cs.tmaxs, n),
          alignBlooms(cs.blooms, n), alignBlooms(cs.ndvs, n))
      else unknownStats(n)
    val manifestCols =
      if (s.statsCols.nonEmpty) s.statsCols
      else if (s.stats.nonEmpty && statsCols.length == 1) statsCols
      else Seq.empty
    val byName = manifestCols.zip(s.stats).toMap
    val stats = statsCols.map(c =>
      byName.get(manifestNameOf(c)).map(aligned).getOrElse(unknownStats(n)))
    val seqs = if (s.seqs.length == n) s.seqs else Seq.fill(n)(0L)
    FileSet(s.files, stats, seqs, s.deletes, s.deleteSeqs, s.deleteKey,
      alignLens(s.lens, n), alignLens(s.deleteLens, s.deletes.length),
      alignLens(s.frows, n),
      alignLens(s.drows, s.deletes.length),
      alignOr(s.dmins, s.deletes.length, UnknownMin),
      alignOr(s.dmaxs, s.deletes.length, UnknownMax))
  }

  private def manifestPath(v: Long) = new Path(snapsDir, f"v$v%020d.json")

  private def probeExists(p: Path): Boolean = {
    metaProbes.incrementAndGet()
    fs.exists(p)
  }

  /** Latest committed version, 0 if the table is empty. Hint-guided:
    * O(commits since the hint) existence probes, no directory listing on
    * the hinted path (the `_last_checkpoint`-style tip pointer of the
    * public formats — a 10⁵-commit table's read does not list 10⁵
    * manifests). */
  def latestVersion(): Long = {
    metaProbes.incrementAndGet() // the hint read counts as a probe
    val hint = SnapshotLogStore.readTipHint(fs, tipHintPath)
    if (hint > 0 && probeExists(manifestPath(hint))) {
      var v = hint
      while (probeExists(manifestPath(v + 1))) v += 1
      v
    } else listLatestVersion()
  }

  /** Every retained manifest version in this handle's chain (a branch
    * handle lists its own chain), ascending. One directory listing. */
  private[sources] def chainVersions(): Seq[Long] = {
    if (!fs.exists(snapsDir)) return Seq.empty
    metaLists.incrementAndGet()
    fs.listStatus(snapsDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted.toSeq
  }

  private def listLatestVersion(): Long = {
    metaLists.incrementAndGet()
    if (!fs.exists(snapsDir)) return 0L
    fs.listStatus(snapsDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      .foldLeft(0L)(math.max)
  }

  /** Parse one manifest. Hand-rolled fixed-shape JSON (no library dep);
    * string fields (file names, column names) are validated JSON-safe at
    * WRITE time ([[manifestBody]]), so no escape handling is needed here
    * and a manifest that would need it can never be published.
    *
    * The create-exclusive publish atomically ELECTS the version's
    * writer, but content becomes visible progressively on local/HDFS
    * filesystems — a reader racing the winner's single write()+close()
    * can see a truncated manifest for a few microseconds. Parse failures
    * therefore retry with bounded backoff
    * ([[SnapshotLogStore.readRetrying]]); a manifest that still fails is
    * genuinely corrupt (crash mid-publish) and raises. Missing manifests
    * (vacuumed/never existed) raise immediately. */
  def snapshot(version: Long): Snapshot =
    SnapshotLogStore.readRetrying(
      s"manifest v$version at $root unreadable after retries (partial publish?)") {
      parseSnapshot(version)
    }

  // ---- manifest checkpoints: every `checkpointEvery` commits the
  // publisher archives that window's RAW manifest bodies into ONE chunk
  // file `_snapshots/c<windowEnd>.json` (record-separator-joined), so a
  // history/feed/probe walk over V versions costs O(V/N) file opens
  // instead of O(V). Chunks are best-effort (a failed write changes
  // nothing — correctness always comes from the per-version manifests)
  // and immutable once written; `snapshot(v)` consults cache → chunk →
  // individual manifest, in that order. ----

  private val ChunkSep = "\n\n" // ASCII record separator: never in manifest JSON

  private def chunkPath(end: Long) = new Path(snapsDir, f"c$end%020d.json")

  private def chunkEndFor(v: Long): Long =
    ((v + checkpointEvery - 1) / checkpointEvery) * checkpointEvery.toLong

  private def manifestRawText(v: Long): String = {
    metaOpens.incrementAndGet()
    val in = fs.open(manifestPath(v))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Load the chunk covering `version` (if published) into the cache;
    * true iff the version is now cached. Any failure reads as "no
    * chunk" — the caller falls back to the manifest file. */
  private def tryLoadChunk(version: Long): Boolean =
    try {
      val p = chunkPath(chunkEndFor(version))
      metaProbes.incrementAndGet()
      if (checkpointEvery <= 0 || !fs.exists(p)) false
      else {
        metaOpens.incrementAndGet()
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        txt.split(ChunkSep).filter(_.trim.nonEmpty).foreach { body =>
          val s = resolveGroups(parseManifestText(body))
          cacheManifest(s)
        }
        manifestCache.containsKey(version)
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Best-effort chunk publish at a window boundary. Racing committers
    * compute identical content, so the create-exclusive collision is
    * benign; any other failure is swallowed — the chunk is an
    * optimization, never a correctness point.
    *
    * Alongside the raw-body chunk, a SCALAR SIDECAR (`h<end>.json`, one
    * compact line per version) carries just what [[history]] exposes.
    * Chunk texts re-list every file of every manifest, so a history
    * walk that reads them costs O(V²) bytes over V versions (a
    * measured 16–20 s at 10k commits, all in chunk I/O + regex over
    * ~600 KB texts); the sidecars total O(V) bytes — the walk reads
    * ~100 bytes per version instead of a manifest. */
  private def maybeCheckpoint(v: Long): Unit =
    if (checkpointEvery > 0 && v % checkpointEvery == 0)
      try {
        val bodies = ((v - checkpointEvery + 1) to v).map(manifestRawText)
        store.writeExclusive(fs, chunkPath(v),
          bodies.mkString(ChunkSep).getBytes("UTF-8"))
        val lines = bodies.map(b => summaryLine(parseSummaryText(b)))
        store.writeExclusive(fs, summaryPath(v),
          lines.mkString("\n").getBytes("UTF-8"))
      } catch { case scala.util.control.NonFatal(_) => () }

  private def summaryPath(end: Long) = new Path(snapsDir, f"h$end%020d.json")

  /** One scalar line of [[parseSummaryText]]'s fields — re-parseable by
    * it (same keys, no arrays). `txnApp` was jsonSafe-validated when
    * the manifest published. */
  private def summaryLine(s: Snapshot): String =
    s"""{"version":${s.version},"action":"${s.action}",""" +
      s""""baseVersion":${s.baseVersion},"ts":${s.ts},"rows":${s.rows},""" +
      s""""batchId":${s.batchId}""" +
      (if (s.txnApp.isEmpty) "" else s""","txnApp":"${s.txnApp}"""") +
      s""","dataChange":${s.dataChange}}"""

  /** Scalar summaries of a checkpoint window from its sidecar, keyed by
    * version — empty when absent/torn (callers fall back to the chunk,
    * then the per-version manifest). */
  private def summaryBodies(end: Long): Map[Long, Snapshot] =
    try {
      val p = summaryPath(end)
      metaProbes.incrementAndGet()
      if (checkpointEvery <= 0 || !fs.exists(p)) Map.empty
      else {
        metaOpens.incrementAndGet()
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        txt.split('\n').filter(_.trim.nonEmpty).map { line =>
          val s = parseSummaryText(line)
          s.version -> s
        }.toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  private def parseSnapshot(version: Long): Snapshot = {
    val cached = manifestCache.get(version)
    if (cached != null) return cached
    if (tryLoadChunk(version)) return manifestCache.get(version)
    val s = resolveGroups(parseManifestText(manifestRawText(version)))
    cacheManifest(s)
    s
  }

  // ----- manifest-list groups ---------------------------------------
  // A GROUP FILE is an immutable slice of a manifest's data-file list
  // (files + seqs + lens + per-column stats), written once and
  // referenced by name from every later manifest that still lists those
  // files — so an append's manifest is O(refs + delta), not O(table),
  // and total metadata over V versions stops being O(V²). Groups are
  // resolved EAGERLY at parse (a Snapshot always carries the full
  // lists), so every consumer of Snapshot stays untouched; the
  // immutable per-handle cache makes a history walk read each group
  // once, not once per version.

  private case class GroupData(files: Seq[String], seqs: Seq[Long],
                               lens: Seq[Long], statsCols: Seq[String],
                               stats: Seq[ColStats],
                               frows: Seq[Long] = Seq.empty)

  private val groupCache =
    new java.util.concurrent.ConcurrentHashMap[String, GroupData]()
  private val GroupCacheCap = 256

  private def groupPath(ref: String) = new Path(snapsDir, ref)

  private def loadGroup(ref: String): GroupData = {
    val cached = groupCache.get(ref)
    if (cached != null) return cached
    metaOpens.incrementAndGet()
    val in = fs.open(groupPath(ref))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    val g = parseGroupText(txt, ref)
    if (groupCache.size >= GroupCacheCap) groupCache.clear()
    groupCache.putIfAbsent(ref, g)
    g
  }

  private def parseGroupText(txt: String, ref: String): GroupData = {
    def longArray(k: String): Seq[Long] =
      s""""$k"\\s*:\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq)
        .getOrElse(Seq.empty)
    def strArray(k: String): Seq[String] =
      s""""$k"\\s*:\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
    val files = strArray("files")
    require(files.nonEmpty, s"group file $ref at $root lists no files — corrupt")
    val cols = strArray("statsCols")
    val stats = cols.indices.map { i =>
      val sfx = if (i == 0) "" else i.toString
      ColStats(longArray(s"mins$sfx"), longArray(s"maxs$sfx"), longArray(s"nulls$sfx"),
        typedArray(txt, s"tmins$sfx"), typedArray(txt, s"tmaxs$sfx"),
        typedArray(txt, s"blooms$sfx"), typedArray(txt, s"ndvs$sfx"))
    }
    GroupData(files, longArray("seqs"), longArray("lens"), cols, stats,
      longArray("frows"))
  }

  /** Materialize a parsed manifest's group references into its file
    * lists (identity when it has none). Group stats re-align to the
    * MANIFEST's stats columns by name — a group written under other
    * names (e.g. before a statsCols change) reads as unknown for the
    * missing columns: never pruned, conservatively correct. */
  private def resolveGroups(s: Snapshot): Snapshot = {
    if (s.groupRefs.isEmpty) return s
    val gs = s.groupRefs.map(loadGroup)
    val gFiles = gs.flatMap(_.files)
    def fill(parts: Seq[Seq[Long]], ns: Seq[Int], absent: Long): Seq[Long] =
      parts.zip(ns).flatMap { case (p, n) =>
        if (p.length == n) p else Seq.fill(n)(absent) }
    val ns = gs.map(_.files.length)
    val gSeqs = fill(gs.map(_.seqs), ns, 0L)
    val gLens = fill(gs.map(_.lens), ns, -1L)
    val gFrows = fill(gs.map(_.frows), ns, -1L)
    val gStats: Seq[ColStats] = s.statsCols.map { c =>
      val per = gs.map { g =>
        val i = g.statsCols.indexOf(c)
        if (i >= 0 && i < g.stats.length &&
            g.stats(i).mins.length == g.files.length)
          g.stats(i)
        else unknownStats(g.files.length)
      }
      ColStats(per.flatMap(_.mins), per.flatMap(_.maxs), per.flatMap(_.nulls),
        per.flatMap(cs => alignTyped(cs.tmins, cs.mins.length)),
        per.flatMap(cs => alignTyped(cs.tmaxs, cs.mins.length)),
        per.flatMap(cs => alignBlooms(cs.blooms, cs.mins.length)),
        per.flatMap(cs => alignBlooms(cs.ndvs, cs.mins.length)))
    }
    // inline arrays may be empty when the inline tail is empty; align
    // each to the inline file count before concatenation
    val inlineN = s.files.length
    def inlineLongs(v: Seq[Long], absent: Long): Seq[Long] =
      if (v.length == inlineN) v else Seq.fill(inlineN)(absent)
    val inlineStats: Seq[ColStats] = s.statsCols.indices.map { i =>
      if (i < s.stats.length && s.stats(i).mins.length == inlineN) s.stats(i)
      else unknownStats(inlineN)
    }
    s.copy(
      files = gFiles ++ s.files,
      seqs = gSeqs ++ inlineLongs(s.seqs, 0L),
      lens = gLens ++ inlineLongs(s.lens, -1L),
      frows = gFrows ++ inlineLongs(s.frows, -1L),
      stats = s.statsCols.indices.map(i =>
        ColStats(gStats(i).mins ++ inlineStats(i).mins,
          gStats(i).maxs ++ inlineStats(i).maxs,
          gStats(i).nulls ++ inlineStats(i).nulls,
          alignTyped(gStats(i).tmins, gStats(i).mins.length) ++
            alignTyped(inlineStats(i).tmins, inlineStats(i).mins.length),
          alignTyped(gStats(i).tmaxs, gStats(i).mins.length) ++
            alignTyped(inlineStats(i).tmaxs, inlineStats(i).mins.length),
          alignBlooms(gStats(i).blooms, gStats(i).mins.length) ++
            alignBlooms(inlineStats(i).blooms, inlineStats(i).mins.length),
          alignBlooms(gStats(i).ndvs, gStats(i).mins.length) ++
            alignBlooms(inlineStats(i).ndvs, inlineStats(i).mins.length))),
      groupedCount = gFiles.length)
  }

  /** Write one immutable group file holding `slice` (already
    * length-ensured) and return its manifest-relative name. */
  private def writeGroup(v: Long, slice: FileSet): String = {
    val ref = f"g$v%020d-${java.util.UUID.randomUUID().toString.take(8)}.json"
    val statsPart =
      if (statsCols.isEmpty) ""
      else {
        s""","statsCols":[${statsCols.map(c =>
          s""""${jsonSafe(c, "stats column")}"""").mkString(",")}]""" +
          slice.stats.zipWithIndex.map { case (cs, i) =>
            val sfx = if (i == 0) "" else i.toString
            s""","mins$sfx":[${cs.mins.mkString(",")}]""" +
              s""","maxs$sfx":[${cs.maxs.mkString(",")}]""" +
              s""","nulls$sfx":[${cs.nulls.mkString(",")}]""" +
              typedBoundsPart(cs, sfx) + bloomsPart(cs, sfx) + ndvsPart(cs, sfx)
          }.mkString
      }
    val body =
      s"""{"files":[${slice.files.map(f =>
        s""""${jsonSafe(f, "data file")}"""").mkString(",")}],
         |"seqs":[${slice.seqs.mkString(",")}],
         |"lens":[${slice.lens.mkString(",")}],
         |"frows":[${alignLens(slice.frows, slice.files.length).mkString(",")}]$statsPart}""".stripMargin
    fs.mkdirs(snapsDir)
    store.writeExclusive(fs, groupPath(ref), body.getBytes("UTF-8"))
    ref
  }

  /** Choose the manifest-list encoding for a commit: (group refs,
    * grouped prefix length, inline slice). An append whose prefix is
    * byte-identical to the base's grouped prefix (same stats columns)
    * re-references the base's groups and inlines only the delta; the
    * inline tail folds into a fresh group past `groupInlineFold`; the
    * refs merge into ONE group past `groupMergeAt` (bounding the read
    * fan-out); everything else — rewrites, deletes, overwrites, small
    * tables — re-encodes, inline when under the fold. Commit metadata
    * is therefore O(delta) amortized with an O(files) merge every
    * `groupMergeAt · groupInlineFold` files of churn, and manifests
    * stay O(refs + fold) bytes regardless of table size. */
  private def encodeGroups(base: Option[Snapshot], fls: FileSet)
      : (Seq[String], Int, FileSet) = {
    val n = fls.files.length
    val v = base.map(_.version + 1).getOrElse(1L)
    val reuse = base.filter(b => b.groupedCount > 0 &&
      b.statsCols == statsCols &&
      n >= b.groupedCount &&
      fls.files.take(b.groupedCount) == b.files.take(b.groupedCount))
    val (refs, gcount) = reuse match {
      case Some(b) => (b.groupRefs, b.groupedCount)
      case None => (Seq.empty[String], 0)
    }
    def slice(from: Int) = keeping(fls, from until n)
    if (refs.length >= groupMergeAt)
      (Seq(writeGroup(v, slice(0))), n, slice(n))
    else if (n - gcount >= groupInlineFold) {
      if (gcount == 0) (Seq(writeGroup(v, slice(0))), n, slice(n))
      else (refs :+ writeGroup(v, slice(gcount)), n, slice(n))
    } else (refs, gcount, slice(gcount))
  }

  private def parseManifestText(txt: String): Snapshot = {
    val version = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error("manifest: missing version")).group(1).toLong
    def longField(k: String): Long =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(sys.error(s"manifest v$version: missing $k")).group(1).toLong
    def strField(k: String): String =
      s""""$k"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(txt)
        .getOrElse(sys.error(s"manifest v$version: missing $k")).group(1)
    def strFieldOpt(k: String): Option[String] =
      s""""$k"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1))
    val files = """"files"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error(s"manifest v$version: missing files")).group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    val batchId = """"batchId"\s*:\s*(-?\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong).getOrElse(-1L)
    def longArray(k: String): Seq[Long] =
      s""""$k"\\s*:\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq)
        .getOrElse(Seq.empty)
    val dataChange = """"dataChange"\s*:\s*(true|false)""".r.findFirstMatchIn(txt)
      .forall(_.group(1) == "true")
    def strArray(k: String): Seq[String] =
      s""""$k"\\s*:\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(txt)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
    val ts = """"ts"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong).getOrElse(0L)
    val manifestStatsCols = strArray("statsCols")
    val stats: Seq[ColStats] =
      if (manifestStatsCols.nonEmpty)
        manifestStatsCols.indices.map { i =>
          val sfx = if (i == 0) "" else i.toString
          ColStats(longArray(s"mins$sfx"), longArray(s"maxs$sfx"), longArray(s"nulls$sfx"),
            typedArray(txt, s"tmins$sfx"), typedArray(txt, s"tmaxs$sfx"),
            typedArray(txt, s"blooms$sfx"), typedArray(txt, s"ndvs$sfx"))
        }
      else {
        // pre-statsCols manifests: a single unnamed stats block
        val mn = longArray("mins")
        if (mn.isEmpty) Seq.empty
        else Seq(ColStats(mn, longArray("maxs"), longArray("nulls")))
      }
    val schemaJson = strFieldOpt("schemaB64").map(b64 =>
      new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"))
    val bandsV = """"bandsV"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(1)
    Snapshot(longField("version"), strField("action"), longField("baseVersion"),
      longField("rows"), files, batchId, strFieldOpt("txnApp").getOrElse(""),
      manifestStatsCols, stats,
      dataChange, longArray("seqs"), strArray("deletes"),
      longArray("deleteSeqs"), strArray("deleteKey"), ts, schemaJson,
      longArray("lens"), longArray("deleteLens"),
      groupRefs = strArray("groups"), bandsV = bandsV,
      frows = longArray("frows"), drows = longArray("drows"),
      dmins = longArray("dmins"), dmaxs = longArray("dmaxs"))
  }

  private def parseSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** Top-level nullability normalized to TRUE before recording: parquet
    * round-trips file columns as nullable anyway, and evolution merges
    * (null-filled added columns, unioned commits) can only weaken
    * nullability — recording it as already-weak keeps the evolved-schema
    * chain stable instead of flapping per commit. */
  private def normalizeSchema(s: StructType): StructType =
    StructType(s.fields.map(f => StructField(f.name, f.dataType, nullable = true,
      metadata = f.metadata)))

  /** Widening lattice the parquet reader upcasts natively (verified on
    * Spark 4.1: INT32 files read as LONG, FLOAT files as DOUBLE when the
    * requested schema says so). Deliberately small — anything not listed
    * is an incompatible change and is rejected at commit time. */
  private def widen(a: DataType, b: DataType): Option[DataType] = {
    import org.apache.spark.sql.types._
    // integral rank: every narrower integral widens to the widest seen.
    // Sound end-to-end: parquet stores byte/short/int as INT32 (long as
    // INT64) and Spark's readers upcast a narrower physical type under a
    // wider read schema, while the stats band key for EVERY integral is
    // its long value — so bands, blooms and metadata-delete semantics
    // are unchanged by widening.
    def rank(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4; case _ => 0
    }
    if (a == b) Some(a)
    else if (rank(a) > 0 && rank(b) > 0) Some(if (rank(a) >= rank(b)) a else b)
    else (a, b) match {
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case _ => None
    }
  }

  /** Commit-time schema evolution: merge the batch schema into the
    * table's. Additive columns append; common columns must be identical
    * or widenable (int↔long → long, float↔double → double — reads pin
    * the wider type and the parquet reader upcasts the narrower files);
    * anything else raises with the column named. Name matching is exact
    * (case-sensitive) — the manifest records what was written. Merged
    * fields keep the TABLE's metadata (the column-mapping physical name
    * must survive every append); implicitly-added columns may not claim
    * a tombstoned physical name (a dropped/renamed-away column's files
    * still carry it — silent resurrection) — explicit ALTER TABLE ADD
    * COLUMN assigns those a fresh physical name instead. */
  private[sources] def evolveSchema(tip: Option[StructType], batch: StructType): StructType = {
    val b = normalizeSchema(batch)
    tip match {
      case None => b
      case Some(t0) =>
        val t = normalizeSchema(t0)
        val byName = b.fields.map(f => f.name -> f).toMap
        val merged = t.fields.map { tf =>
          byName.get(tf.name) match {
            case None => tf // dropped from the batch: old files keep it, batch files null-fill
            case Some(bf) =>
              val w = widen(tf.dataType, bf.dataType).getOrElse(
                throw new IllegalArgumentException(
                  s"incompatible schema change on column '${tf.name}' at $root: " +
                    s"table has ${tf.dataType.simpleString}, batch has " +
                    s"${bf.dataType.simpleString} (allowed: identical, integral " +
                    "widening, float<->double; cast the batch explicitly or " +
                    "commitOverwrite)"))
              StructField(tf.name, w, nullable = true, metadata = tf.metadata)
          }
        }
        val added = b.fields.filterNot(f => t.fieldNames.contains(f.name))
        if (added.nonEmpty) {
          // one small props read, only when the schema actually grows.
          // The name must collide with NO physical name already in use:
          // tombstones (a DROP leaves no mapping — the tombstone set is
          // the only record that the name's files still exist) AND the
          // live fields' physical names (a batch column named like a
          // renamed-away field's physical name, or like an ADD COLUMN's
          // version-stamped '__vN' name, would make two logical fields
          // share one physical column — physicalSchema() would carry
          // duplicate names and reads would misbind)
          val physTaken = ColumnMapping.parseTombstones(tableProperties) ++
            t.fields.map(ColumnMapping.physicalName)
          added.foreach(f => require(!physTaken.contains(f.name),
            s"column name '${f.name}' at $root collides with a physical " +
              "column name in use (retired by RENAME/DROP, or another " +
              "field's physical name) — use ALTER TABLE ADD COLUMN, " +
              "which assigns a fresh physical name"))
        }
        StructType(merged ++ added)
    }
  }

  private def tipSchemaOf(base: Long): Option[StructType] =
    if (base == 0) None else snapshot(base).schemaJson.map(parseSchema)

  private def schemaOfOpt(version: Long): Option[StructType] =
    snapshot(version).schemaJson.map(parseSchema)

  /** The tip's logical→physical column mapping (empty when unmapped) —
    * what every write path renames through so data files always carry
    * physical names. */
  private[sources] def tipLogicalToPhysical: Map[String, String] =
    tipSchemaOf(latestVersion()).map(ColumnMapping.mappingOf).getOrElse(Map.empty)

  /** Plan the data files at indices `keep` of `s` with MOR deletes
    * applied. Data files group by their applicable-delete set — a delete
    * applies iff its sequence is STRICTLY GREATER than the file's, and
    * since applicable sets are suffixes of the sorted delete sequences,
    * the group key is just the count of applicable deletes. Each group
    * anti-joins the union of its delete-key files; group count is bounded
    * by the delete commits since the last compaction (which absorbs
    * them), so the plan stays small on a maintained table. Delete-key
    * files are commit-sized parquet — the anti-join's build side
    * auto-broadcasts off file-size stats.
    *
    * When the manifest records a schema, every data-file read PINS it:
    * no footer reads at planning time, deterministic column set across
    * mixed-schema groups (old files widen / null-fill added columns in
    * the parquet reader), and the version reads with ITS schema under
    * time travel. Manifests without a recorded schema (pre-evolution)
    * keep the footer-inferred path. */
  private def morPlan(s: Snapshot, keep: Seq[Int], mergeSchema: Boolean): DataFrame = {
    val pinned = s.schemaJson.map(parseSchema)
    val all = fileSetOf(s)
    def rdData(idxs: Seq[Int], merge: Boolean): DataFrame = pinned match {
      case Some(sch) =>
        // manifest-planned: the file list AND statuses come from this
        // handle (manifest-recorded lengths; getFileStatus only for
        // files a pre-lens manifest lists), the schema from the
        // manifest — `spark.read.parquet` would re-list every path
        // through an InMemoryFileIndex per query (a measured 16.8 s at
        // 10k files; a LIST storm on object stores). Column-mapped
        // schemas (RENAME/DROP COLUMN) read files by PHYSICAL name and
        // project back to logical — identity (zero plan nodes) when the
        // version carries no mapping.
        ColumnMapping.toLogical(
          bridge.manifestParquetFrame(spark,
            idxs.map(i => statusOf(all.files(i), all.lens(i))),
            ColumnMapping.physicalSchema(sch)),
          sch)
      case None =>
        val r = if (merge) spark.read.option("mergeSchema", "true") else spark.read
        r.parquet(idxs.map(i => new Path(dataDir, all.files(i)).toString): _*)
    }
    // delete-key files carry the KEY schema, never the table schema
    def rdKeys(names: Seq[String]): DataFrame =
      spark.read.parquet(names.map(f => new Path(dataDir, f).toString): _*)
    if (all.deletes.isEmpty) rdData(keep, merge = mergeSchema)
    else keep.groupBy(i => all.deleteSeqs.count(_ > all.seqs(i)))
      .toSeq.sortBy(_._1) // deterministic group (and thus column) order
      .map { case (nAppl, idxs) =>
        // without a pinned schema, groups with applicable deletes read
        // footer-merged: a plain read of a mixed-schema group infers the
        // schema from an ARBITRARY footer, so whether the delete-key
        // column is visible — and thus whether the anti-join applies —
        // would be nondeterministic
        val df = rdData(idxs, merge = nAppl > 0)
        // NULL equality keys match nothing, so groups where NO file has
        // the key column (it postdates them all) legitimately skip
        if (nAppl == 0 || !all.deleteKey.forall(df.columns.contains)) df
        else {
          val appl = all.deletes.indices
            .filter(j => all.deleteSeqs(j) > all.seqs(idxs.head)).map(all.deletes)
          import org.apache.spark.sql.functions.col
          df.join(rdKeys(appl).select(all.deleteKey.map(col): _*).distinct(),
            all.deleteKey, "left_anti")
        }
      // groups may straddle an evolved-schema boundary even on a plain
      // read — missing columns null-fill, parquet's own semantics
      }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Read the table at `version` (default: latest). Planning comes from
    * the manifest's explicit file list — never a directory listing. Any
    * merge-on-read deletes in the manifest are applied here, so readers
    * always see DELETE results without the table having been rewritten. */
  def read(version: Long = -1L): DataFrame = {
    val v = if (version < 0) latestVersion() else version
    require(v > 0, s"no committed snapshot to read at $root")
    val snap = snapshot(v)
    require(snap.files.nonEmpty,
      s"manifest v$v at $root lists no files — corrupt manifest " +
        "(writeDataFiles guarantees at least one schema-bearing file)")
    morPlan(snap, snap.files.indices, mergeSchema = false)
  }

  /** `TIMESTAMP AS OF`: the latest retained version whose commit
    * timestamp is <= `tsMillis`. Writer clocks can skew, so the
    * effective timestamp is monotonically adjusted (running max over
    * the chain — the public formats' same normalization): a version
    * never reads as older than its predecessor. Raises if every
    * retained version is newer than the asked time (history before the
    * vacuum horizon is gone — time-travel there is unanswerable). */
  def versionAsOf(tsMillis: Long): Long = {
    val h = history()
    require(h.nonEmpty, s"no committed snapshot at $root")
    var running = Long.MinValue
    val eligible = h.flatMap { s =>
      running = math.max(running, s.ts)
      if (running <= tsMillis) Some(s.version) else None
    }
    require(eligible.nonEmpty,
      s"no retained version at $root as of ts=$tsMillis " +
        s"(earliest retained commit ts=${h.head.ts})")
    eligible.max
  }

  /** Read the table as of a wall-clock time ([[versionAsOf]] + [[read]]). */
  def readAsOf(tsMillis: Long): DataFrame = read(versionAsOf(tsMillis))

  /** Schema-evolution read of `version`. With a manifest-recorded schema
    * this IS [[read]] (the pinned schema already unions every commit's
    * columns); kept for manifests that predate schema recording, where
    * parquet footer merging unions the column sets of every listed file
    * at the cost of reading every footer at planning time. */
  def readEvolved(version: Long = -1L): DataFrame = {
    val v = if (version < 0) latestVersion() else version
    require(v > 0, s"no committed snapshot to read at $root")
    val snap = snapshot(v)
    morPlan(snap, snap.files.indices, mergeSchema = true)
  }

  /** Write the batch's data files under a fresh commit dir and return
    * them as a [[FileSet]] (manifest-relative names, lengths, row counts
    * and every per-file stat the manifest records) plus the exact row
    * count. One Spark job: [[SnapshotParquetWriter]] folds the stats
    * while it writes ([[SnapshotWrite.writeFiles]]), over `df`'s own
    * partitioning. */
  private def writeDataFiles(df: DataFrame): (FileSet, Long) =
    writeDataFiles(df, tableBandsV)

  /** [[writeDataFiles]] folding band keys under an EXPLICIT semantics
    * version — only [[compact]]'s legacy-upgrade path passes anything
    * but the table's own version (a full rewrite recomputes every
    * file's stats, so it may re-key them all consistently). */
  private def writeDataFiles(df: DataFrame, bandsV: Int): (FileSet, Long) = {
    val commitId = java.util.UUID.randomUUID().toString
    // files are written nullable, as df.write.parquet writes them; rows
    // are positional, so the factory's physical names need no projection
    val factory = writerFactory(bridge.asNullable(df.schema), commitId, bandsV = bandsV)
    val written = SnapshotWrite.committedFiles(spark, factory,
      SnapshotWrite.writeFiles(df, factory))
    // the commit-dir listing is the length source: manifests record each
    // file's byte length so reads never re-stat them
    val lens = fs.listStatus(new Path(dataDir, commitId))
      .map(st => st.getPath.getName -> st.getLen).toMap
    (FileSet(written.map(m => s"$commitId/${m.file}"),
      SnapshotWrite.colStats(written, statsCols.length),
      lens = written.map(m => lens(m.file)),
      frows = written.map(_.rows)), written.map(_.rows).sum)
  }

  /** Typed-bounds arrays for one stats column's manifest/group block —
    * emitted only when some file actually records a bound (base64 is
    * JSON-safe by construction; an all-Absent column costs zero bytes,
    * so non-string tables' manifests are unchanged). */
  private def typedBoundsPart(cs: ColStats, sfx: String): String = {
    val n = cs.mins.length
    val (tm, tx) = (alignTyped(cs.tmins, n), alignTyped(cs.tmaxs, n))
    if (tm.forall(_ == TypedBounds.Absent) && tx.forall(_ == TypedBounds.Absent)) ""
    else s""","tmins$sfx":[${tm.map(t => s""""$t"""").mkString(",")}]""" +
      s""","tmaxs$sfx":[${tx.map(t => s""""$t"""").mkString(",")}]"""
  }

  /** Bloom array for one stats column's manifest/group block — emitted
    * only when some file actually carries a filter (base64 is JSON-safe
    * by construction; a bloom-less column costs zero bytes). */
  private def bloomsPart(cs: ColStats, sfx: String): String = {
    val bl = alignBlooms(cs.blooms, cs.mins.length)
    if (bl.forall(_.isEmpty)) ""
    else s""","blooms$sfx":[${bl.map(b => s""""$b"""").mkString(",")}]"""
  }

  /** NDV-sketch array for one stats column's manifest/group block — same
    * emission rule as blooms (absent sketches cost zero bytes). */
  private def ndvsPart(cs: ColStats, sfx: String): String = {
    val nd = alignBlooms(cs.ndvs, cs.mins.length)
    if (nd.forall(_.isEmpty)) ""
    else s""","ndvs$sfx":[${nd.map(b => s""""$b"""").mkString(",")}]"""
  }

  /** Parse one typed-bounds array, preserving EMPTY entries (base64 of
    * the empty string is "") — the plain strArray filters them out,
    * which would misalign the vector. */
  private def typedArray(txt: String, k: String): Seq[String] =
    s""""$k"\\s*:\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(txt)
      .map { m =>
        val body = m.group(1).trim
        if (body.isEmpty) Seq.empty[String]
        else body.split(",", -1).toSeq
          .map(_.trim.stripPrefix("\"").stripSuffix("\""))
      }
      .getOrElse(Seq.empty)

  private def jsonSafe(name: String, kind: String): String = {
    require(!name.exists(ch => ch == '"' || ch == '\\' || ch == '\n' || ch == '\r'),
      s"$kind '$name' contains JSON-breaking characters " +
        "(quote/backslash/newline) — the manifest format stores it verbatim")
    name
  }

  private def manifestBody(v: Long, action: String, base: Long, rowCount: Long,
                           fls: FileSet, schemaJson: Option[String],
                           batchId: Long, dataChange: Boolean,
                           txnApp: String = "",
                           groupRefs: Seq[String] = Seq.empty,
                           bandsV: Int = BandKeys.CurrentBandsV): String = {
    val groupsPart =
      if (groupRefs.isEmpty) ""
      else s""","groups":[${groupRefs.map(r =>
        s""""${jsonSafe(r, "group ref")}"""").mkString(",")}]"""
    val statsPart =
      if (statsCols.isEmpty) ""
      else {
        val colsPart = s""","statsCols":[${statsCols.map(c =>
          s""""${jsonSafe(c, "stats column")}"""").mkString(",")}]"""
        colsPart + fls.stats.zipWithIndex.map { case (cs, i) =>
          val sfx = if (i == 0) "" else i.toString
          s""","mins$sfx":[${cs.mins.mkString(",")}]""" +
            s""","maxs$sfx":[${cs.maxs.mkString(",")}]""" +
            s""","nulls$sfx":[${cs.nulls.mkString(",")}]""" +
            typedBoundsPart(cs, sfx) + bloomsPart(cs, sfx) + ndvsPart(cs, sfx)
        }.mkString
      }
    val schemaPart = schemaJson.fold("")(j =>
      s""","schemaB64":"${java.util.Base64.getEncoder.encodeToString(j.getBytes("UTF-8"))}"""")
    val seqsPart =
      if (fls.seqs.isEmpty) "" else s""","seqs":[${fls.seqs.mkString(",")}]"""
    val lensPart =
      if (fls.lens.length != fls.files.length || fls.files.isEmpty) ""
      else s""","lens":[${fls.lens.mkString(",")}]"""
    val frowsPart =
      if (fls.frows.length != fls.files.length || fls.files.isEmpty) ""
      else s""","frows":[${fls.frows.mkString(",")}]"""
    val delPart =
      if (fls.deletes.isEmpty) ""
      else s""","deletes":[${fls.deletes.map(f =>
          s""""${jsonSafe(f, "delete file")}"""").mkString(",")}]""" +
        s""","deleteSeqs":[${fls.deleteSeqs.mkString(",")}]""" +
        s""","deleteKey":[${fls.deleteKey.map(c =>
          s""""${jsonSafe(c, "delete-key column")}"""").mkString(",")}]""" +
        (if (fls.deleteLens.length != fls.deletes.length) ""
         else s""","deleteLens":[${fls.deleteLens.mkString(",")}]""") +
        (if (fls.drows.length != fls.deletes.length) ""
         else s""","drows":[${fls.drows.mkString(",")}]""") +
        (if (fls.dmins.length != fls.deletes.length ||
             fls.dmaxs.length != fls.deletes.length) ""
         else s""","dmins":[${fls.dmins.mkString(",")}]""" +
           s""","dmaxs":[${fls.dmaxs.mkString(",")}]""")
    val txnPart =
      if (txnApp.isEmpty) ""
      else s""","txnApp":"${jsonSafe(txnApp, "txn app id")}""""
    s"""{"version":$v,"action":"$action","baseVersion":$base,
       |"ts":${System.currentTimeMillis()},"bandsV":$bandsV,
       |"rows":$rowCount,"batchId":$batchId$txnPart,"dataChange":$dataChange$schemaPart$statsPart$seqsPart$lensPart$frowsPart$delPart$groupsPart,
       |"files":[${fls.files.map(f => s""""${jsonSafe(f, "data file")}"""").mkString(",")}]}""".stripMargin
  }

  /** Every file length known before a manifest publishes: carried-forward
    * files bring lens from the base manifest, fresh writer files bring
    * theirs from [[writeDataFiles]]'s listing, and only entries still
    * unknown (-1 — e.g. files a DSv2 executor wrote, or every file on
    * the first commit over a pre-lens table) pay one getFileStatus.
    * Commit cost is O(new files), not O(table). */
  private def ensureLens(fls: FileSet): FileSet = {
    def fill(files: Seq[String], lens: Seq[Long]): Seq[Long] = {
      val al = alignLens(lens, files.length)
      if (al.forall(_ >= 0L)) al
      else files.zip(al).map { case (f, l) =>
        if (l >= 0L) l else statOf(new Path(dataDir, f)).getLen }
    }
    fls.copy(lens = fill(fls.files, fls.lens),
      deleteLens = fill(fls.deletes, fls.deleteLens))
  }

  /** FileStatus for a manifest-relative data file: from the recorded
    * length when known (no filesystem call — the manifest IS the
    * listing), else one getFileStatus. Immutable files make a zero
    * modification time safe: nothing caches or invalidates on it here,
    * and split planning uses only the length. */
  private def statusOf(rel: String, len: Long): org.apache.hadoop.fs.FileStatus = {
    val p = fs.makeQualified(new Path(dataDir, rel))
    if (len >= 0L)
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 134217728L, 0L, p)
    else statOf(p)
  }

  /** This table's band-semantics version (see [[BandKeys]]): fixed by
    * the first manifest, [[BandKeys.CurrentBandsV]] for a table about to
    * be created. Every stats producer (writeDataFiles, the DSv2 writer
    * factories, bandKeyCol) and consumer (filter bands, metadata
    * deletes, manifest MIN/MAX) keys off this one value. */
  private[graft] def tableBandsV: Int = {
    val tip = latestVersion()
    if (tip == 0) BandKeys.CurrentBandsV else snapshot(tip).bandsV
  }

  private def inheritedBandsV(baseSnap: Option[Snapshot]): Int =
    baseSnap.map(_.bandsV).getOrElse(BandKeys.CurrentBandsV)

  /** Drop the group files an ATTEMPT wrote that its (collided, never
    * published) manifest alone referenced — without this, every lost
    * publish race strands an orphan group file that only an explicit
    * vacuum would ever reclaim. Groups reused from the base are shared
    * with live manifests and must survive. */
  private def dropAttemptGroups(refs: Seq[String], baseSnap: Option[Snapshot]): Unit = {
    val shared = baseSnap.map(_.groupRefs.toSet).getOrElse(Set.empty)
    refs.filterNot(shared.contains).foreach { ref =>
      try fs.delete(groupPath(ref), false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Delete the commit directories (`data/<uuid>`) holding `files` —
    * files no published manifest references. */
  private def dropCommitDirs(files: Seq[String]): Unit =
    files.map(_.split('/').head).distinct.foreach(uuid =>
      fs.delete(new Path(dataDir, uuid), true))

  /** Every commit of this table runs through here:
    * [[SnapshotLogStore.commitLoop]] on this table's tip, named `op` in
    * its give-up. `preWritten` are files the commit wrote once, before
    * its loop, for every attempt to reuse: a give-up drops their commit
    * dirs, since no manifest references them. */
  private def commitLoop[A](op: String, first: Option[Long] = None,
                            preWritten: Seq[String] = Seq.empty)
                           (attempt: Long => Option[A]): A =
    SnapshotLogStore.commitLoop(s"$op at $root", () => latestVersion(), first,
      () => dropCommitDirs(preWritten))(attempt)

  /** Publish at the next version, deriving the content from each
    * attempt's base — [[commitLoop]] around [[publishAtBase]], for
    * commits whose content is a pure function of the tip (appends,
    * overwrites, schema changes, rollbacks, branch merges): a lost race
    * re-derives manifest-only on the new tip. Non-collision failures
    * propagate immediately; a give-up after 50 collisions carries the
    * last one as its cause. Returns the committed version. */
  private def publish(action: String, files: Long => FileSet,
                      rows: Long => Long,
                      schemaJson: Long => Option[String],
                      batchId: Long = -1L,
                      dataChange: Boolean = true,
                      txnApp: String = "",
                      preWritten: Seq[String] = Seq.empty): Long =
    commitLoop(action, preWritten = preWritten) { base =>
      publishAtBase(base, action, files(base), rows(base), schemaJson(base),
        dataChange, batchId = batchId, txnApp = txnApp)
    }

  /** Tip's content plus the batch's new files (stamped with the
    * candidate version `base + 1` as their commit sequence). Existing
    * MOR deletes carry forward unchanged — they apply only to files with
    * smaller sequences, so the fresh files are untouched by them. */
  private def appendedFileSet(base: Long, nw: FileSet): FileSet =
    spliced(if (base == 0) FileSet(Seq.empty, emptyStats)
            else fileSetOf(snapshot(base)), nw, base + 1)

  /** `fls` with only the data files at `keep` (stats, sequences, lengths
    * and row counts sliced alongside); MOR deletes carry unchanged. */
  private def keeping(fls: FileSet, keep: Seq[Int]): FileSet = {
    val n = fls.files.length
    fls.copy(files = keep.map(fls.files), stats = sliceStats(fls.stats, keep),
      seqs = keep.map(alignOr(fls.seqs, n, 0L)),
      lens = keep.map(alignLens(fls.lens, n)),
      frows = keep.map(alignLens(fls.frows, n)))
  }

  /** `kept` followed by `added`'s data and delete files, both stamped
    * with commit sequence `seq` — how every commit builds its file list.
    * Kept files keep their sequences, so the MOR deletes they carry keep
    * applying to them and never to the added data (newer). Every vector
    * is re-aligned, never positionally reinterpreted. */
  private def spliced(kept: FileSet, added: FileSet, seq: Long): FileSet = {
    val (n, m) = (kept.files.length, added.files.length)
    val (d, k) = (kept.deletes.length, added.deletes.length)
    FileSet(kept.files ++ added.files, concatStats(kept.stats, added.stats),
      alignOr(kept.seqs, n, 0L) ++ Seq.fill(m)(seq),
      kept.deletes ++ added.deletes, kept.deleteSeqs ++ Seq.fill(k)(seq),
      if (k > 0) added.deleteKey else kept.deleteKey,
      alignLens(kept.lens, n) ++ alignLens(added.lens, m),
      alignLens(kept.deleteLens, d) ++ alignLens(added.deleteLens, k),
      alignLens(kept.frows, n) ++ alignLens(added.frows, m),
      alignLens(kept.drows, d) ++ alignLens(added.drows, k),
      alignOr(kept.dmins, d, UnknownMin) ++ alignOr(added.dmins, k, UnknownMin),
      alignOr(kept.dmaxs, d, UnknownMax) ++ alignOr(added.dmaxs, k, UnknownMax))
  }

  /** Columns opted into per-file point-lookup bloom filters
    * (`write.bloom.cols`, see [[FileBlooms]]) — must be stats columns:
    * the filter keys are the same band keys the min/max bands fold. */
  private[sources] lazy val bloomColumns: Seq[String] =
    tableProperties.get("write.bloom.cols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** Write-time CHECK constraints from the table-properties sidecar
    * (`constraint.<name>`, see [[TableConstraints]]), loaded once per
    * handle — every driver-written commit guards its batch with them. */
  private lazy val constraintSqls: Seq[(String, String)] =
    TableConstraints.of(tableProperties)

  /** Bound per-row constraint predicates for executor writers over
    * `schema`-shaped rows (the DSv2/streaming factories' enforcement). */
  private[sources] def boundConstraints(schema: StructType)
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] =
    if (constraintSqls.isEmpty) Seq.empty
    else TableConstraints.bind(spark, schema, constraintSqls)

  /** The one [[SnapshotWriterFactory]] of this table's writes over rows
    * of the LOGICAL `schema` — every data file, delete-key file
    * ([[SnapshotWriterFactory.forKeys]]) and empty schema file comes
    * from it. Captures, once: the tip's logical→physical mapping
    * (column-mapped tables store PHYSICAL field and stats-column names
    * in every data file; commits still record the logical schema), the
    * band-semantics version, the opted bloom columns, and the
    * session's parquet legacy-format and timestamp settings (so files
    * match what df.write.parquet would produce). With `constrained`,
    * the table's CHECK constraints are bound against the logical schema
    * — positions match the physical row layout (rename preserves field
    * order); a column-less write carries no table row and binds none. */
  private[sources] def writerFactory(schema: StructType, commitUuid: String,
                                     constrained: Boolean = false,
                                     opColumn: Boolean = false,
                                     bandsV: Int = tableBandsV): SnapshotWriterFactory = {
    val mapping = tipLogicalToPhysical
    val conf = spark.sessionState.conf
    SnapshotWriterFactory(dataDir.toString, commitUuid,
      ColumnMapping.renameFields(schema, mapping).json,
      statsCols.map(c => mapping.getOrElse(c, c)),
      conf.writeLegacyParquetFormat.toString, conf.parquetOutputTimestampType.toString,
      opColumn, bandsV,
      if (constrained && schema.nonEmpty) boundConstraints(schema) else Seq.empty,
      bloomColumns.map(c => mapping.getOrElse(c, c)))
  }

  /** Publish an EMPTY overwrite of `schema`: one driver-written 0-row
    * schema-bearing file (no Spark job) — a file-less manifest would be
    * unreadable. CREATE's bootstrap version and TRUNCATE TABLE. */
  private[sources] def commitEmptyOverwrite(schema: StructType, fileName: String,
                                            dataChange: Boolean = true): Long = {
    val uuid = java.util.UUID.randomUUID().toString
    val msg = writerFactory(schema, uuid)
      .emptyFile(fileName, spark.sparkContext.hadoopConfiguration)
    commitWrittenOverwrite(Seq(s"$uuid/${msg.file}"),
      SnapshotWrite.colStats(Seq(msg), statsCols.length), 0L, schema,
      dataChange = dataChange, frows = Seq(0L))
  }

  /** Constraint guard over a NEW-data batch: identity when the table
    * has no constraints; otherwise the first violating row fails the
    * write before anything publishes. */
  private def guarded(df: DataFrame): DataFrame =
    if (constraintSqls.isEmpty) df
    else TableConstraints.guard(spark, df,
      tipSchemaOf(latestVersion()).getOrElse(df.schema), constraintSqls)

  /** Append `df` as a new snapshot: new files + everything the current
    * tip lists. Manifest-only on top of existing data — O(batch). The
    * batch schema is validated against (and evolved into) the tip schema
    * BEFORE any data file is written — an incompatible batch costs
    * nothing and leaves nothing. */
  def commitAppend(df: DataFrame): Long = {
    evolveSchema(tipSchemaOf(latestVersion()), df.schema) // fail-fast gate
    val (newFiles, newRows) = writeDataFiles(guarded(df))
    publish("append",
      base => appendedFileSet(base, newFiles),
      base => (if (base == 0) 0L else snapshot(base).rows) + newRows,
      base => Some(evolveSchema(tipSchemaOf(base), df.schema).json),
      preWritten = newFiles.files)
  }

  /** Epoch-idempotent append — the foreachBatch streaming-sink contract
    * (the GraftSink exactly-once shape, on the table format): a re-run of
    * an already-committed micro-batch (failure replay, driver restart)
    * finds its `batchId` in the retained history and returns that version
    * instead of double-appending. Spark re-runs a failed epoch only after
    * the previous attempt is dead, so the check-then-publish pair is not
    * raced by its own retries. */
  def commitAppendOnce(batchId: Long, df: DataFrame): Long =
    commitAppendOnce("", batchId, df)

  /** Epoch dedup is keyed on the (txnApp, batchId) PAIR: `txnApp` is the
    * writing query's identity (the streaming queryId — stable across
    * restarts of the same checkpoint — or a caller-chosen txnAppId).
    * Without it, a second query fanning into the same table, or a
    * restart on a fresh checkpoint, restarts epochs at 0 and the probe
    * would misclassify its first commit as a replay — silent data loss.
    * The zero-arg overload above keeps the single-writer foreachBatch
    * contract (txnApp = "", matching only manifests written the same
    * way). */
  def commitAppendOnce(txnApp: String, batchId: Long, df: DataFrame): Long = {
    require(batchId >= 0, s"streaming epoch must be non-negative: $batchId")
    // Epochs of ONE txnApp commit in increasing order, so the dedup probe
    // walks BACK from the tip and stops at the first strictly-older epoch
    // OF THE SAME txnApp — O(versions since that epoch), not O(history)
    // per micro-batch (which would make a long-lived stream's ingest
    // quadratic in its own epoch count). Other writers' interleaved
    // versions neither match nor stop the walk. Vacuumed manifest
    // prefixes end the walk the same way: older epochs are settled.
    val dup = epochDup(txnApp, batchId, "append")
    if (dup >= 0) dup
    else {
      evolveSchema(tipSchemaOf(latestVersion()), df.schema) // fail-fast gate
      val (newFiles, newRows) = writeDataFiles(guarded(df))
      publish("append",
        base => appendedFileSet(base, newFiles),
        base => (if (base == 0) 0L else snapshot(base).rows) + newRows,
        base => Some(evolveSchema(tipSchemaOf(base), df.schema).json),
        batchId, txnApp = txnApp, preWritten = newFiles.files)
    }
  }

  /** Raised inside the publish loop when a concurrent CALL ingested the
    * same source first; carries the winner's version. */
  private case class DuplicateIngest(version: Long)
    extends RuntimeException(s"source already ingested at version $version")

  /** EXACTLY-ONCE FILE INGESTION (the COPY INTO / Auto Loader shape):
    * load one SOURCE file's rows as one manifest version with
    * action="ingest" and txnApp = the source path — the commit IS the
    * ledger. A re-run (cron retry, overlapping backfill, crash-and-
    * rerun) finds the path in history and skips; there is no side
    * ledger that could desync from the data, because the marker and
    * the rows land in the same atomic manifest CAS. A concurrent CALL
    * racing the same source is caught per publish attempt (only the
    * versions that appeared since our probe are re-walked) — exactly
    * one commit wins, the loser deletes its files and reports the
    * winner. Returns (version, freshly-ingested). Vacuum keeps ingest
    * manifests' SUMMARIES (version/action/txnApp) readable through
    * checkpoints, and [[expireSnapshots]]-trimmed history means
    * re-offering sources older than the retention is the operator's
    * contract to avoid — the same rule every ledger-by-history system
    * has. */
  def ingestFileOnce(source: String, df: DataFrame): (Long, Boolean) = {
    jsonSafe(source, "ingest source")
    val probedTip = latestVersion()
    val prior = history().find(s => s.action == "ingest" && s.txnApp == source)
    if (prior.isDefined) return (prior.get.version, false)
    if (probedTip > 0) evolveSchema(tipSchemaOf(probedTip), df.schema) // fail fast
    val (newFiles, newRows) = writeDataFiles(guarded(df))
    try {
      val v = publish("ingest",
        base => {
          // only the window that appeared since the probe needs a re-walk
          var w = base
          while (w > probedTip) {
            val s = snapshot(w)
            if (s.action == "ingest" && s.txnApp == source)
              throw DuplicateIngest(s.version)
            w -= 1
          }
          appendedFileSet(base, newFiles)
        },
        base => (if (base == 0) 0L else snapshot(base).rows) + newRows,
        base => Some(evolveSchema(tipSchemaOf(base), df.schema).json),
        txnApp = source, preWritten = newFiles.files)
      (v, true)
    } catch {
      case DuplicateIngest(v) =>
        // lost the race: this attempt's files are unreferenced — drop them
        dropCommitDirs(newFiles.files)
        (v, false)
    }
  }

  /** [[ingestFileOnce]] over a source list: one history walk builds the
    * already-ingested set, each new source lands as its own atomic
    * ingest version (per-source granularity is what makes partial
    * failures resumable — rerunning the CALL picks up exactly the
    * sources that did not commit). Returns (ingested, skipped). */
  def ingestFiles(sources: Seq[String], read: String => DataFrame): (Long, Long) = {
    val done = history().iterator
      .filter(_.action == "ingest").map(_.txnApp).toSet
    var ingested = 0L
    var skipped = 0L
    sources.distinct.foreach { src =>
      if (done.contains(src)) skipped += 1
      else {
        val (_, fresh) = ingestFileOnce(src, read(src))
        if (fresh) ingested += 1 else skipped += 1
      }
    }
    (ingested, skipped)
  }

  /** The (txnApp, batchId, action) dedup probe of [[commitAppendOnce]],
    * shared with the pre-written (DSv2 streaming) commit paths: walks
    * BACK from the tip, stops at the first strictly-older epoch of the
    * same txnApp — O(versions since that epoch). Returns the already-
    * committed version, or -1. */
  private def epochDup(txnApp: String, batchId: Long, action: String): Long = {
    var v = latestVersion()
    var dup = -1L
    while (v > 0 && dup < 0 && fs.exists(manifestPath(v))) {
      val s = snapshot(v)
      if (s.batchId == batchId && s.txnApp == txnApp && s.action == action)
        dup = s.version
      else if (s.batchId >= 0 && s.batchId < batchId && s.txnApp == txnApp &&
        s.action == action) v = 0
      else v -= 1
    }
    dup
  }

  /** Epoch-idempotent append of PRE-WRITTEN files — the DSv2 streaming
    * sink's commit ([[SnapshotStreamingWrite]]): executors already wrote
    * the epoch's parquet + folded stats; this publishes them under the
    * (txnApp, batchId) dedup key of [[commitAppendOnce]]. Returns
    * (version, wasReplay): on replay the caller must delete its orphan
    * files — nothing references them. */
  private[sources] def commitWrittenAppendOnce(txnApp: String, batchId: Long,
                                               files: Seq[String],
                                               stats: Seq[ColStats], rowsAdded: Long,
                                               batchSchema: StructType,
                                               frows: Seq[Long] = Seq.empty): (Long, Boolean) = {
    require(batchId >= 0, s"streaming epoch must be non-negative: $batchId")
    val dup = epochDup(txnApp, batchId, "append")
    if (dup >= 0) (dup, true)
    else {
      require(files.nonEmpty, "commitWrittenAppendOnce needs at least one file")
      val nw = FileSet(files, stats, frows = alignLens(frows, files.length))
      (publish("append",
        base => appendedFileSet(base, nw),
        base => (if (base == 0) 0L else snapshot(base).rows) + rowsAdded,
        base => Some(evolveSchema(tipSchemaOf(base), batchSchema).json),
        batchId, txnApp = txnApp), false)
    }
  }

  /** Epoch-idempotent overwrite of PRE-WRITTEN files — the DSv2
    * streaming sink in COMPLETE mode: each epoch's result set replaces
    * the table as one version, replays dedup'd on (txnApp, batchId). */
  private[sources] def commitWrittenOverwriteOnce(txnApp: String, batchId: Long,
                                                  files: Seq[String],
                                                  stats: Seq[ColStats], rows: Long,
                                                  batchSchema: StructType,
                                                  frows: Seq[Long] = Seq.empty): (Long, Boolean) = {
    require(batchId >= 0, s"streaming epoch must be non-negative: $batchId")
    val dup = epochDup(txnApp, batchId, "overwrite")
    if (dup >= 0) (dup, true)
    else {
      require(files.nonEmpty, "commitWrittenOverwriteOnce needs at least one file")
      (publish("overwrite",
        base => FileSet(files, stats, seqs = Seq.fill(files.length)(base + 1),
          frows = alignLens(frows, files.length)),
        _ => rows,
        _ => Some(normalizeSchema(batchSchema).json),
        batchId, txnApp = txnApp), false)
    }
  }

  /** Absolute (path, length) entries for manifest-relative files — what
    * a self-contained DSv2 partition plan needs. Lengths ride in from
    * the manifest (`appendDelta`); only a -1 (pre-lens manifest) pays a
    * getFileStatus. */
  private[sources] def fileEntries(rel: Seq[(String, Long)]): Seq[(String, Long)] =
    rel.map { case (f, l) =>
      val p = new Path(dataDir, f)
      (p.toString, if (l >= 0L) l else statOf(p).getLen)
    }

  /** This handle's table root (for components that plan from the handle
    * but construct self-contained specs). */
  private[sources] def rootPath: String = root

  /** Table schema AS OF `version` — from the manifest's recorded
    * schema: one manifest parse, ZERO data-file I/O. Schema resolution
    * used to build the full `read(version)` plan (an
    * InMemoryFileIndex over every live file: a measured 14.9 s on a
    * 10k-file table — MetaBench); a relation/catalog load now pays a
    * manifest parse instead. Pre-evolution manifests without a
    * recorded schema keep the footer-inferred read path. */
  private[graft] def schemaOf(version: Long): StructType = {
    val v = if (version < 0) latestVersion() else version
    require(v > 0, s"no committed snapshot to read at $root")
    snapshot(v).schemaJson.map(parseSchema).getOrElse(read(v).schema)
  }

  /** DQ-gated append — the write-audit contract at the TABLE boundary
    * (the reference gates every pipeline stage with validators,
    * SURVEY.md §2.10; this moves the gate into the commit protocol
    * itself): the batch's check suite runs in ONE aggregation pass
    * BEFORE any data file is written, and a failing suite raises with
    * the per-check violation counts — no manifest, no orphan files, the
    * table never holds an invalid version. */
  def commitAppendChecked(df: DataFrame,
                          suite: Seq[graft.checks.Check]): Long = {
    val results = graft.checks.Checks.evaluate(df, suite)
    val failed = results.filterNot(_.passed)
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"commit rejected by ${failed.length}/${results.length} checks: " +
          failed.map(r => s"${r.check_name}(${r.violations})").mkString(", "))
    commitAppend(df)
  }

  /** Replace the table contents with `df` as a new snapshot. Old files
    * stay on disk (time travel) until [[vacuum]]. An overwrite RESETS the
    * schema to the batch's — it replaces contents, so no evolution
    * constraint applies (the public formats' overwriteSchema). */
  def commitOverwrite(df: DataFrame): Long = {
    // overwrite replaces DATA, not column identity: same-named columns
    // keep their physical mapping (writeDataFiles renamed the files the
    // same way), so a rename survives a full reload
    val tip = tipSchemaOf(latestVersion())
    val (newFiles, newRows) = writeDataFiles(guarded(df))
    publish("overwrite",
      base => newFiles.copy(seqs = Seq.fill(newFiles.files.length)(base + 1)),
      _ => newRows,
      _ => Some(normalizeSchema(
        ColumnMapping.inheritMapping(df.schema, tip)).json),
      preWritten = newFiles.files)
  }

  /** Data-skipping read on the table's FIRST stats column. */
  def readRange(lo: Long, hi: Long, version: Long = -1L): DataFrame =
    readRange(statsHead, lo, hi, version)

  private def statsHead: String = statsCols.headOption.getOrElse(
    sys.error(s"table at $root collects no stats columns"))

  /** The [[BandKeys]] mapping as a NATIVE Column over `df`'s `column` —
    * the residual row filter of band-scoped reads/rewrites evaluates the
    * same key the manifests record, for every banded type: integral/
    * boolean are Spark's own long cast; TIMESTAMP follows the table's
    * band-semantics version (v2 = `unix_micros`, exact; v1 legacy =
    * the floor-seconds long cast — exactly [[BandKeys.valueKey]]); DATE
    * is days since epoch; STRING is the order-preserving 8-byte-prefix
    * key, built from codegen'd built-ins (encode → rpad-truncate to 8
    * bytes → hex → conv base-16 → unsigned-to-signed shift). Stays
    * inside whole-stage codegen — no UDF anywhere in a row-level
    * rewrite's hot path. */
  private[graft] def bandKeyCol(df: DataFrame, column: String)
      : org.apache.spark.sql.Column = bandKeyCol(df, column, tableBandsV)

  private[graft] def bandKeyCol(df: DataFrame, column: String, bandsV: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr, unix_date, unix_micros}
    df.schema.fields.find(_.name == column).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.DateType) =>
        unix_date(col(column)).cast("long")
      case Some(org.apache.spark.sql.types.TimestampType) =>
        if (bandsV >= 2) unix_micros(col(column))
        else col(column).cast("long")
      case Some(org.apache.spark.sql.types.StringType) =>
        expr(s"CAST(CAST(conv(hex(rpad(encode(`$column`, 'UTF-8'), 8, X'00')), " +
          "16, 10) AS DECIMAL(20,0)) - 9223372036854775808 AS BIGINT)")
      case _ => col(column).cast("long")
    }
  }

  /** Data-skipping read on ANY stats column: only files whose [min, max]
    * band for `column` overlaps `[lo, hi]` are PLANNED at all — the
    * manifest is the skipping index, so a point/range lookup on a
    * 100 TB fact opens the handful of files that can match instead of
    * every footer. With multi-column stats a table range-clustered on
    * one column still prunes on the others' bands (date × key layouts).
    * Files with unknown stats are read conservatively; the residual
    * predicate is applied either way, so the result equals
    * `read().filter(...)` exactly. */
  def readRange(column: String, lo: Long, hi: Long, version: Long): DataFrame =
    readRanges(column, Seq((lo, hi)), version)

  /** Union-of-ranges skipping read — [[readRange]] for a DISJUNCTION of
    * key ranges: only files whose band overlaps SOME range are planned
    * (each point range additionally consults the file's bloom filter).
    * This is the `ts < retention_lo OR ts > probe_hi` shape a
    * conjunctive band cannot serve — its hull covers everything, but
    * the union plans exactly the edge files. The Scala-API mirror of
    * the connector's OR pushdown ([[SnapshotBatch.orAltsOf]]); the
    * residual union predicate is applied, so the result equals
    * `read().filter(r1 || r2 || …)` exactly. */
  def readRanges(column: String, ranges: Seq[(Long, Long)],
                 version: Long = -1L): DataFrame = {
    require(ranges.nonEmpty, s"readRanges on $root: no ranges given")
    require(statsCols.contains(column),
      s"range read on $root: '$column' is not a stats column (${statsCols.mkString(",")})")
    val alts = ranges.map { case (lo, hi) => PruneAlt(Map(column -> ((lo, hi))), Set.empty) }
    val a = admitted(Pruning(orAlts = Seq(alts)), version)
    val (base, _) = readAdmitted(a)
    // the residual filter keys under the READ manifest's semantics —
    // a version below a band upgrade keeps its own key space
    val k = bandKeyCol(base, column, a.get.snap.bandsV)
    base.filter(ranges.map { case (lo, hi) => k.between(lo, hi) }.reduce(_ || _))
  }

  /** Filtered COUNT served from the manifest's per-file row counts:
    * `count(rows with column's band key in [lo, hi])` costs ONLY the
    * straddling files — files fully inside the range (band containment,
    * known-zero nulls, recorded row count, no applicable MOR delete)
    * contribute their record counts without being opened; files fully
    * outside contribute zero. The row-count probe every range-clustered
    * 100 TB table answers ("how many events yesterday?") becomes a
    * manifest parse plus at most two boundary-file scans. Exactly
    * equals `read(version).filter(key BETWEEN lo AND hi).count()`
    * (NULL keys match nothing; key semantics per [[BandKeys]], the
    * same contract as [[readRange]]). */
  def countRange(column: String, lo: Long, hi: Long, version: Long = -1L): Long =
    countRangeDetailed(column, lo, hi, version)._1

  /** [[countRange]] plus the files it had to SCAN (the pruning evidence
    * specs pin — empty when the manifest alone answered). */
  private[graft] def countRangeDetailed(column: String, lo: Long, hi: Long,
                                        version: Long): (Long, Seq[String]) = {
    val ci = statsCols.indexOf(column)
    require(ci >= 0,
      s"countRange on $root: '$column' is not a stats column (${statsCols.mkString(",")})")
    val v = if (version < 0) latestVersion() else version
    require(v > 0, s"no committed snapshot to read at $root")
    val snap = snapshot(v)
    val fl = fileSetOf(snap)
    val cs = fl.stats(ci)
    val fr = alignLens(fl.frows, fl.files.length)
    // A delete file can touch data file i only when it OUTSEQUENCES it
    // AND its recorded key band overlaps the file's band in the SAME
    // key space — an equality delete matches rows by key, and every
    // row's key lies inside its file's band. Single stats-column key:
    // raw bands on that column. COMPOSITE stats-column key: both sides
    // compare as z-value bands ([[BandKeys.zBand]] — the delete side
    // recorded at commit, the data side derived here from the
    // per-column box; dominance monotonicity makes disjoint z
    // intervals a proof of no shared key tuple). Band-disjoint deletes
    // leave the file metadata-servable; unknown bands read
    // conservatively (the sentinel band overlaps everything).
    val dk = fl.deleteKey.headOption
      .filter(_ => fl.deleteKey.length == 1).map(statsCols.indexOf)
      .filter(_ >= 0)
    val zk: Option[Seq[Int]] =
      if (fl.deleteKey.length >= 2 && fl.deleteKey.length <= 8 &&
          fl.deleteKey.forall(statsCols.contains))
        Some(fl.deleteKey.map(statsCols.indexOf))
      else None
    // data file i's composite-key z box: None = unknown (conservative);
    // an inverted per-column band means the file holds NO fully
    // non-null key tuple in that column, so no equality delete applies
    sealed trait ZBox
    case object ZUnknown extends ZBox
    case object ZEmpty extends ZBox
    case class ZRange(lo: Long, hi: Long) extends ZBox
    def dataZ(i: Int): ZBox = zk match {
      case None => ZUnknown
      case Some(kis) =>
        val mins = kis.map(k => fl.stats(k).mins(i))
        val maxs = kis.map(k => fl.stats(k).maxs(i))
        if (mins.zip(maxs).exists { case (lo, hi) =>
              lo != UnknownMin && hi != UnknownMax && lo > hi }) ZEmpty
        else if (mins.contains(UnknownMin) || maxs.contains(UnknownMax))
          ZUnknown
        else ZRange(BandKeys.zBand(mins), BandKeys.zBand(maxs))
    }
    def hasDelete(i: Int) = {
      lazy val z = dataZ(i) // once per file, not per (file, delete) pair
      fl.deleteSeqs.indices.exists { j =>
        fl.deleteSeqs(j) > fl.seqs(i) && (dk match {
          case Some(ki) =>
            val ks = fl.stats(ki)
            fl.dmaxs(j) >= ks.mins(i) && fl.dmins(j) <= ks.maxs(i)
          case None => z match {
            case ZEmpty => false
            case ZUnknown => true
            case ZRange(lo, hi) => fl.dmaxs(j) >= lo && fl.dmins(j) <= hi
          }
        })
      }
    }
    def inside(i: Int) = cs.mins(i) >= lo && cs.maxs(i) <= hi &&
      cs.maxs(i) >= cs.mins(i) && cs.nulls(i) == 0L
    def outside(i: Int) = cs.maxs(i) < lo || cs.mins(i) > hi
    val (served, scan) =
      fl.files.indices.foldLeft((0L, Vector.empty[Int])) { case ((acc, sc), i) =>
        if (outside(i)) (acc, sc)
        else if (inside(i) && fr(i) >= 0L && !hasDelete(i)) (acc + fr(i), sc)
        else (acc, sc :+ i)
      }
    val scanned =
      if (scan.isEmpty) 0L
      else {
        val df = morPlan(snap, scan, mergeSchema = false)
        df.filter(bandKeyCol(df, column, snap.bandsV).between(lo, hi)).count()
      }
    (served + scanned, scan.map(fl.files))
  }

  /** Estimated DISTINCT count of `column` over the live files at
    * `version` (default: tip), served from the manifest's per-file NDV
    * sketches alone ([[FileNdv]] — mergeable HLL unions, no file
    * opened). None when the column carries no sketches (legacy files,
    * non-stats column). The estimate ignores MOR deletes (deleted rows
    * still counted) — an upper bound, the conservative direction for
    * planning. STRING columns estimate over the lossy prefix key: a
    * lower bound (documented in [[FileNdv]]). */
  def estimateDistinct(column: String, version: Long = -1L): Option[Long] = {
    val ci = statsCols.indexOf(column)
    if (ci < 0) return None
    val v = if (version < 0) latestVersion() else version
    if (v <= 0) return None
    val fl = fileSetOf(snapshot(v))
    ndvOf(fl, ci, fl.files.indices)
  }

  /** NDV union-estimate over a file index subset; empty files (recorded
    * zero rows) contribute nothing and need no sketch. */
  private def ndvOf(fl: FileSet, ci: Int, idx: Seq[Int]): Option[Long] = {
    val nd = alignBlooms(fl.stats(ci).ndvs, fl.files.length)
    val fr = alignLens(fl.frows, fl.files.length)
    val nonEmpty = idx.filterNot(i => fr(i) == 0L)
    if (nonEmpty.isEmpty) Some(0L)
    else FileNdv.unionEstimate(nonEmpty.map(nd))
  }

  /** Post-pruning per-column NDV estimates for an admission's planned
    * file set — what the connector's column statistics report
    * so join planning and distinct-count questions see the scan, not
    * the table. Columns without full sketch coverage are absent. */
  private[graft] def plannedColumnNdvs(a: Option[Admission]): Map[String, Long] =
    a.fold(Map.empty[String, Long]) { case Admission(_, fl, keep) =>
      statsCols.zipWithIndex.flatMap { case (c, ci) =>
        ndvOf(fl, ci, keep).map(c -> _)
      }.toMap
    }

  /** Post-pruning per-column (band-key [min, max], null count) over the
    * file set an admission PLANS — the rest of the V2 column
    * statistics next to [[plannedColumnNdvs]], folded from the manifest
    * vectors alone (no file opened). Bounds are absent when nothing
    * survives pruning or when any planned non-empty file's bound is
    * unknown (legacy stats-less files, all-null files — the same
    * sentinel discipline every pruning lane uses); null counts are
    * absent when any planned file's count is unknown. Under MOR deletes
    * both are upper bounds over live rows (a delete can only shrink a
    * range or a null census) — the conservative direction an estimate
    * may err in. Keys convert back to typed values only where the key
    * function is exact ([[BandKeys.keyToCatalyst]]); the caller decides. */
  private[graft] def plannedColumnBounds(a: Option[Admission])
      : Map[String, (Option[(Long, Long)], Option[Long])] = {
    a match {
      case None => Map.empty
      case Some(Admission(_, fl, keep)) =>
        statsCols.zipWithIndex.map { case (c, ci) =>
          val cs = fl.stats(ci)
          val mins = alignOr(cs.mins, fl.files.length, UnknownMin)
          val maxs = alignOr(cs.maxs, fl.files.length, UnknownMax)
          val nulls = alignOr(cs.nulls, fl.files.length, UnknownNulls)
          // inverted band (min > max) = known-EMPTY file: contributes no
          // rows, so it cannot move a bound (and its null count is zero)
          val nonEmpty = keep.filterNot(i => mins(i) > maxs(i))
          val bounds =
            if (nonEmpty.isEmpty || nonEmpty.exists(i =>
                mins(i) == UnknownMin || maxs(i) == UnknownMax)) None
            else Some((nonEmpty.map(mins).min, nonEmpty.map(maxs).max))
          val nullTotal =
            if (keep.exists(i => nulls(i) == UnknownNulls)) None
            else Some(keep.map(nulls).sum)
          c -> ((bounds, nullTotal))
        }.toMap
    }
  }

  /** Per-stats-column table statistics at `version` (default: tip)
    * served from the manifest alone — ANALYZE without a scan: exact
    * band-key bounds and null census where every live file's vector is
    * known (absent otherwise — never a guess), DISTINCT estimates from
    * the mergeable NDV sketches. Band keys ARE the value for integrals/
    * bool, days-since-epoch for DATE, epoch micros for TIMESTAMP on
    * bandsV>=2 tables, and the lossy 8-byte prefix for STRING (bounds
    * still returned — callers needing the typed extremum use the typed
    * bounds / a scan). What `snapshot_stats(...)` surfaces to SQL. */
  def statsSummary(version: Long = -1L): Seq[ColumnStatsSummary] = {
    // ONE admission (one version resolution) for all three folds —
    // letting each resolve `-1` independently could interleave with a
    // concurrent commit and mix two versions' stats in one report.
    val all = admitted(Pruning(), version)
    val bounds = plannedColumnBounds(all)
    val ndvs = plannedColumnNdvs(all)
    // TYPED value bounds (today: STRING — recorded exactly where the
    // long key is lossy): min-of-mins / max-of-maxs under the bytewise
    // ordering IS the column extremum ([[TypedBounds]]); any non-empty
    // file with an Absent bound makes the whole answer absent — a
    // partial fold would silently under-claim the range.
    val typed: Map[String, (Option[String], Option[String])] = all match {
      case None => Map.empty
      case Some(Admission(_, fl, _)) =>
        val n = fl.files.length
        statsCols.zipWithIndex.map { case (c, ci) =>
          val cs = fl.stats(ci)
          val (tm, tx) = (alignTyped(cs.tmins, n), alignTyped(cs.tmaxs, n))
          val mins = alignOr(cs.mins, n, UnknownMin)
          val maxs = alignOr(cs.maxs, n, UnknownMax)
          val nonEmpty = fl.files.indices.filterNot(i => mins(i) > maxs(i))
          def fold(vs: Seq[String], pick: (String, String) => String) =
            if (nonEmpty.isEmpty) None
            else TypedBounds.decode(nonEmpty.map(vs).reduce(pick))
              .map(new String(_, "UTF-8"))
          c -> ((fold(tm, TypedBounds.minOf), fold(tx, TypedBounds.maxOf)))
        }.toMap
    }
    statsCols.map { c =>
      val (b, nc) = bounds.getOrElse(c, (None, None))
      val (tmin, tmax) = typed.getOrElse(c, (None, None))
      ColumnStatsSummary(c, b.map(_._1), b.map(_._2), nc, ndvs.get(c),
        tmin, tmax)
    }
  }

  /** (rows, bytes) of the file set an admission PLANS — the
    * post-pruning statistics the connector reports so the optimizer's
    * broadcast decision sees what the scan will actually read, not the
    * whole table. None when any planned file lacks the recorded vector
    * (conservative: the caller falls back to unpruned totals). Rows are
    * an upper bound under MOR deletes (deletes only shrink) — exactly
    * the conservative direction an estimate may err in. */
  private[graft] def plannedStats(a: Option[Admission])
      : (Option[Long], Option[Long]) = {
    a match {
      case None => (None, None)
      case Some(Admission(_, fl, keep)) =>
        val fr = alignLens(fl.frows, fl.files.length)
        val ln = alignLens(fl.lens, fl.files.length)
        (if (keep.forall(fr(_) >= 0L)) Some(keep.map(fr).sum) else None,
         if (keep.forall(ln(_) >= 0L)) Some(keep.map(ln).sum) else None)
    }
  }

  /** Manifest-pruned read for the DSv2 batch connector: keep only the
    * files [[prunedKeep]] admits under `p` (lanes on non-stats columns
    * are ignored — nothing to prune with). Returns the MOR-aware plan
    * plus the planned file list (the pruning evidence the connector
    * spec pins). NO residual filter is applied here — the caller
    * (Spark's own filter evaluation) re-applies its predicates, so
    * correctness never depends on the band math; pruning is sound for
    * null-rejecting predicates because a file's [min,max] band covers
    * every non-null value it holds, and for IS NULL because a
    * known-zero null count proves the file holds no NULL. */
  private[graft] def readPruned(p: Pruning, version: Long = -1L)
      : (DataFrame, Seq[String]) = readAdmitted(admitted(p, version))

  /** [[readPruned]] over an admission already made. */
  private[graft] def readAdmitted(a: Option[Admission]): (DataFrame, Seq[String]) = {
    require(a.nonEmpty, s"no committed snapshot to read at $root")
    val Admission(snap, fl, keep) = a.get
    if (keep.isEmpty) (read(snap.version).limit(0), Seq.empty)
    else (morPlan(snap, keep, mergeSchema = false), keep.map(fl.files))
  }

  /** Resolve `version` (negative = tip) once, then admit its files
    * through [[prunedKeep]]: the [[Admission]] every admission caller
    * starts from. None when nothing is committed. */
  private[graft] def admitted(p: Pruning, version: Long): Option[Admission] = {
    metaAdmits.incrementAndGet()
    val v = if (version < 0) latestVersion() else version
    if (v <= 0) None
    else {
      val snap = snapshot(v)
      val fl = fileSetOf(snap)
      Some(Admission(snap, fl, prunedKeep(fl, p)))
    }
  }

  /** The ONE file-admission test of every pruning lane: a file is
    * admitted iff it overlaps every band (equality bands also consult
    * its bloom filter), holds some listed key of every IN-list point
    * set (band + bloom), may hold a NULL in every IS-NULL column, and
    * satisfies some alternative of every OR conjunct. Callers:
    * [[readPruned]] (and through it [[readRange]], [[readRanges]],
    * the connector's scan and [[JoinSkipping]]), [[dmlSpecPruned]]
    * (row-level DML plans), [[commitUpsert]] (the files a batch's keys
    * may touch) and the planned estimators [[plannedStats]],
    * [[plannedColumnNdvs]] and [[plannedColumnBounds]]. */
  private def prunedKeep(setAll: FileSet, p: Pruning): Seq[Int] = {
    val active = p.bands.filter { case (c, _) => statsCols.contains(c) }
    val activeNull = p.nullCols.filter(statsCols.contains)
    val activePoints = p.points.filter { case (c, _) => statsCols.contains(c) }
    def bandAdmits(i: Int, c: String, lo: Long, hi: Long): Boolean = {
      val cs = setAll.stats(statsCols.indexOf(c))
      cs.maxs(i) >= lo && cs.mins(i) <= hi &&
        // POINT lookups additionally consult the file's bloom filter
        // (equality bands are lo == hi; sound for lossy keys too —
        // the stored rows' keys under the same mapping are what the
        // filter holds, so "absent" can never drop a matching row)
        (lo != hi || FileBlooms.mightContain(cs.blooms(i), lo))
    }
    setAll.files.indices.filter { i =>
      active.forall { case (c, (lo, hi)) => bandAdmits(i, c, lo, hi)
      } && activeNull.forall { c =>
        setAll.stats(statsCols.indexOf(c)).nulls(i) != 0L
      } && activePoints.forall { case (c, ks) =>
        val cs = setAll.stats(statsCols.indexOf(c))
        ks.exists(k => cs.maxs(i) >= k && cs.mins(i) <= k &&
          FileBlooms.mightContain(cs.blooms(i), k))
      } && p.orAlts.forall { alts =>
        alts.exists { alt =>
          if (!alt.bands.keysIterator.forall(statsCols.contains) ||
              !alt.isNull.forall(statsCols.contains)) true
          else alt.bands.forall { case (c, (lo, hi)) =>
            bandAdmits(i, c, lo, hi)
          } && alt.isNull.forall { c =>
            setAll.stats(statsCols.indexOf(c)).nulls(i) != 0L
          }
        }
      }
    }
  }

  /** Publish exactly at `base + 1`; None when another writer got there
    * first. Does NOT retry: [[commitLoop]] does, and a read-modify-write
    * caller re-derives its content from the new tip (snapshot-isolation
    * validation — a blind retry would lose the concurrent writer's
    * rows). A lost race leaves no debris: the group files only this
    * attempt's manifest referenced go, and so do the commit directories
    * of `written` — the data and delete files the attempt wrote for this
    * base alone (files reused across attempts stay). Non-collision
    * failures propagate. */
  private def publishAtBase(base: Long, action: String, fls: FileSet,
                            rowCount: Long, schemaJson: Option[String],
                            dataChange: Boolean = true,
                            bandsVOverride: Option[Int] = None,
                            written: Seq[String] = Seq.empty,
                            batchId: Long = -1L,
                            txnApp: String = ""): Option[Long] = {
    val v = base + 1
    val ensured = ensureLens(fls)
    val baseSnap = if (base == 0) None else Some(snapshot(base))
    val (refs, _, inline) = encodeGroups(baseSnap, ensured)
    val body = manifestBody(v, action, base, rowCount, inline, schemaJson,
      batchId, dataChange, txnApp, refs,
      bandsVOverride.getOrElse(inheritedBandsV(baseSnap)))
    fs.mkdirs(snapsDir)
    try {
      store.writeExclusive(fs, manifestPath(v), body.getBytes("UTF-8"))
      SnapshotLogStore.writeTipHint(fs, tipHintPath, v)
      maybeCheckpoint(v)
      Some(v)
    } catch {
      case e: java.io.IOException if SnapshotLogStore.isCollision(fs, manifestPath(v), e) =>
        dropAttemptGroups(refs, baseSnap)
        dropCommitDirs(written)
        None
    }
  }

  /** Read-modify-write commit with snapshot-isolation validation: derive
    * the new table contents from the tip via `transform`, rewrite, and
    * publish ONLY if the tip is still the version we read — a concurrent
    * commit in the window forces a re-derive from the new tip instead of
    * silently losing its rows (the write-skew hazard a blind
    * read-then-overwrite carries; the upsert/IVM streaming jobs document
    * exactly this gap, closed here). Copy-on-write: cost is O(table
    * rewrite) per attempt, the price of row-level semantics on immutable
    * files. */
  def commitRewrite(action: String)
                   (transform: Option[DataFrame] => DataFrame): Long =
    commitLoop("commitRewrite") { base =>
      val cur = if (base == 0) None else Some(read(base))
      val next = transform(cur)
      val (raw, rows) = writeDataFiles(guarded(next))
      // full rewrite: fresh sequences, MOR deletes absorbed into the data
      publishAtBase(base, action, raw.copy(seqs = Seq.fill(raw.files.length)(base + 1)),
        rows, Some(normalizeSchema(next.schema).json), written = raw.files)
    }

  /** MERGE INTO (upsert by key, last-writer-wins on the watermark) —
    * FILE-SURGICAL copy-on-write: a matched row must agree with some
    * batch row on EVERY key column, so a file whose stats band misses
    * the batch's key box on ANY stats key column provably holds no
    * match and carries by NAME with its original sequence; only the
    * overlapping files rewrite (their MOR deletes materialize into the
    * rewrite — carried delete files keep applying to carried data
    * files, which keep their sequences). On a key-clustered 100 TB
    * table a point upsert rewrites O(overlapping files), not the
    * table, and [[readChangeFeed]]'s rewrite-restricted diff then
    * serves this commit's CDF from the same O(changed) file set
    * instead of a full-table exceptAll. Degrades to the full
    * [[commitRewrite]] when nothing is provable: no key column carries
    * stats, the batch evolves the schema, NULL batch keys (they never
    * equality-match), underivable band keys, or an empty table.
    * Same snapshot-isolation validation as every read-modify-write:
    * publish only at the base we derived from; a lost race drops this
    * attempt's files and re-derives. */
  def commitUpsert(batch: DataFrame, uniqueKey: Seq[String],
                   watermarkCol: String, tieBreak: Seq[String] = Seq.empty): Long = {
    require(uniqueKey.nonEmpty, "upsert needs at least one key column")
    import org.apache.spark.sql.functions.{col, count => fcount, lit,
      max => fmax, min => fmin, sum => fsum, when}
    def fullRewrite(): Long =
      commitRewrite("upsert")(cur =>
        graft.models.Meta.mergeUpsert(cur.getOrElse(batch.limit(0)), batch,
          uniqueKey, watermarkCol, tieBreak))
    val statsKeys = uniqueKey.filter(statsCols.contains)
    if (statsKeys.isEmpty) return fullRewrite()
    // the batch's folded key box (one small agg over the small side) +
    // the NULL-key guard; band keys derive under the table's semantics
    val aggRow = batch.agg(fcount(lit(1)).as("n"),
      statsKeys.flatMap(c => Seq(fmin(col(c)), fmax(col(c)),
        fsum(when(col(c).isNull, 1L).otherwise(0L)))): _*).head()
    if (aggRow.getLong(0) == 0L) return fullRewrite() // empty batch: rare, cheap anyway
    val bandsV = tableBandsV
    val keyBox: Option[Map[String, (Long, Long)]] = {
      val entries = statsKeys.zipWithIndex.map { case (c, k) =>
        val (loV, hiV, nulls) =
          (aggRow.get(1 + 3 * k), aggRow.get(2 + 3 * k), aggRow.getLong(3 + 3 * k))
        if (nulls > 0L || loV == null || hiV == null) None
        else for {
          lo <- BandKeys.valueKey(loV, bandsV).map(_._1)
          hi <- BandKeys.valueKey(hiV, bandsV).map(_._1)
        } yield c -> (lo, hi)
      }
      if (entries.exists(_.isEmpty)) None
      else Some(entries.flatten.toMap)
    }
    val box = keyBox.getOrElse(return fullRewrite())
    // per-column DISTINCT key points (bounded): a batch of scattered
    // point updates plus a few new high keys would make the hull span
    // the whole table — the point lane prunes per KEY, and prunedKeep
    // consults per-file bloom filters on it for free. Past the cap the
    // column falls back to its hull band.
    val maxPoints = 4096
    val pointLanes: Map[String, Seq[Long]] = statsKeys.flatMap { c =>
      val vals = batch.select(col(c)).distinct().limit(maxPoints + 1)
        .collect().map(_.get(0))
      if (vals.length > maxPoints) None
      else {
        val ks = vals.toSeq.flatMap(v =>
          Option(v).flatMap(BandKeys.valueKey(_, bandsV).map(_._1)))
        if (ks.length == vals.length) Some(c -> ks) else None
      }
    }.toMap
    val hullLanes = box.filter { case (c, _) => !pointLanes.contains(c) }
    commitLoop("commitUpsert") { base =>
      // an empty table or a batch that evolves the schema: the full path
      if (base == 0 ||
          tipSchemaOf(base).forall(t => evolveSchema(Some(t), batch.schema) != t))
        Some(fullRewrite())
      else {
        val snapBase = snapshot(base)
        val prev = ensureLens(fileSetOf(snapBase))
        // a file is UNTOUCHABLE iff provably disjoint from the batch's
        // keys on some stats key column (band + bloom evidence); unknown
        // stats read as overlapping
        val overlapIdx = prunedKeep(prev, Pruning(hullLanes, pointLanes))
        val keepIdx = prev.files.indices.filterNot(overlapIdx.toSet)
        if (keepIdx.isEmpty) Some(fullRewrite()) // nothing carries: same cost
        else {
          val existing =
            if (overlapIdx.isEmpty) read(base).limit(0)
            else morPlan(snapBase, overlapIdx, mergeSchema = false)
          val overlapLive = if (overlapIdx.isEmpty) 0L else existing.count()
          val merged = graft.models.Meta.mergeUpsert(existing, batch,
            uniqueKey, watermarkCol, tieBreak)
          val (raw, mergedRows) = writeDataFiles(guarded(merged))
          publishAtBase(base, "upsert", spliced(keeping(prev, keepIdx), raw, base + 1),
            snapBase.rows - overlapLive + mergedRows,
            snapBase.schemaJson, written = raw.files)
        }
      }
    }
  }

  /** Row-level DELETE WHERE: keep everything the predicate does not
    * match. Same copy-on-write + validation discipline — O(table rewrite)
    * per call; see [[commitDeleteByKey]] for the O(batch) path. */
  def commitDelete(predicate: org.apache.spark.sql.Column): Long =
    commitRewrite("delete")(cur =>
      cur.getOrElse(sys.error(s"DELETE on empty table at $root"))
        .filter(!predicate))

  /** Merge-on-read DELETE by equality key — the commit writes ONLY the
    * key set as a small parquet file and re-lists the tip's data files;
    * readers anti-join it and the next [[compact]] materializes it. This
    * is the DELETE that survives 100 TB: copy-on-write ([[commitDelete]])
    * rewrites the whole table per call, this is O(keys) write + one
    * table scan for the exact row count. Sequencing: the delete applies
    * only to files committed BEFORE it, so re-appending a deleted key
    * later resurrects it (the Iceberg v2 equality-delete rule). `keyCols`
    * must match any earlier MOR delete on the table (one equality schema
    * per table between compactions). */
  def commitDeleteByKey(keys: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "MOR delete needs at least one key column")
    keyCols.foreach(jsonSafe(_, "delete-key column")) // fail before any write
    val tip = latestVersion()
    require(tip > 0, s"DELETE on empty table at $root")
    import org.apache.spark.sql.functions.col
    val (keyFiles, _) = writeDataFiles(keys.select(keyCols.map(col): _*).distinct())
    // per-delete-file key counts + key bands: the writer folded both
    // while writing; composite keys interleave to z-bands
    val (newDmins, newDmaxs) = deleteKeyBands(keyCols, keyFiles)
    val added = FileSet(Seq.empty, emptyStats, deletes = keyFiles.files,
      deleteKey = keyCols, deleteLens = keyFiles.lens, drows = keyFiles.frows,
      dmins = newDmins, dmaxs = newDmaxs)
    commitLoop("commitDeleteByKey", Some(tip), keyFiles.files) { base =>
      val snapBase = snapshot(base)
      val prev = fileSetOf(snapBase)
      require(prev.deleteKey.isEmpty || prev.deleteKey == keyCols,
        s"table at $root already carries MOR deletes keyed by " +
          s"(${prev.deleteKey.mkString(",")}); got (${keyCols.mkString(",")})")
      // exact surviving-row count: scan-only (no rewrite), re-derived per
      // attempt so a lost race never publishes a stale count, and pruned
      // to the deleted-key band when the key is a stats column with
      // exact folded stats (the count stays exact — see countMatchingKeys)
      val keyBand =
        if (keyCols.length != 1 || !statsCols.contains(keyCols.head)) None
        else {
          val cs = keyFiles.stats(statsCols.indexOf(keyCols.head))
          if (cs.mins.nonEmpty && cs.mins.forall(_ != UnknownMin) &&
              cs.maxs.forall(_ != UnknownMax) && cs.nulls.forall(_ == 0L))
            Some((cs.mins.min, cs.maxs.max))
          else None
        }
      val deleted = countMatchingKeys(base, keyFiles.files, keyCols, keyBand)
      publishAtBase(base, "delete_mor", spliced(prev, added, base + 1),
        snapBase.rows - deleted, snapBase.schemaJson)
    }
  }

  /** Atomic range replacement on the table's FIRST stats column. */
  def commitReplaceWhere(batch: DataFrame, lo: Long, hi: Long): Long =
    commitReplaceWhere(statsHead, batch, lo, hi)

  /** Atomic range replacement — the daily-partition-reload shape
    * (Delta's `replaceWhere`): delete every row with `column` in
    * `[lo, hi]` and insert `batch` (validated to lie inside the range)
    * in ONE version. File-surgical via the manifest stats: files fully
    * outside the range are kept untouched (manifest re-list), files
    * fully inside AND known NULL-free on `column` are dropped whole, and
    * only STRADDLING files are rewritten (reading them through any MOR
    * deletes, which the rewrite absorbs for those files) — cost
    * O(straddling files + batch), never O(table). NULL-key rows are
    * outside every range and must SURVIVE: a file whose value band lies
    * inside the range but which carries (or may carry — unknown null
    * count) NULL keys is routed through the rewrite, where the
    * null-safe keep filter preserves them. With range-clustered layout
    * (each file one day/partition) the straddle set is empty and the
    * reload is manifest-only + batch write. `column` may be ANY stats
    * column — a table clustered on one column stays file-surgical when
    * reloading by another, as long as that column's bands are disjoint.
    * Optimistic concurrency: same revalidate-on-collision loop as
    * [[commitRewrite]]. */
  def commitReplaceWhere(column: String, batch: DataFrame, lo: Long, hi: Long): Long = {
    require(statsCols.contains(column),
      s"commitReplaceWhere on $root: '$column' is not a stats column " +
        s"(${statsCols.mkString(",")})")
    val tip = latestVersion()
    require(tip > 0, s"replaceWhere on empty table at $root")
    // NULL keys count as outside (they can't be range-validated); the
    // null-safe <=> keeps them from slipping through a three-valued NOT
    val outside = batch.filter(
      !(bandKeyCol(batch, column).between(lo, hi) <=> true)).count()
    require(outside == 0,
      s"replaceWhere batch has $outside rows outside [$lo, $hi] on $column " +
        "(NULLs count as outside)")
    val (batchFiles, batchRows) = writeDataFiles(guarded(batch))
    replaceWhereAtTip(column, lo, hi, batchFiles, batchRows,
      normalizeSchema(batch.schema), Some(tip))
  }

  /** The DSv2 half of replaceWhere: publish PRE-WRITTEN files as the
    * range's replacement. Range containment is proven from the
    * executor-folded per-file stats instead of a validation scan — every
    * non-empty new file must carry a KNOWN band inside [lo, hi] with a
    * known-zero null count (NULL keys are outside every range), which
    * restricts the write path to stats-foldable column types; the Scala
    * [[commitReplaceWhere]] remains the any-type path. `fileRows` aligns
    * with `files`; empty files skip containment (nothing to contain). */
  private[graft] def commitWrittenReplaceWhere(column: String, lo: Long, hi: Long,
                                               files: Seq[String],
                                               stats: Seq[ColStats],
                                               fileRows: Seq[Long],
                                               batchSchema: StructType): Long = {
    val ci = statsCols.indexOf(column)
    require(ci >= 0,
      s"replaceWhere on $root: '$column' is not a stats column (${statsCols.mkString(",")})")
    require(files.length == fileRows.length, "files/fileRows misaligned")
    val cs = stats(ci)
    files.indices.filter(fileRows(_) > 0L).foreach { i =>
      require(cs.nulls(i) == 0L && cs.mins(i) != UnknownMin &&
        cs.maxs(i) != UnknownMax && cs.mins(i) >= lo && cs.maxs(i) <= hi,
        s"replaceWhere batch file ${files(i)} is not provably inside [$lo, $hi] " +
          s"on $column (band [${cs.mins(i)}, ${cs.maxs(i)}], nulls ${cs.nulls(i)}) — " +
          "the DSv2 replaceWhere needs folded stats (a BandKeys-mapped " +
          "column type, no NULL keys); use the Scala commitReplaceWhere " +
          "for other shapes")
    }
    replaceWhereAtTip(column, lo, hi,
      FileSet(files, stats, frows = alignLens(fileRows, files.length)),
      fileRows.sum, normalizeSchema(batchSchema))
  }

  /** Shared optimistic loop of both replaceWhere paths: keep files fully
    * outside the range, drop files provably fully inside, rewrite only
    * straddlers, publish at the validated base. `first` is a tip the
    * caller already resolved and found non-empty. */
  private def replaceWhereAtTip(column: String, lo: Long, hi: Long,
                                batchFiles: FileSet, batchRows: Long,
                                batchSchema: StructType,
                                first: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    val ci = statsCols.indexOf(column)
    commitLoop("commitReplaceWhere", first, batchFiles.files) { base =>
      require(base > 0, s"replaceWhere on empty table at $root")
      val snap = snapshot(base)
      val prev = fileSetOf(snap)
      val cs = prev.stats(ci)
      def fullyOutside(i: Int) = cs.maxs(i) < lo || cs.mins(i) > hi
      // dropped-whole needs the value band inside AND a KNOWN-zero null
      // count: min/max stats ignore NULLs, so a file whose non-null
      // values lie in range may still carry NULL-key rows that must
      // survive — unknown (-1) or positive null counts force the rewrite
      def fullyInside(i: Int) =
        cs.mins(i) >= lo && cs.maxs(i) <= hi && cs.nulls(i) == 0L
      val keepIdx = prev.files.indices.filter(fullyOutside)
      val straddleIdx = prev.files.indices
        .filter(i => !fullyOutside(i) && !fullyInside(i))
      // keep = NOT in range, null-safely: a NULL-keyed row is outside
      // every range and must SURVIVE the rewrite (a three-valued
      // !between would silently drop it and overstate the row count)
      val (rewrite, rewriteRows) =
        if (straddleIdx.isEmpty) (FileSet(Seq.empty, emptyStats), 0L)
        else {
          val str = morPlan(snap, straddleIdx, mergeSchema = false)
          writeDataFiles(str.filter(
            !(bandKeyCol(str, column, snap.bandsV).between(lo, hi) <=> true)),
            snap.bandsV)
        }
      val affectedIdx = prev.files.indices.diff(keepIdx)
      val removed =
        if (affectedIdx.isEmpty) 0L
        else {
          val aff = morPlan(snap, affectedIdx, mergeSchema = false)
          aff.filter(bandKeyCol(aff, column, snap.bandsV).between(lo, hi)).count()
        }
      // kept rows outside the range in straddlers move to the rewrite;
      // net row delta = batch - rows removed from the range
      val added = spliced(rewrite, batchFiles, base + 1)
      val schema = Some(evolveSchema(snap.schemaJson.map(parseSchema), batchSchema).json)
      publishAtBase(base, "replace_where", spliced(keeping(prev, keepIdx), added, base + 1),
        snap.rows - removed + batchRows, schema, written = rewrite.files)
    }
  }

  // ---- commit entry points for files ALREADY WRITTEN under data/ by a
  // distributed DSv2 write (executors write parquet + collect per-file
  // stats in one pass; the driver only publishes the manifest). `stats`
  // must be aligned with this handle's statsCols (outer) and `files`
  // (inner) — the writer factory is constructed from the same handle, so
  // the alignment is by construction. ----

  /** Manifest-only append of pre-written files (the INSERT INTO path).
    * Same optimistic-retry publish as [[commitAppend]]; the batch schema
    * evolves into the tip's per attempt, so a concurrent incompatible
    * commit still fails loudly instead of publishing a broken chain. */
  private[graft] def commitWrittenAppend(files: Seq[String], stats: Seq[ColStats],
                                           rowsAdded: Long,
                                           batchSchema: StructType,
                                           frows: Seq[Long] = Seq.empty): Long = {
    require(files.nonEmpty, "commitWrittenAppend needs at least one data file")
    val nw = FileSet(files, stats, frows = alignLens(frows, files.length))
    publish("append",
      base => appendedFileSet(base, nw),
      base => (if (base == 0) 0L else snapshot(base).rows) + rowsAdded,
      base => Some(evolveSchema(tipSchemaOf(base), batchSchema).json))
  }

  /** Manifest-only overwrite of pre-written files (INSERT OVERWRITE /
    * truncate-mode DSv2 write). `dataChange=false` is the CREATE-TABLE
    * bootstrap (an empty table changes no data — feeds and streams must
    * not trip the insert-only contract on it); truncating/overwriting
    * an existing table IS a data change and keeps the default. */
  private[sources] def commitWrittenOverwrite(files: Seq[String], stats: Seq[ColStats],
                                              rows: Long,
                                              batchSchema: StructType,
                                              dataChange: Boolean = true,
                                              frows: Seq[Long] = Seq.empty): Long = {
    require(files.nonEmpty, "commitWrittenOverwrite needs at least one data file")
    publish("overwrite",
      base => FileSet(files, stats, seqs = Seq.fill(files.length)(base + 1),
        frows = alignLens(frows, files.length)),
      _ => rows,
      _ => Some(normalizeSchema(batchSchema).json),
      dataChange = dataChange)
  }

  /** Publish pre-written files as the FULL new table contents exactly at
    * `base + 1` — the SQL row-level DML commit (DELETE/UPDATE/MERGE
    * rewritten group-based, copy-on-write): the caller's scan read
    * version `base`, so the replacement is valid only while `base` is
    * still the tip. None = a concurrent writer got there first; the
    * caller must surface the conflict (a blind retry would erase the
    * concurrent commit's rows — snapshot-isolation validation, the same
    * discipline as [[commitRewrite]]). */
  private[sources] def commitWrittenReplaceAtBase(base: Long, action: String,
                                                  files: Seq[String],
                                                  stats: Seq[ColStats], rows: Long,
                                                  batchSchema: StructType,
                                                  frows: Seq[Long] = Seq.empty): Option[Long] = {
    require(files.nonEmpty, s"$action replace needs at least one data file")
    publishAtBase(base, action,
      FileSet(files, stats, seqs = Seq.fill(files.length)(base + 1),
        frows = alignLens(frows, files.length)),
      rows, Some(normalizeSchema(batchSchema).json))
  }

  /** Publish pre-written files as the replacement of EXACTLY
    * `removedRel` (relative paths), re-listing every other tip file
    * untouched — the pruned row-level DML commit: a selective SQL
    * UPDATE/DELETE/MERGE scans only the files whose stats bands can
    * match its predicate, rewrites those, and this commit carries the
    * rest forward by identity (same path, same stats, same sequence),
    * so the statement's I/O tracks MATCHED bytes, not table size.
    * MOR bookkeeping carries forward unchanged: kept files keep their
    * sequences (existing delete files still apply to them at read),
    * replacement files get sequence `base + 1` (newer than every
    * delete, so none applies — their rows were already read THROUGH
    * the deletes by the DML scan, which absorbs them for the rewritten
    * files). Exact row accounting costs one count over ONLY the
    * removed files (through their deletes) — still O(matched), never
    * O(table).
    *
    * FILE-DISJOINT OPTIMISTIC CONCURRENCY: on a lost publish race the
    * statement does NOT immediately surface a conflict — it knows the
    * exact file set it read and replaced, so when every concurrent
    * commit in the window is provably disjoint from that set it
    * auto-rebases onto the new tip and re-publishes (the same
    * rebase-and-retry discipline [[compactRange]] uses). Disjoint
    * means, checked against the new tip: (a) every removed file is
    * still listed (nobody compacted/rewrote/deleted what we rewrote —
    * files are immutable, so presence IS identity); (b) the equality
    * delete-file vector is byte-identical (a new delete could apply to
    * our rewritten rows, which were read through only the deletes at
    * `base`; an absorbed one means data files changed); (c) the
    * recorded schema is identical (our parquet files encode `base`'s
    * physical schema). Concurrent APPENDs therefore never conflict
    * with a pruned UPDATE/DELETE/MERGE — the statement ran against its
    * snapshot and leaves concurrently-inserted rows untouched (the
    * write-snapshot-isolation level Delta calls WriteSerializable);
    * overlapping rewrites still return None and the caller surfaces
    * the conflict, because a blind retry would erase the concurrent
    * commit's version of the shared files. */
  private[sources] def commitWrittenRewriteFiles(base: Long, action: String,
                                                 removedRel: Seq[String],
                                                 files: Seq[String],
                                                 stats: Seq[ColStats], addedRows: Long,
                                                 batchSchema: StructType,
                                                 frows: Seq[Long] = Seq.empty): Option[Long] = {
    val removed = removedRel.toSet
    // matched-row count is invariant across safe rebases (same removed
    // files, same applicable deletes) — pay its scan once
    var removedRowsMemo: Option[Long] = None
    rebasing("commitWrittenRewriteFiles", base, _ => removed) { (at, snapAt, prev) =>
      val unknown = removed.diff(prev.files.toSet)
      require(unknown.isEmpty,
        s"$action rewrite at $root: removed files not in v$at's manifest: " +
          unknown.mkString(", "))
      val keptIdx = prev.files.indices.filterNot(i => removed.contains(prev.files(i)))
      val removedIdx = prev.files.indices.filter(i => removed.contains(prev.files(i)))
      val removedRows = removedRowsMemo.getOrElse {
        val r = if (removedIdx.isEmpty) 0L
                else morPlan(snapAt, removedIdx, mergeSchema = false).count()
        removedRowsMemo = Some(r)
        r
      }
      // fresh DSv2-writer files carry no length yet: publish stats them
      val fls = spliced(keeping(prev, keptIdx),
        FileSet(files, stats, frows = frows), at + 1)
      require(fls.files.nonEmpty,
        s"$action rewrite at $root would publish a file-less manifest")
      // row-level DML never evolves the schema: publish the base's
      // recorded one so time travel and change feeds stay consistent
      publishAtBase(at, action, fls, snapAt.rows - removedRows + addedRows,
        snapAt.schemaJson.orElse(Some(normalizeSchema(batchSchema).json)))
        .map(Some(_))
    }
  }

  /** The file-disjoint rebase of the SQL DML commits: the first attempt
    * runs at the statement's `base`; after a lost race the next runs at
    * the new tip only when the window provably left the statement's
    * inputs alone — the tip still lists every `required` file of the
    * last attempt's base (files are immutable, so presence IS identity),
    * with the same delete vector and schema. Otherwise, or when the
    * collision left no newer tip, the result is None: a conflict the
    * caller surfaces. `attempt` receives (base, its snapshot, its files)
    * and returns what [[publishAtBase]] returned, or Some(None) for a
    * conflict it detected itself. */
  private def rebasing(op: String, base: Long, required: FileSet => Set[String])
                      (attempt: (Long, Snapshot, FileSet) => Option[Option[Long]])
      : Option[Long] = {
    var last: Option[(Long, Snapshot, FileSet)] = None
    commitLoop(op, Some(base)) { at =>
      val snapAt = snapshot(at)
      val prev = fileSetOf(snapAt)
      val disjoint = last.forall { case (was, wasSnap, wasFls) =>
        at > was && required(wasFls).subsetOf(prev.files.toSet) &&
          prev.deletes == wasFls.deletes && snapAt.schemaJson == wasSnap.schemaJson
      }
      if (!disjoint) Some(None)
      else {
        last = Some((at, snapAt, prev))
        attempt(at, snapAt, prev)
      }
    }
  }

  /** Per-file delete-KEY bands from a written key FileSet, aligned to
    * `kf.files`. Single stats-column key: the raw per-file band, as
    * always. COMPOSITE key (2-8 stats columns): the per-column bands
    * interleave into ONE z-value band via [[BandKeys.zBand]] —
    * dominance-monotone, so every key tuple in the file's per-column
    * box lands inside [zBand(mins), zBand(maxs)] and `countRange`/fsck
    * can prove band-disjointness against a data file's own z box
    * instead of declining to the conservative scan. Files where any
    * key column lacks exact stats (or carries NULL keys) record the
    * sentinel band, which overlaps everything — conservative, never
    * unsound. */
  private def deleteKeyBands(keyCols: Seq[String], kf: FileSet)
      : (Seq[Long], Seq[Long]) = {
    val n = kf.files.length
    def unknown = (Seq.fill(n)(UnknownMin), Seq.fill(n)(UnknownMax))
    if (keyCols.isEmpty || keyCols.length > 8 ||
        !keyCols.forall(statsCols.contains)) return unknown
    val perCol = keyCols.map { c =>
      val cs = kf.stats(statsCols.indexOf(c))
      (alignOr(cs.mins, n, UnknownMin), alignOr(cs.maxs, n, UnknownMax),
        alignOr(cs.nulls, n, 1L))
    }
    if (keyCols.length == 1) (perCol.head._1, perCol.head._2)
    else {
      val rows = (0 until n).map { j =>
        val mins = perCol.map(_._1(j))
        val maxs = perCol.map(_._2(j))
        val ok = perCol.forall(_._3(j) == 0L) &&
          mins.forall(_ != UnknownMin) && maxs.forall(_ != UnknownMax) &&
          mins.zip(maxs).forall { case (lo, hi) => lo <= hi }
        if (ok) (BandKeys.zBand(mins), BandKeys.zBand(maxs))
        else (UnknownMin, UnknownMax)
      }
      (rows.map(_._1), rows.map(_._2))
    }
  }

  /** Exact count of v`base`'s live rows whose key appears in the
    * delete-key files — the row-accounting + key-uniqueness guard of
    * every MOR commit. With a known key BAND (single key column, exact
    * folded stats) the scan prunes to the files whose stats band
    * overlaps the deleted-key range: every key lies inside the band, so
    * pruned files hold no matching row and the count stays exact —
    * a point delete on a clustered 100 TB table counts O(overlapping
    * files), not O(table). */
  private def countMatchingKeys(base: Long, keyFiles: Seq[String],
                                keyCols: Seq[String],
                                keyBand: Option[(Long, Long)]): Long = {
    import org.apache.spark.sql.functions.col
    val keys = spark.read
      .parquet(keyFiles.map(f => new Path(dataDir, f).toString): _*)
      .select(keyCols.map(col): _*).distinct()
    val scanned = keyBand match {
      case Some((lo, hi)) if keyCols.length == 1 && statsCols.contains(keyCols.head) =>
        readPruned(Pruning(bands = Map(keyCols.head -> ((lo, hi)))), base)._1
      case _ => read(base)
    }
    scanned.join(keys, keyCols, "left_semi").count()
  }

  /** Publish PRE-WRITTEN delete-key files AND data files as ONE
    * merge-on-read row delta at exactly `base + 1` — the SQL `DELETE` /
    * `UPDATE` / `MERGE INTO` commit when the table opts in via
    * `write.delete.mode` / `write.update.mode` / `write.merge.mode` =
    * 'merge-on-read': the matched rows' pre-image keys become equality
    * deletes, the updated/inserted rows (none for a DELETE, whose
    * `batchSchema` may have no columns) append as fresh data files, and
    * NO existing data file is rewritten — statement cost tracks changed
    * rows. Sequencing: both lists carry `base + 1`; the deletes apply
    * only to STRICTLY older data files, so the statement's own
    * replacement rows survive while every older copy of a touched key
    * is removed. `deltaDeleteRows` = the delta writers' delete()+update()
    * calls. The exact-count scan doubles as the key-uniqueness guard: an
    * equality delete removes EVERY live row sharing a matched key, so if
    * that count differs from the statement's, executing it would delete
    * rows the statement never named (key not row-unique) or silently
    * miss NULL-keyed rows (NULL never equality-matches) — refuse loudly
    * either way. Same at-base snapshot-isolation validation as every SQL
    * DML commit. */
  private[sources] def commitWrittenRowDelta(base: Long, action: String,
                                             keyFiles: Seq[String],
                                             keyCols: Seq[String],
                                             deltaDeleteRows: Long,
                                             dataFiles: Seq[String],
                                             dataStats: Seq[ColStats],
                                             insertedRows: Long,
                                             batchSchema: StructType,
                                             keyBand: Option[(Long, Long)] = None,
                                             dataFrows: Seq[Long] = Seq.empty,
                                             keyFrows: Seq[Long] = Seq.empty,
                                             keyBands: Seq[(Long, Long)] = Seq.empty)
      : Option[Long] = {
    keyCols.foreach(jsonSafe(_, "delete-key column"))
    // FILE-DISJOINT OPTIMISTIC CONCURRENCY, MOR flavor: a lost race
    // auto-rebases when the window held only appends (files superset,
    // delete vector and schema identical) AND a RECOUNT at the new tip
    // still matches the statement's count — the recount is the whole
    // proof: equal means the concurrent appends hold no matched key (the
    // published delta, outsequencing them, removes exactly the
    // statement's rows); greater means they do, and deleting rows the
    // statement never matched must surface as a conflict. The recount
    // reuses the commit's own key-band-pruned scan — O(overlapping
    // files), the cost the original commit already paid once.
    // fresh executor files (data and delete): publish stats them
    val added = FileSet(dataFiles, dataStats, frows = dataFrows,
      deletes = keyFiles, deleteKey = keyCols, drows = keyFrows,
      dmins = keyBands.map(_._1), dmaxs = keyBands.map(_._2))
    rebasing("commitWrittenRowDelta", base, _.files.toSet) { (at, snapAt, prev) =>
      val removed =
        if (keyFiles.isEmpty) 0L
        else {
          require(prev.deleteKey.isEmpty || prev.deleteKey == keyCols,
            s"table at $root already carries MOR deletes keyed by " +
              s"(${prev.deleteKey.mkString(",")}); got (${keyCols.mkString(",")})")
          countMatchingKeys(at, keyFiles, keyCols, keyBand)
        }
      if (at == base)
        require(removed == deltaDeleteRows,
          s"merge-on-read $action at $root: the statement matched " +
            s"$deltaDeleteRows rows but an equality delete on " +
            s"(${keyCols.mkString(",")}) would remove $removed — " +
            "write.delete.key must be row-unique and non-null for the " +
            "matched rows (use copy-on-write mode otherwise)")
      if (removed != deltaDeleteRows) Some(None) // concurrent appends carry matched keys
      // row-level DML never evolves the schema: keep the base's recorded
      // one (a column-less DELETE row schema never stands in for it)
      else publishAtBase(at, action, spliced(prev, added, at + 1),
        snapAt.rows - removed + insertedRows,
        snapAt.schemaJson.orElse(Some(batchSchema).filter(_.nonEmpty)
          .map(normalizeSchema(_).json))).map(Some(_))
    }
  }

  /** Classify every file of `version` against contiguous predicate
    * bands: 1 = FULLY INSIDE (every conjunct true for every row — band
    * containment with a known-ZERO null count, since the predicates
    * reject NULLs but a null row must survive a delete that never
    * named it), 0 = fully outside (some conjunct false for every
    * non-null row; null rows don't match either), -1 = straddler /
    * unknown stats. Empty files (inverted band) classify outside —
    * kept, harmless. */
  private def classifyByBands(version: Long,
                              bands: Map[String, (Long, Long)],
                              unions: Seq[(String, Seq[(Long, Long)])] = Seq.empty)
      : (Snapshot, Seq[Int]) = {
    val s = snapshot(version)
    val fl = fileSetOf(s)
    def cs(c: String) = fl.stats(statsCols.indexOf(c))
    val classes = fl.files.indices.map { i =>
      val inside = bands.forall { case (c, (lo, hi)) =>
        val st = cs(c)
        st.mins(i) >= lo && st.maxs(i) <= hi &&
          st.maxs(i) >= st.mins(i) && st.nulls(i) == 0L
      } && unions.forall { case (c, ivs) =>
        // containment in a union of COALESCED (disjoint, non-adjacent)
        // intervals is containment in a single one; gaps leave the file
        // a straddler (conservative — rows might all dodge the gap,
        // but the bands cannot prove it)
        val st = cs(c)
        st.maxs(i) >= st.mins(i) && st.nulls(i) == 0L &&
          ivs.exists { case (lo, hi) => st.mins(i) >= lo && st.maxs(i) <= hi }
      }
      lazy val outside = bands.exists { case (c, (lo, hi)) =>
        val st = cs(c); st.maxs(i) < lo || st.mins(i) > hi
      } || unions.exists { case (c, ivs) =>
        val st = cs(c)
        ivs.forall { case (lo, hi) => st.maxs(i) < lo || st.mins(i) > hi }
      }
      if (inside) 1 else if (outside) 0 else -1
    }
    (s, classes)
  }

  /** Whether a metadata-only DELETE can serve these bands RIGHT NOW:
    * every file fully inside or fully outside, and at least one file
    * stays (a file-less manifest is unreadable — an all-files delete
    * falls back to the row-level rewrite, which writes its
    * schema-bearing empty file). Advisory: [[commitDeleteByBands]]
    * re-classifies per publish attempt. */
  private[sources] def canDeleteByBands(
      bands: Map[String, (Long, Long)],
      unions: Seq[(String, Seq[(Long, Long)])] = Seq.empty): Boolean = {
    if ((bands.isEmpty && unions.isEmpty) ||
        !bands.keys.forall(statsCols.contains) ||
        !unions.forall(u => statsCols.contains(u._1))) return false
    val tip = latestVersion()
    if (tip == 0) return false
    val (_, classes) = classifyByBands(tip, bands, unions)
    !classes.contains(-1) && classes.contains(0)
  }

  /** METADATA-ONLY DELETE: drop every file whose rows ALL match the
    * contiguous predicate bands — a manifest re-list, zero data files
    * read or written except the exact-count scan over ONLY the dropped
    * files (through their MOR deletes). The scale limit case of the
    * pruned row-level path: a partition-drop-shaped `DELETE FROM …
    * WHERE day BETWEEN a AND b` on a 100 TB clustered table is a
    * manifest edit. None = the predicate matched no file (no version
    * published — the no-op contract). A straddler at publish time
    * (the classification raced a concurrent writer past
    * [[canDeleteByBands]]) fails loudly: falling back to a rewrite
    * here would need the row-level plan Spark already discarded. */
  private[sources] def commitDeleteByBands(
      bands: Map[String, (Long, Long)],
      unions: Seq[(String, Seq[(Long, Long)])] = Seq.empty): Option[Long] = {
    require((bands.nonEmpty || unions.nonEmpty) &&
        bands.keys.forall(statsCols.contains) &&
        unions.forall(u => statsCols.contains(u._1)),
      s"metadata delete needs contiguous bands/range-unions on stats " +
        s"columns (${statsCols.mkString(",")}); got " +
        s"${(bands.keys ++ unions.map(_._1)).mkString(",")}")
    commitLoop("commitDeleteByBands") { base =>
      require(base > 0, s"DELETE on empty table at $root")
      val (snapBase, classes) = classifyByBands(base, bands, unions)
      require(!classes.contains(-1),
        s"metadata DELETE at $root: a file straddles the predicate band " +
          "(a concurrent commit re-shaped the table mid-statement); " +
          "re-run the statement")
      val removedIdx = classes.indices.filter(classes(_) == 1)
      if (removedIdx.isEmpty) Some(None) // matched nothing: no version
      else {
        val keptIdx = classes.indices.filter(classes(_) == 0)
        require(keptIdx.nonEmpty,
          s"metadata DELETE at $root would drop every file — re-run " +
            "(concurrent writer); a full delete takes the row-level path")
        val fl = fileSetOf(snapBase)
        // with per-file row counts recorded and NO MOR delete applying to
        // any dropped file, the exact count is metadata too — this was
        // the metadata DELETE's one remaining scan
        val fr = alignLens(fl.frows, fl.files.length)
        val removedRows =
          if (removedIdx.forall(i => fr(i) >= 0L &&
              fl.deleteSeqs.forall(_ <= fl.seqs(i))))
            removedIdx.map(fr).sum
          else morPlan(snapBase, removedIdx, mergeSchema = false).count()
        // a lost race re-classifies on the new tip
        publishAtBase(base, "delete", keeping(fl, keptIdx),
          snapBase.rows - removedRows, snapBase.schemaJson).map(Some(_))
      }
    }
  }

  // ----- table-properties sidecar ----------------------------------

  // table properties are CONFIGURATION, not data: one set per table,
  // shared by every branch (a branch stages data, not admin settings)
  private def propsPath = new Path(mainSnapsDir, "_props.json")

  /** Table properties (`_snapshots/_props.json`): catalog-level
    * CONFIGURATION — e.g. `write.delete.mode` / `write.delete.key` —
    * kept OUTSIDE the versioned manifest chain: changing a property is
    * an admin action, not a data change, so it publishes no version
    * and is not time-traveled. Written whole on CREATE/ALTER (last
    * writer wins; concurrent property edits are an operator error, not
    * a data race — data commits never touch this file). Absent file =
    * no properties. */
  def tableProperties: Map[String, String] = {
    if (!probeExists(propsPath)) return Map.empty
    val in = fs.open(propsPath)
    val txt = try {
      val bytes = new Array[Byte](fs.getFileStatus(propsPath).getLen.toInt)
      in.readFully(bytes); new String(bytes, "UTF-8")
    } finally in.close()
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Replace the property set (validated JSON-safe). Empty map deletes
    * the sidecar. */
  def setTableProperties(props: Map[String, String]): Unit = {
    if (props.isEmpty) { fs.delete(propsPath, false); return }
    val body = props.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""${jsonSafe(k, "property key")}": "${jsonSafe(v, "property value")}""""
    }.mkString("{\n  ", ",\n  ", "\n}\n")
    fs.mkdirs(snapsDir)
    val out = fs.create(propsPath, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Total live data bytes at `version` (default: tip) — recorded
    * lengths from the manifest; any unknown entry resolves with one
    * HEAD, never a file read. The size half of a metadata-served
    * ANALYZE. */
  def dataBytes(version: Long = -1L): Long = {
    val v = if (version < 0) latestVersion() else version
    require(v > 0, s"empty table at $root")
    val fls = ensureLens(fileSetOf(snapshot(v)))
    alignLens(fls.lens, fls.files.length).filter(_ >= 0L).sum
  }

  /** The tip's recorded stats columns (empty on an empty/stats-less
    * table) — what a by-name consumer (catalog, sink) opens handles
    * with so appended manifests carry the skipping index forward. */
  def tipStatsCols: Seq[String] = {
    val tip = latestVersion()
    if (tip == 0) Seq.empty else snapshot(tip).statsCols
  }

  /** This handle's stats columns (what its published manifests index). */
  private[sources] def statsColumns: Seq[String] = statsCols

  /** Everything a self-contained DSv2 Batch scan of `version` needs:
    * absolute file paths + lengths, MOR bookkeeping, and the pinned
    * schema ([[SnapshotDmlScan]] — the row-level DML read). Lengths come
    * from one getFileStatus per file: planning cost O(files), no data
    * read. */
  private[sources] def dmlSpec(version: Long): SnapshotDmlSpec =
    dmlSpecPruned(version, Pruning())._1

  /** [[dmlSpec]] PRUNED to the files [[prunedKeep]] admits under
    * `pruning` (the row-level statement's pushed conjuncts — the same
    * lanes and admission rule as [[readPruned]], bloom filters
    * included). Also returns the RELATIVE paths of the planned files
    * (what [[commitWrittenRewriteFiles]] must remove) and whether the
    * scan covers the full table. Soundness: a pruned file provably holds no
    * row the statement's predicate matches (bands cover every non-null
    * value, a bloom filter never drops a stored key, and the pushed
    * predicates reject NULLs), so keeping it OUT of the scan and
    * re-listing it untouched preserves exactly its rows — files with
    * unknown/absent stats always overlap and are never pruned. */
  private[graft] def dmlSpecPruned(version: Long, pruning: Pruning)
      : (SnapshotDmlSpec, Seq[String], Boolean) = {
    val got = admitted(pruning, version)
    require(got.nonEmpty, s"no committed snapshot to rewrite at $root")
    val Admission(s, fl, keep) = got.get
    def abs(rel: String) = new Path(dataDir, rel)
    def len(p: Path): Long = statOf(p).getLen
    val spec = SnapshotDmlSpec(
      // data-file AND delete-file lengths come from the manifest: a
      // DML plan on a lens-recording table touches the filesystem zero
      // times (getFileStatus only under a pre-lens manifest)
      files = keep.map(i => { val p = abs(fl.files(i))
        (p.toString, if (fl.lens(i) >= 0L) fl.lens(i) else len(p)) }),
      seqs = keep.map(fl.seqs),
      deletes = fl.deletes.indices.map { j => val p = abs(fl.deletes(j))
        (p.toString, if (fl.deleteLens(j) >= 0L) fl.deleteLens(j) else len(p)) },
      deleteSeqs = fl.deleteSeqs,
      deleteKey = fl.deleteKey,
      schema = s.schemaJson.map(parseSchema).getOrElse(read(version).schema))
    (spec, keep.map(fl.files), keep.length == fl.files.length)
  }

  /** Fail-fast evolution gate for a distributed append: validates the
    * batch schema against the tip's BEFORE any executor writes a byte.
    * The publish path re-evolves per attempt, so a concurrent
    * incompatible commit still fails loudly at commit time. */
  private[sources] def validateAppendSchema(batch: StructType): Unit = {
    evolveSchema(tipSchemaOf(latestVersion()), batch)
    ()
  }

  /** `ALTER TABLE ... ADD COLUMN` as a schema-only commit: a new version
    * re-listing the tip's files under the EVOLVED schema (dataChange =
    * false — feeds deliver nothing). Existing files null-fill the added
    * column natively in the parquet reader; time travel below this
    * version still reads the old schema. The column must be new and the
    * table non-empty (create the table with its schema otherwise).
    * A name retired by RENAME/DROP (tombstoned — its bytes still live in
    * old files) gets a fresh version-stamped PHYSICAL name via the
    * column mapping, so the old values can never resurrect. */
  def commitAddColumn(column: String, dataType: DataType): Long = {
    require(latestVersion() > 0, s"ADD COLUMN on empty table at $root")
    // schema re-derived per publish attempt: a concurrent commit's own
    // (additive) evolution must not be clobbered by a stale capture
    publish("alter", base => fileSetOf(snapshot(base)),
      base => snapshot(base).rows,
      base => {
        val cur = snapshot(base).schemaJson.map(parseSchema).getOrElse(read(base).schema)
        require(!cur.fieldNames.contains(column),
          s"column '$column' already exists at $root")
        val dead = ColumnMapping.parseTombstones(tableProperties)
        val physTaken = dead ++
          cur.fields.map(ColumnMapping.physicalName).toSet
        val fresh = StructField(column, dataType, nullable = true)
        val field =
          if (!physTaken.contains(column)) fresh
          else {
            // the generated fresh physical name must itself be unclaimed
            // (a previous ADD at the same base, or a perverse batch
            // column, may already own '<col>__vN'): bump the suffix
            // until free — finite, physTaken is finite
            var cand = s"${column}__v${base + 1}"
            var bump = 0
            while (physTaken.contains(cand)) {
              bump += 1
              cand = s"${column}__v${base + 1}_$bump"
            }
            ColumnMapping.withPhysical(fresh, cand)
          }
        Some(normalizeSchema(StructType(cur.fields :+ field)).json)
      },
      dataChange = false)
  }

  /** `ALTER TABLE ... ALTER COLUMN c TYPE <wider>` as a SCHEMA-ONLY
    * commit: zero files rewritten. The new version re-lists the tip's
    * files under the widened schema; reads pin that schema and the
    * parquet readers upcast the narrower stored values (INT32 under a
    * LONG read schema, FLOAT under DOUBLE) — the same mechanism
    * append-time widening ([[evolveSchema]]) already relies on. Only
    * WIDENING is a metadata operation (the stored values are all
    * representable in the target type); narrowing would need a
    * validating rewrite and is refused. Stats bands, blooms and
    * metadata-delete semantics survive untouched: every integral's band
    * key IS its long value. Time travel below this version reads the
    * old type. The current MOR delete-key column refuses (registered
    * equality-delete files carry the narrow key type; a mixed-footer
    * key read would be nondeterministic — compact() first). */
  def commitWidenColumn(column: String, to: DataType): Long = {
    require(latestVersion() > 0, s"ALTER COLUMN TYPE on empty table at $root")
    publish("alter", base => fileSetOf(snapshot(base)),
      base => snapshot(base).rows,
      base => {
        val cur = snapshot(base).schemaJson.map(parseSchema)
          .getOrElse(read(base).schema)
        val i = cur.fieldNames.indexOf(column)
        require(i >= 0, s"no column '$column' at $root " +
          s"(have: ${cur.fieldNames.mkString(", ")})")
        val from = cur.fields(i).dataType
        require(from != to,
          s"column '$column' at $root already has type ${to.simpleString}")
        require(widen(from, to).contains(to),
          s"ALTER COLUMN TYPE on '$column' at $root: ${from.simpleString} " +
            s"-> ${to.simpleString} is not a widening (allowed: integral " +
            "widening, float -> double); narrowing or reshaping is a rewrite")
        require(!fileSetOf(snapshot(base)).deleteKey.contains(column),
          s"column '$column' at $root is the merge-on-read delete key — " +
            "its registered delete files carry the narrow type; compact() " +
            "to absorb them, then widen")
        Some(normalizeSchema(
          StructType(cur.fields.updated(i,
            cur.fields(i).copy(dataType = to)))).json)
      },
      dataChange = false)
  }

  /** `ALTER TABLE ... RENAME COLUMN` as a pure schema commit (Delta's
    * column-mapping shape): the field's PHYSICAL name — what its data
    * files store — never changes; only the logical name does, recorded
    * with `graft.physical` metadata in the new version's schema. Zero
    * files rewritten (a 100 TB rename is one manifest), time travel
    * below this version reads the old name, and the departed logical
    * name is tombstoned so no later column can claim its physical bytes.
    * The rename follows the stats-column list (skipping keeps working
    * under the new name); MOR delete-key columns refuse (equality-delete
    * files are keyed by column name — renaming under them would detach
    * every registered delete). */
  def commitRenameColumn(from: String, to: String): Long = {
    require(latestVersion() > 0, s"RENAME COLUMN on empty table at $root")
    jsonSafe(to, "column name")
    // publisher carries the RENAMED stats columns (the skipping index
    // follows the logical name); the base manifest still records the old
    // one, bridged in fileSetOf so the alter commit KEEPS every band
    val publisher = new SnapshotTable(spark, root,
      tipStatsCols.map(c => if (c == from) to else c))
    // tombstone BEFORE publishing: a stray tombstone from a failed
    // publish only version-suffixes a future ADD's physical name; a
    // missing one could resurrect old bytes
    tipSchemaOf(latestVersion()).getOrElse(read().schema).fields
      .find(f => f.name == from && ColumnMapping.physicalName(f) == from)
      .foreach(_ => addTombstone(from))
    val bridge = (c: String) => if (c == to) from else c
    publisher.publish("alter",
      base => publisher.fileSetOf(publisher.snapshot(base), bridge),
      base => publisher.snapshot(base).rows,
      base => {
        val snapBase = publisher.snapshot(base)
        val cur = snapBase.schemaJson.map(parseSchema)
          .getOrElse(read(base).schema)
        require(cur.fieldNames.contains(from),
          s"RENAME COLUMN: no column '$from' at $root " +
            s"(${cur.fieldNames.mkString(",")})")
        require(!cur.fieldNames.contains(to),
          s"RENAME COLUMN: '$to' already exists at $root")
        require(!snapBase.deleteKey.contains(from) &&
          !tableProperties.get("write.delete.key").exists(
            _.split(",").map(_.trim).contains(from)),
          s"RENAME COLUMN: '$from' is a merge-on-read delete key at $root — " +
            "compact() to materialize the deletes first")
        val renamed = StructType(cur.fields.map { f =>
          if (f.name != from) f
          else ColumnMapping.withPhysical(f.copy(name = to),
            ColumnMapping.physicalName(f))
        })
        Some(normalizeSchema(renamed).json)
      },
      dataChange = false)
  }

  /** Register a physical name no future column may claim (monotonic). */
  private def addTombstone(physical: String): Unit = {
    val props = tableProperties
    val dead = ColumnMapping.parseTombstones(props) + physical
    setTableProperties(props +
      (ColumnMapping.TombstonesProp -> ColumnMapping.renderTombstones(dead)))
  }

  /** `ALTER TABLE ... DROP COLUMN` as a pure schema commit: the field
    * leaves the recorded schema (pinned reads of newer versions never
    * fetch it — the parquet reader prunes the column at the file level,
    * so dropped bytes also stop being READ, not just shown); its data
    * stays in the files for time travel. The physical name is
    * tombstoned (see [[commitRenameColumn]]). Stats columns drop from
    * the skipping index with the field; delete-key columns refuse. */
  def commitDropColumn(column: String): Long = {
    require(latestVersion() > 0, s"DROP COLUMN on empty table at $root")
    // publisher drops the column from the skipping index too — its
    // fileSetOf realigns the base manifest's stats minus that column
    val publisher = new SnapshotTable(spark, root,
      tipStatsCols.filterNot(_ == column))
    // tombstone BEFORE publishing (see commitRenameColumn)
    tipSchemaOf(latestVersion()).getOrElse(read().schema).fields
      .find(_.name == column)
      .foreach(f => addTombstone(ColumnMapping.physicalName(f)))
    publisher.publish("alter",
      base => publisher.fileSetOf(publisher.snapshot(base)),
      base => publisher.snapshot(base).rows,
      base => {
        val snapBase = publisher.snapshot(base)
        val cur = snapBase.schemaJson.map(parseSchema)
          .getOrElse(read(base).schema)
        require(cur.fieldNames.contains(column),
          s"DROP COLUMN: no column '$column' at $root " +
            s"(${cur.fieldNames.mkString(",")})")
        require(cur.fields.length > 1,
          s"DROP COLUMN would leave $root with no columns")
        require(!snapBase.deleteKey.contains(column) &&
          !tableProperties.get("write.delete.key").exists(
            _.split(",").map(_.trim).contains(column)),
          s"DROP COLUMN: '$column' is a merge-on-read delete key at $root — " +
            "compact() to materialize the deletes first")
        Some(normalizeSchema(
          StructType(cur.fields.filterNot(_.name == column))).json)
      },
      dataChange = false)
  }

  /** Roll-forward rollback: publish a NEW version re-listing `version`'s
    * files. History stays intact — reads of intermediate versions still
    * resolve (the blue-green restore, minus the mutation). The restored
    * version's schema comes back with its files. */
  def rollbackTo(version: Long): Long = {
    val snap = snapshot(version)
    publish("rollback", _ => fileSetOf(snap), _ => snap.rows, _ => snap.schemaJson)
  }

  /** Incremental read: only the rows ADDED between `fromVersion`
    * (exclusive) and `toVersion` (inclusive) — the file-set difference of
    * the two manifests. This is how a downstream incremental consumer
    * (the reference's watermark merge, `main_taico_staging.sql:68-70`,
    * generalized to layout) processes a day's commits without rescanning
    * the table: cost scales with the delta's files, never the table.
    * Overwrite/rollback versions in the range contribute their files only
    * if those files are new relative to `fromVersion` — a file re-listed
    * by a rollback is NOT re-delivered if `fromVersion` already saw it. */
  def readAppendedBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"empty version range: ($fromVersion, $toVersion]")
    // walk the versions: a file counts as delivered-new only the first
    // time a DATA-CHANGING version lists it. Compaction versions
    // (dataChange=false) re-list content in new files — skipping them is
    // what keeps a change-feed consumer from re-receiving the whole
    // table after maintenance (the dataChange contract of the public
    // log-structured formats). Requires the range's manifests to be
    // retained (vacuum drops old ones — bootstrap a fresh consumer from
    // read(tip) instead of version 0 on a vacuumed table).
    val seen = scala.collection.mutable.Set[String]()
    if (fromVersion > 0) seen ++= snapshot(fromVersion).files
    val added = Seq.newBuilder[String]
    ((fromVersion + 1) to toVersion).foreach { v =>
      val s = snapshot(v)
      if (s.dataChange) s.files.foreach { f => if (seen.add(f)) added += f }
      else seen ++= s.files // reorganized files never deliver
    }
    val adds = added.result()
    if (adds.isEmpty) read(toVersion).limit(0)
    else schemaOfOpt(toVersion).filter(ColumnMapping.hasMapping) match {
      // a rename inside the range: physical names are constant across
      // it, so the end-version schema reads every delta file correctly
      case Some(sch) => ColumnMapping.toLogical(
        spark.read.schema(ColumnMapping.physicalSchema(sch))
          .parquet(adds.map(f => new Path(dataDir, f).toString): _*), sch)
      case None =>
        spark.read.parquet(adds.map(f => new Path(dataDir, f).toString): _*)
    }
  }

  /** Change data feed over `(fromVersion, toVersion]`: every row-level
    * change with `_change_type` ('insert' | 'delete') and
    * `_commit_version` — the public CDF shape (an update = delete +
    * insert). Unlike [[readAppendedBetween]] (the append feed), this
    * RETRACTS: a MOR delete emits its pre-image rows as deletes.
    * Per-version cost:
    *  - `dataChange=false` (compaction): nothing — free;
    *  - appends: the version's new files (`seq == v`, manifest-only
    *    detection) as inserts — O(delta files);
    *  - `delete_mor`: pre-image = the prior version's read semi-joined
    *    with the commit's key files — one pruned scan, keys broadcast;
    *  - rewrite actions (overwrite/rollback/upsert/delete): multiset
    *    diff via `exceptAll` both ways — two scans + a shuffle, the
    *    honest cost of deriving changes a copy-on-write commit didn't
    *    record (the reason MOR is the scalable row-level path).
    */
  def readChangeFeed(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"empty version range: ($fromVersion, $toVersion]")
    import org.apache.spark.sql.functions.{col, lit}
    def tagged(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.select(col("*"), lit(tpe).as("_change_type"),
        lit(v).as("_commit_version"))
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      val s = snapshot(v)
      if (!s.dataChange) Seq.empty
      else s.action match {
        case "append" =>
          val fl = fileSetOf(s)
          val fresh = fl.files.indices.filter(i => fl.seqs(i) == v)
          if (fresh.isEmpty) Seq.empty
          else Seq(tagged(morPlan(s, fresh, mergeSchema = false), "insert", v))
        case "delete_mor" =>
          val fl = fileSetOf(s)
          val keyFiles = fl.deletes.indices
            .filter(j => fl.deleteSeqs(j) == v).map(fl.deletes)
          val keys = spark.read
            .parquet(keyFiles.map(f => new Path(dataDir, f).toString): _*)
          Seq(tagged(read(v - 1).join(keys, fl.deleteKey, "left_semi"),
            "delete", v))
        case "update_mor" | "merge_mor" =>
          // delta UPDATE/MERGE = equality deletes + fresh data files in
          // one version: retract the pre-image (prior read semi-joined
          // with this version's keys), insert this version's new files —
          // O(delta + matched pre-image scan), never a full-table diff
          val fl = fileSetOf(s)
          val keyFiles = fl.deletes.indices
            .filter(j => fl.deleteSeqs(j) == v).map(fl.deletes)
          val dels =
            if (keyFiles.isEmpty) Seq.empty
            else {
              val keys = spark.read
                .parquet(keyFiles.map(f => new Path(dataDir, f).toString): _*)
              Seq(tagged(read(v - 1).join(keys, fl.deleteKey, "left_semi"),
                "delete", v))
            }
          val fresh = fl.files.indices.filter(i => fl.seqs(i) == v)
          val ins =
            if (fresh.isEmpty) Seq.empty
            else Seq(tagged(morPlan(s, fresh, mergeSchema = false), "insert", v))
          dels ++ ins
        case "clone" =>
          // a clone manifest is always its chain's FIRST version (there
          // is no v-1 manifest to diff against): the carried content IS
          // the insert set — one pruned-plan read, no exceptAll
          Seq(tagged(read(v), "insert", v))
        case "repair" =>
          // a repair dropped files storage LOST — their rows cannot be
          // produced to retract them (and the generic prev-vs-cur diff
          // would open the damaged files and die). Refuse loudly: a
          // change-feed consumer straddling a repair must reseed from
          // the repaired snapshot.
          sys.error(s"change feed at $root cannot serve v$v: a repair " +
            "dropped files lost to storage damage, so their rows cannot " +
            "be retracted row-wise — reseed consumers from the repaired " +
            s"snapshot (readChangeFeed from >= $v)")
        case _ =>
          // REWRITE-RESTRICTED diff: a copy-on-write commit (CoW
          // update/delete, replaceWhere, rollback, surgical upsert)
          // touches only the files it removed/added — rows in files
          // COMMON to both versions are identical multisets and would
          // cancel in exceptAll anyway, so diffing ONLY the symmetric
          // difference of the file lists yields the same change set at
          // O(changed files) cost instead of two full-table reads.
          // Provable when schema and the delete vector are unchanged
          // and common files keep their sequences (then a common
          // file's VISIBLE rows are bit-identical across the two
          // versions); anything else falls back to the honest full
          // diff — the pinned behavior for diffs this argument cannot
          // cover.
          val restricted =
            if (v - 1 == 0) None
            else {
              val ps = snapshot(v - 1)
              val pf = fileSetOf(ps)
              val cf = fileSetOf(s)
              val common = pf.files.toSet.intersect(cf.files.toSet)
              val pSeq = pf.files.zip(pf.seqs).toMap
              val cSeq = cf.files.zip(cf.seqs).toMap
              val provable =
                ps.schemaJson == s.schemaJson &&
                pf.deletes.zip(pf.deleteSeqs) == cf.deletes.zip(cf.deleteSeqs) &&
                common.forall(f => pSeq(f) == cSeq(f))
              if (!provable) None
              else {
                val remIdx = pf.files.indices
                  .filterNot(i => common(pf.files(i)))
                val addIdx = cf.files.indices
                  .filterNot(i => common(cf.files(i)))
                val pre =
                  if (remIdx.isEmpty) read(v).limit(0)
                  else morPlan(ps, remIdx, mergeSchema = false)
                val post =
                  if (addIdx.isEmpty) read(v).limit(0)
                  else morPlan(s, addIdx, mergeSchema = false)
                Some(Seq(tagged(post.exceptAll(pre), "insert", v),
                         tagged(pre.exceptAll(post), "delete", v)))
              }
            }
          restricted.getOrElse {
            val prev = if (v - 1 == 0) read(v).limit(0) else read(v - 1)
            val cur = read(v)
            Seq(tagged(cur.exceptAll(prev), "insert", v),
                tagged(prev.exceptAll(cur), "delete", v))
          }
      }
    }
    if (parts.isEmpty) tagged(read(toVersion).limit(0), "insert", 0L).limit(0)
    else parts.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** The pure append feed's file list over `(fromVersion, toVersion]`:
    * new files (`seq == v`) of APPEND versions only. Unlike
    * [[readAppendedBetween]] (which delivers any first-listed file, so a
    * rewrite's files — carrying mostly OLD rows — would be re-delivered
    * as new), this is the list a streaming consumer can treat as
    * insert-only; the caller decides what non-append data changes in the
    * range mean (error, skip, or switch to [[readChangeFeed]]). */
  def appendFilesBetween(fromVersion: Long, toVersion: Long): Seq[String] =
    appendDelta(fromVersion, toVersion)._1.map(_._1)

  /** Actions in `(fromVersion, toVersion]` that change data but are NOT
    * plain appends — the versions an insert-only consumer must be told
    * about ((version, action) pairs; compaction is excluded, it changes
    * nothing). */
  def nonAppendChangesBetween(fromVersion: Long, toVersion: Long): Seq[(Long, String)] =
    appendDelta(fromVersion, toVersion)._2

  /** One manifest walk serving both feed questions: (append files to
    * deliver, non-append data changes to warn about). Feed consumers
    * need both per batch — parsing each manifest once instead of twice
    * halves the metadata I/O on the path advertised as O(delta files). */
  def appendDelta(fromVersion: Long, toVersion: Long)
      : (Seq[(String, Long)], Seq[(Long, String)]) = {
    val files = Seq.newBuilder[(String, Long)]
    val changes = Seq.newBuilder[(Long, String)]
    ((fromVersion + 1) to toVersion).foreach { v =>
      val s = snapshot(v)
      if (s.dataChange) {
        if (s.action == "append") {
          val fl = fileSetOf(s)
          fl.files.indices.filter(i => fl.seqs(i) == v)
            .foreach(i => files += ((fl.files(i), fl.lens(i))))
        } else changes += ((v, s.action))
      }
    }
    (files.result(), changes.result())
  }

  /** Read a manifest-relative file list as a DataFrame (empty list →
    * empty frame with the tip's schema). A tip schema with column
    * mapping pins the read (physical names → logical projection);
    * unmapped tables keep the footer-inferred read. */
  private[sources] def readFiles(files: Seq[String]): DataFrame =
    if (files.isEmpty) read().limit(0)
    else tipSchemaOf(latestVersion()).filter(ColumnMapping.hasMapping) match {
      case Some(sch) => ColumnMapping.toLogical(
        spark.read.schema(ColumnMapping.physicalSchema(sch))
          .parquet(files.map(f => new Path(dataDir, f).toString): _*), sch)
      case None =>
        spark.read.parquet(files.map(f => new Path(dataDir, f).toString): _*)
    }

  /** Read a manifest-relative file list PINNED to `schema` — the
    * streaming source's schema-following read: a running stream keeps
    * its start-time schema, so delta files that have since evolved
    * ADDITIVELY still deliver (extra columns pruned by the reader),
    * files predating a pinned column null-fill it, and narrower files
    * widen (int→long, float→double) natively. An INCOMPATIBLE change
    * (a pinned column's type no longer readable from the file) stays
    * loud in the parquet reader — restart the query to adopt the
    * evolved schema. */
  private[sources] def readFilesAs(files: Seq[(String, Long)], schema: StructType): DataFrame =
    // manifest-planned (see morPlan): statuses from the manifest's
    // recorded lengths, no per-batch listing job — a streaming source
    // plans its delta files without touching the object store AT ALL
    // (pre-lens manifests fall back to one HEAD per file). Column-mapped
    // schemas read physical names, project logical (identity otherwise).
    ColumnMapping.toLogical(
      bridge.manifestParquetFrame(spark,
        files.map { case (f, l) => statusOf(f, l) },
        ColumnMapping.physicalSchema(schema)),
      schema)

  /** Compaction as a COMMIT: rewrite the tip at ~`targetRowsPerFile`
    * rows per file and publish it as a `dataChange=false` version — same
    * contents, fewer/bigger files, atomically switched, time travel to
    * the small-file versions intact, and change-feed consumers skip it
    * entirely. The streaming-sink small-file problem ([[Sources
    * .compactTable]]'s in-place rewrite) solved the transactional way. */
  def compact(targetRowsPerFile: Long): Long =
    compact(targetRowsPerFile, clusterBy = None)

  /** Compaction with optional RANGE CLUSTERING (`OPTIMIZE ... ZORDER`'s
    * single-column shape): `clusterBy = Some(col)` routes the rewrite
    * through `repartitionByRange(col)`, so each compacted file covers a
    * tight, near-disjoint band of the column — the manifest's min/max
    * stats then make [[readRange]] plan O(matching files) and
    * [[commitReplaceWhere]] manifest-only (no straddlers). Maintenance
    * chooses layout; readers and writers are unchanged.
    *
    * Compaction is ALSO the band-semantics upgrade point: a full
    * rewrite recomputes every live file's stats, so a legacy bandsV-1
    * table re-keys them under the CURRENT semantics and publishes the
    * marker — the one safe place to migrate (partial upgrades would mix
    * key spaces inside one manifest's carried-forward stats). Time
    * travel below the compaction keeps the old manifests' v1 rules. */
  def compact(targetRowsPerFile: Long,
              clusterBy: Option[String]): Long =
    compact(targetRowsPerFile, clusterBy.toSeq)

  /** [[compact]] with MULTI-column clustering: one column range-clusters
    * as before; 2-8 columns interleave into a Z-order (Morton) key
    * ([[graft.operators.Layout.zValueN]]) so each rewritten file covers a
    * tight RECTANGLE of the clustering space — per-file stats bands
    * become selective on EVERY clustering column, not just the first
    * (the "OPTIMIZE ZORDER BY" layout story on the snapshot format;
    * range-sort on A alone leaves a filter on B reading every file).
    * Z-order contract matches Layout's: non-negative integral columns,
    * quantize continuous domains first. */
  def compact(targetRowsPerFile: Long, clusterByCols: Seq[String]): Long =
    commitLoop("compact") { base =>
      require(base > 0, s"nothing to compact at $root")
      val snapBase = snapshot(base)
      val cur = read(base)
      val n = math.max(1L, math.ceil(
        snapBase.rows.toDouble / targetRowsPerFile).toLong).toInt
      import org.apache.spark.sql.functions.col
      val zCol = "__graft_zorder"
      require(!cur.columns.contains(zCol), s"column name '$zCol' is reserved")
      val arranged = clusterByCols match {
        case Seq() => cur.repartition(n)
        case Seq(c) => cur.repartitionByRange(n, col(c))
        case cols =>
          cur.withColumn(zCol, graft.operators.Layout.zValueN(cols.map(col)))
            .repartitionByRange(n, col(zCol))
            .sortWithinPartitions(col(zCol))
            .drop(zCol)
      }
      // cur reads THROUGH any MOR deletes, so the rewrite materializes
      // them: the compacted version lists no delete files. Publish is
      // pinned to the base we READ (snapshot-isolation validation, same
      // as commitRewrite): a blind retry at a new base would re-list the
      // stale compacted content and erase a concurrent commit's rows —
      // worse here, tagged dataChange=false so no feed ever corrects it.
      val (raw, rows) = writeDataFiles(arranged, BandKeys.CurrentBandsV)
      publishAtBase(base, "compact", raw.copy(seqs = Seq.fill(raw.files.length)(base + 1)),
        rows, snapBase.schemaJson, dataChange = false,
        bandsVOverride = Some(BandKeys.CurrentBandsV), written = raw.files)
    }

  /** BAND-SCOPED compaction — Delta's `OPTIMIZE WHERE` shape: rewrite
    * ONLY the files whose `column` band overlaps `[lo, hi]` (band keys,
    * [[BandKeys]] semantics), range-clustered on that column, and
    * re-list every other file BY IDENTITY. This is hot-partition
    * maintenance at 100 TB: yesterday's five hundred streaming
    * micro-files fold into a handful without touching the cold years a
    * full [[compact]] would rewrite or the table-wide small files
    * [[compactFiles]] would chase. MOR deletes are absorbed for the
    * rewritten files (their replacements outsequence every delete) and
    * keep applying to the untouched rest. Sizing comes from the
    * manifest's recorded per-file row counts (one count job only when
    * some overlapping file predates them). Published dataChange=false —
    * feeds skip it. Returns the tip unchanged when fewer than two files
    * overlap (nothing to fold). */
  def compactRange(column: String, lo: Long, hi: Long,
                   targetRowsPerFile: Long): Long = {
    require(targetRowsPerFile > 0,
      s"compactRange needs a positive target; got $targetRowsPerFile")
    val ci = statsCols.indexOf(column)
    require(ci >= 0,
      s"compactRange on $root: '$column' is not a stats column (${statsCols.mkString(",")})")
    commitLoop("compactRange") { base =>
      require(base > 0, s"nothing to compact at $root")
      val snapBase = snapshot(base)
      val fl = fileSetOf(snapBase)
      val cs = fl.stats(ci)
      // band overlap only, NOT readRange's admission: no bloom test — a
      // point range re-clusters every file whose band covers the key,
      // whether or not it holds it. Unknown bands overlap (they may hold
      // in-range rows, so they join the rewrite)
      val hotIdx = fl.files.indices
        .filter(i => cs.maxs(i) >= lo && cs.mins(i) <= hi)
      if (hotIdx.length <= 1) Some(base)
      else {
        val hot = hotIdx.toSet
        val keptIdx = fl.files.indices.filterNot(hot.contains)
        val fr = alignLens(fl.frows, fl.files.length)
        val hotRows =
          if (hotIdx.forall(fr(_) >= 0L)) hotIdx.map(fr).sum
          else morPlan(snapBase, hotIdx, mergeSchema = false).count()
        val n = math.max(1L,
          (hotRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        val src = morPlan(snapBase, hotIdx, mergeSchema = false)
        val (raw, _) = writeDataFiles(
          src.repartitionByRange(n, bandKeyCol(src, column, snapBase.bandsV)))
        publishAtBase(base, "compact", spliced(keeping(fl, keptIdx), raw, base + 1),
          snapBase.rows, snapBase.schemaJson, dataChange = false, written = raw.files)
      }
    }
  }

  /** SELECTIVE small-file compaction — the maintenance op that survives
    * 100 TB: [[compact]] rewrites the whole table (right for layout
    * changes and the band upgrade, impossible as routine upkeep), this
    * rewrites ONLY the files whose manifest-recorded length is under
    * `minFileBytes` (zero filesystem calls to decide — the manifest IS
    * the listing) and re-lists every other file untouched BY IDENTITY.
    * A streaming sink's small-file debris folds away at O(debris), not
    * O(table).
    *
    * The rewritten subset is read THROUGH any MOR deletes (absorbing
    * them for those files only — the replacement files take sequence
    * `base + 1`, newer than every delete, while kept files keep their
    * sequences so the retained delete files still apply to them).
    * Output sizing comes from the known byte total:
    * ceil(Σ small bytes / targetFileBytes) files. Published
    * `dataChange=false` (same contents — feeds skip it); bandsV is
    * INHERITED, never upgraded (a partial rewrite must not mix key
    * spaces — only the full [[compact]] may migrate). Returns the new
    * version, or the tip when fewer than two files qualify. */
  def compactFiles(minFileBytes: Long, targetFileBytes: Long): Long = {
    require(minFileBytes > 0 && targetFileBytes > 0,
      s"compactFiles needs positive thresholds; got ($minFileBytes, $targetFileBytes)")
    commitLoop("compactFiles") { base =>
      require(base > 0, s"nothing to compact at $root")
      val snapBase = snapshot(base)
      val fl = fileSetOf(snapBase)
      val lens = alignLens(fl.lens, fl.files.length)
      // unknown lengths (-1, pre-lens manifests) can't prove "small":
      // they stay kept — conservative, and the next commit records them
      val smallIdx = fl.files.indices
        .filter(i => lens(i) >= 0L && lens(i) < minFileBytes)
      if (smallIdx.length <= 1) Some(base)
      else {
        val small = smallIdx.toSet // O(1) membership — file lists reach 10^5
        val keptIdx = fl.files.indices.filterNot(small.contains)
        val smallBytes = smallIdx.map(lens).sum
        val n = math.max(1L, (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
        val (raw, _) =
          writeDataFiles(morPlan(snapBase, smallIdx, mergeSchema = false)
            .repartition(n))
        publishAtBase(base, "compact", spliced(keeping(fl, keptIdx), raw, base + 1),
          snapBase.rows, snapBase.schemaJson, dataChange = false, written = raw.files)
      }
    }
  }

  /** MINOR compaction: fold the accumulated merge-on-read delete files
    * into ONE file per applicability class — NO data file is read or
    * written, so this is the cheap maintenance step between full
    * [[compact]]s (which rewrite the data too). An hourly MOR-update
    * table accrues one delete file per statement and every reader
    * anti-joins all of them; after this fold a reader loads one.
    *
    * Sequencing soundness: a delete at sequence s applies to data files
    * with STRICTLY smaller sequences, so two delete files may merge only
    * if they apply to exactly the same data files — i.e. the set
    * {data seq < s} is identical. Classes are therefore keyed by the
    * count of distinct data sequences below the delete's sequence, and
    * the merged file takes the class's MINIMAL member sequence (same
    * cut by construction). A key deleted before a re-insert and a key
    * deleted after it land in different classes and are never merged —
    * the re-inserted row's survival is preserved exactly.
    *
    * Published as `dataChange=false` (table contents are untouched —
    * feeds and streams skip it). Returns the new version, or the tip
    * unchanged when there is nothing to fold. */
  def compactDeletes(): Long = {
    import org.apache.spark.sql.functions.col
    commitLoop("compactDeletes") { base =>
      require(base > 0, s"nothing to compact at $root")
      val snapBase = snapshot(base)
      val fl = fileSetOf(snapBase)
      lazy val dataSeqs = fl.seqs.distinct.sorted
      def cut(s: Long): Int = dataSeqs.count(_ < s)
      lazy val classes = fl.deletes.indices.groupBy(i => cut(fl.deleteSeqs(i)))
      if (fl.deletes.length <= 1 || classes.values.forall(_.length <= 1))
        Some(base) // nothing to fold
      else {
        val delLens = alignLens(fl.deleteLens, fl.deletes.length)
        // fold each multi-file class into one file; single-member classes
        // carry forward by identity (no I/O for them). The folded file's
        // key count / band come from the writer's inline fold; a folded
        // drows (distinct keys across the class) stays an upper bound on
        // the rows the class removes.
        case class DelEntry(file: String, seq: Long, len: Long, rows: Long,
                            bmin: Long, bmax: Long)
        val folded: Seq[Seq[DelEntry]] =
          classes.toSeq.sortBy(_._1).map { case (_, idxs) =>
            if (idxs.length == 1) {
              val i = idxs.head
              Seq(DelEntry(fl.deletes(i), fl.deleteSeqs(i), delLens(i),
                fl.drows(i), fl.dmins(i), fl.dmaxs(i)))
            } else {
              val keys = spark.read.parquet(
                  idxs.map(i => new Path(dataDir, fl.deletes(i)).toString): _*)
                .select(fl.deleteKey.map(col): _*)
                .distinct() // equality deletes are sets — duplicates collapse
                .coalesce(1) // one file per class IS the point
              val (kf, _) = writeDataFiles(keys)
              val seq = idxs.map(fl.deleteSeqs).min
              val (bmins, bmaxs) = deleteKeyBands(fl.deleteKey, kf)
              val lens = alignLens(kf.lens, kf.files.length)
              val rows = alignLens(kf.frows, kf.files.length)
              kf.files.indices.map(j =>
                DelEntry(kf.files(j), seq, lens(j), rows(j), bmins(j), bmaxs(j)))
            }
          }
        val entries = folded.flatten
        publishAtBase(base, "compact_deletes", fl.copy(
            deletes = entries.map(_.file),
            deleteSeqs = entries.map(_.seq),
            deleteLens = entries.map(_.len),
            drows = entries.map(_.rows),
            dmins = entries.map(_.bmin),
            dmaxs = entries.map(_.bmax)),
          snapBase.rows, snapBase.schemaJson, dataChange = false,
          written = entries.map(_.file).filterNot(fl.deletes.contains))
      }
    }
  }

  /** ONE maintenance step chosen by POLICY from the manifest's debris
    * metrics — the call an operator's cron runs against every table
    * instead of hand-picking among the five verbs ([[compactDeletes]],
    * [[compactFiles]], [[compactRange]], [[compact]], [[vacuum]]).
    * All metrics are METADATA (delete-file census + foldability,
    * small-file bytes off recorded lengths, band-overlap depth off the
    * recorded bands, retained-version count); among the applicable
    * rewrite actions the one with the SMALLEST estimated byte cost
    * runs — delete folds (no data read) before small-file folds before
    * hot-band folds — then retention vacuum when nothing needs
    * rewriting, then `none`. Each step strictly reduces its own
    * metric, so `while (maintain().action != "none")` terminates with
    * a clean table. Returns what ran and the manifest-estimated bytes
    * it rewrote. */
  def maintain(policy: MaintainPolicy = MaintainPolicy()): MaintainReport = {
    require(policy.deleteFilesAt >= 2 && policy.smallFilesAt >= 2 &&
      policy.overlapAt >= 2,
      s"maintain thresholds must be >= 2 (a 1-file fold is a no-op): $policy")
    val base = latestVersion()
    require(base > 0, s"nothing to maintain at $root")
    val fl = fileSetOf(snapshot(base))
    val lens = alignLens(fl.lens, fl.files.length)

    // delete folding is applicable only when some applicability class
    // holds >1 file (the same class cut compactDeletes folds by) —
    // otherwise the verb would no-op forever and the cron would spin
    val dataSeqs = fl.seqs.distinct.sorted
    def cut(s: Long): Int = dataSeqs.count(_ < s)
    val deleteFoldable = fl.deletes.length >= policy.deleteFilesAt &&
      fl.deleteSeqs.groupBy(cut).values.exists(_.length > 1)
    val deleteBytes = alignLens(fl.deleteLens, fl.deletes.length)
      .map(math.max(0L, _)).sum

    val smallIdx = fl.files.indices
      .filter(i => lens(i) >= 0L && lens(i) < policy.smallFileBytes)
    val smallApplies = smallIdx.length >= policy.smallFilesAt
    val smallBytes = smallIdx.map(lens).sum

    // band-overlap depth on the first stats column: classic sweep over
    // the recorded [min,max] bands (unknown/inverted bands excluded —
    // they prove nothing). The deepest stab point becomes the
    // compactRange target: exactly the overlapping clique rewrites.
    val overlap: Option[(String, Long, Long)] = statsCols.headOption.flatMap { c =>
      val cs = fl.stats(statsCols.indexOf(c))
      val known = fl.files.indices.filter(i =>
        cs.mins(i) != UnknownMin && cs.maxs(i) != UnknownMax &&
          cs.mins(i) <= cs.maxs(i))
      // sweep: +1 at min, -1 just past max; track the deepest point
      val events = known.flatMap(i => Seq((cs.mins(i), 1, i), (cs.maxs(i), -1, i)))
        .sortBy(e => (e._1, -e._2))
      var depth = 0; var best = 0; var bestAt = 0L
      events.foreach { case (at, d, _) =>
        depth += d
        if (d > 0 && depth > best) { best = depth; bestAt = at }
      }
      if (best >= policy.overlapAt) {
        val clique = known.filter(i => cs.mins(i) <= bestAt && cs.maxs(i) >= bestAt)
        Some((c, bestAt, clique.map(i => math.max(0L, lens(i))).sum))
      } else None
    }

    val candidates = Seq(
      if (deleteFoldable)
        Some(("compact_deletes", deleteBytes,
          () => compactDeletes(),
          s"${fl.deletes.length} delete files"))
      else None,
      if (smallApplies)
        Some(("compact_files", smallBytes,
          () => compactFiles(policy.smallFileBytes, policy.targetFileBytes),
          s"${smallIdx.length} files under ${policy.smallFileBytes}B"))
      else None,
      overlap.map { case (c, at, bytes) =>
        ("compact_range", bytes,
          () => compactRange(c, at, at, policy.targetRowsPerFile),
          s"band clique on '$c' at key $at")
      }).flatten
    candidates.sortBy(_._2).headOption match {
      case Some((action, bytes, run, detail)) =>
        MaintainReport(action, run(), bytes, detail)
      case None if policy.maxRetained > 0 &&
          history().length > policy.maxRetained =>
        vacuum(policy.maxRetained)
        MaintainReport("vacuum", latestVersion(), 0L,
          s"retained to last ${policy.maxRetained} versions")
      case None => MaintainReport("none", base, 0L, "table is clean")
    }
  }

  // ----- named refs: tags and branches --------------------------------
  //
  // The public formats' ref idea (Iceberg tags/branches, Delta's
  // cherry-pick-free WAP), re-expressed on the linear manifest chain:
  //
  //  - a TAG is an immutable named pointer to a version
  //    (`_refs/tag-<name>.json`, create-exclusive), and it PINS: vacuum /
  //    expireSnapshots never drop a tagged version's manifest or files;
  //  - a BRANCH is a separate manifest chain under
  //    `_refs/branch-<name>/_snapshots/` sharing main's `data/` dir. Its
  //    first manifest is a full-file-list clone of main's tip AT THE SAME
  //    VERSION NUMBER, so the branch chain continues main's numbering and
  //    every carried file's commit sequence stays consistent. Branch
  //    commits go through the ordinary handle API (the handle from
  //    [[branch]]) — same writers, same validation, same stats bands;
  //  - [[fastForward]] is write-audit-publish: stage commits on a branch,
  //    audit the branch read, then publish the branch tip's contents onto
  //    main as ONE new version — CAS-checked against the fork point, so a
  //    main commit racing the audit fails the publish instead of being
  //    silently overwritten.

  private def tagPath(name: String) = new Path(refsDir, s"tag-$name.json")
  private def branchDir(name: String) = new Path(refsDir, s"branch-$name")
  private def forkMarker(name: String) = new Path(branchDir(name), "_fork")

  private def validateRefName(name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'),
      s"ref name must be [A-Za-z0-9_-]+, got '$name'")

  private def requireMainHandle(op: String): Unit =
    require(ref.isEmpty, s"$op runs on the MAIN table handle, not a branch")

  /** Create an immutable tag at `version` (must be a retained, readable
    * version). Create-exclusive: a second create of the same name fails
    * loudly — tags never move (drop + recreate is the explicit rename). */
  def createTag(name: String, version: Long): Unit = {
    requireMainHandle("createTag")
    validateRefName(name)
    snapshot(version) // must exist and parse — a dangling tag pins nothing
    fs.mkdirs(refsDir)
    store.writeExclusive(fs, tagPath(name),
      s"""{"version":$version,"ts":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8"))
  }

  def dropTag(name: String): Unit = {
    requireMainHandle("dropTag")
    validateRefName(name)
    require(fs.delete(tagPath(name), false), s"no tag '$name' at $root")
  }

  /** All tags, name → pinned version. */
  def tags(): Map[String, Long] = {
    if (!fs.exists(refsDir)) return Map.empty
    fs.listStatus(refsDir).map(_.getPath.getName)
      .filter(n => n.startsWith("tag-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("tag-").stripSuffix(".json"))
      .map(n => n -> tagVersion(n)).toMap
  }

  def tagVersion(name: String): Long = {
    validateRefName(name)
    val p = tagPath(name)
    require(fs.exists(p), s"no tag '$name' at $root")
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error(s"tag '$name' at $root: unreadable")).group(1).toLong
  }

  /** Read the table as pinned by `name` — time travel by ref. */
  def readTag(name: String): DataFrame = read(tagVersion(name))

  /** Fork a branch at main's current tip. The branch's first manifest is
    * a FULL-file-list clone (groups resolved — branch group refs would
    * dangle across directories) at the SAME version number as the fork
    * point, so branch versions continue main's numbering and file commit
    * sequences stay consistent under merge-on-read ordering. Returns the
    * fork version. */
  def createBranch(name: String): Long = {
    requireMainHandle("createBranch")
    validateRefName(name)
    val tip = latestVersion()
    require(tip > 0, s"cannot branch an empty table at $root")
    val snap = snapshot(tip)
    val fls = ensureLens(fileSetOf(snap))
    val bSnaps = new Path(branchDir(name), "_snapshots")
    fs.mkdirs(branchDir(name))
    // the fork marker is the create-exclusive existence bit: a second
    // createBranch of the same name fails here, before any manifest
    store.writeExclusive(fs, forkMarker(name),
      s"""{"version":$tip,"ts":${System.currentTimeMillis()}}"""
        .getBytes("UTF-8"))
    val body = manifestBody(tip, "branch", tip - 1, snap.rows, fls,
      snap.schemaJson, batchId = -1L, dataChange = false,
      bandsV = snap.bandsV)
    fs.mkdirs(bSnaps)
    store.writeExclusive(fs, new Path(bSnaps, f"v$tip%020d.json"),
      body.getBytes("UTF-8"))
    tip
  }

  /** The main version branch `name` forked from. */
  def forkVersion(name: String): Long = {
    validateRefName(name)
    val p = forkMarker(name)
    require(fs.exists(p), s"no branch '$name' at $root")
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error(s"branch '$name' at $root: unreadable fork marker"))
      .group(1).toLong
  }

  /** A handle scoped to branch `name`: reads, commits, compaction — the
    * whole API — against the branch chain, data files shared with main. */
  def branch(name: String): SnapshotTable = {
    requireMainHandle("branch")
    require(fs.exists(forkMarker(name)), s"no branch '$name' at $root")
    new SnapshotTable(spark, root, statsCols, logStore, checkpointEvery,
      groupInlineFold, groupMergeAt, ref = Some(name))
  }

  /** All branch names. */
  def branches(): Seq[String] = {
    if (!fs.exists(refsDir)) return Seq.empty
    fs.listStatus(refsDir).map(_.getPath.getName)
      .filter(_.startsWith("branch-")).map(_.stripPrefix("branch-")).toSeq.sorted
  }

  /** Delete branch `name` whole (manifests, groups, fork marker). Data
    * files only the branch referenced become unreachable — the next
    * [[vacuum]] reclaims them. */
  def dropBranch(name: String): Unit = {
    requireMainHandle("dropBranch")
    validateRefName(name)
    require(fs.exists(forkMarker(name)), s"no branch '$name' at $root")
    fs.delete(branchDir(name), true)
    ()
  }

  /** Publish branch `name`'s tip contents onto MAIN as one new version —
    * the write-audit-publish commit. Fails (leaving both chains intact)
    * when main advanced past the fork point: the staged work was audited
    * against a stale base, re-stage or rebase explicitly.
    *
    * Commit-sequence discipline: files the branch added since the fork
    * are re-stamped to the new main version (they are this commit's
    * files, exactly as one big append); files carried from before the
    * fork keep their sequences. A branch that added merge-on-read
    * DELETE files since the fork is refused — collapsing its post-fork
    * sequence ordering could replay those deletes onto this commit's
    * re-stamped files; `branch(name).compact(...)` folds the deletes
    * into data first, after which fast-forward proceeds. */
  def fastForward(name: String): Long = {
    requireMainHandle("fastForward")
    val forkedAt = forkVersion(name)
    val b = branch(name)
    val btip = b.latestVersion()
    require(btip > forkedAt, s"branch '$name' has no commits past the fork")
    val bsnap = b.snapshot(btip)
    val bfls = b.ensureLens(b.fileSetOf(bsnap))
    require(bfls.deleteSeqs.forall(_ <= forkedAt),
      s"branch '$name' added merge-on-read deletes since the fork; " +
        "run compact() on the branch first, then fast-forward")
    publish("fastforward",
      base => {
        if (base != forkedAt) throw new IllegalStateException(
          s"fast-forward of '$name' at $root: main advanced to v$base past " +
            s"the fork point v$forkedAt — the staged work was audited " +
            "against a stale base; re-stage on a fresh branch")
        // FileSet is handle-scoped (inner class): rebuild on THIS handle
        FileSet(bfls.files, bfls.stats,
          bfls.seqs.map(s => if (s > forkedAt) base + 1 else s),
          bfls.deletes, bfls.deleteSeqs, bfls.deleteKey,
          bfls.lens, bfls.deleteLens, bfls.frows,
          bfls.drows, bfls.dmins, bfls.dmaxs)
      },
      _ => bsnap.rows, _ => bsnap.schemaJson)
  }

  /** MERGE a DIVERGED branch into main — the case [[fastForward]]
    * refuses (main advanced past the fork while the branch committed).
    * The branch's post-fork work must be APPEND-ONLY relative to its
    * fork state: its new data files are file-disjoint from everything
    * main did by construction (every commit writes under a fresh
    * commit uuid), so replaying them onto main's CURRENT tip as one
    * big append is exactly the file-disjoint optimistic rebase the
    * row-level DML commits already use — new files re-stamp to the
    * merge version (main-side MOR deletes, all older, never touch
    * them), main's own post-fork rewrites/compactions/deletes carry
    * through untouched, and rows add up (append-only means the
    * branch's row delta IS its appended rows).
    *
    * Refused loudly, same discipline as the DML rebase, when the
    * branch REWROTE state since the fork — dropped/rewritten data
    * files or new MOR deletes (either could overlap files main also
    * touched; replaying them would need a semantic three-way merge no
    * format can do safely) — or when the two tips' schemas diverged
    * (branch appends were validated against the fork schema; publish
    * them under a different main schema and the audit is void). For a
    * rewriting branch: fast-forward onto an unmoved main, or re-stage
    * on a fresh branch. The branch itself is left intact (drop it
    * after a successful merge). Returns the new main version. */
  def merge(name: String): Long = {
    requireMainHandle("merge")
    val forkedAt = forkVersion(name)
    val b = branch(name)
    val btip = b.latestVersion()
    require(btip > forkedAt, s"branch '$name' has no commits past the fork")
    val bsnap = b.snapshot(btip)
    val bfls = b.ensureLens(b.fileSetOf(bsnap))
    val forkSnap = snapshot(forkedAt)
    val forkFls = fileSetOf(forkSnap)
    val forkSet = forkFls.files.toSet
    require(forkSet.subsetOf(bfls.files.toSet) &&
        bfls.deletes == forkFls.deletes,
      s"branch '$name' rewrote or deleted files (or added merge-on-read " +
        "deletes) since the fork — merge replays APPENDS only; " +
        "fast-forward onto an unmoved main or re-stage on a fresh branch")
    val newIdx =
      bfls.files.indices.filterNot(i => forkSet.contains(bfls.files(i)))
    require(newIdx.nonEmpty, s"branch '$name' added no data files past " +
      "the fork (nothing to merge)")
    val addedRows = bsnap.rows - forkSnap.rows
    val lens = alignLens(bfls.lens, bfls.files.length)
    val frs = alignLens(bfls.frows, bfls.files.length)
    // the new-file slice rebuilt on THIS handle (FileSet is
    // handle-scoped), appended onto whatever main's tip is at publish
    // time — the CAS loop rebases over racing main commits for free
    val nw = FileSet(newIdx.map(bfls.files), sliceStats(bfls.stats, newIdx),
      lens = newIdx.map(lens), frows = newIdx.map(frs))
    publish("merge",
      base => {
        val baseSnap = snapshot(base)
        require(baseSnap.schemaJson == bsnap.schemaJson,
          s"merge of '$name' at $root: schema diverged between main and " +
            "the branch — align schemas first (the branch appends were " +
            "audited against the fork schema)")
        appendedFileSet(base, nw)
      },
      base => snapshot(base).rows + addedRows,
      base => snapshot(base).schemaJson)
  }

  // ----- zero-copy table clone -----------------------------------------

  /** Clone this table's state at `version` (default: the tip) into a NEW
    * table at `destRoot` — metadata-only by default (the public formats'
    * SHALLOW CLONE: Delta `CREATE TABLE ... SHALLOW CLONE`, Iceberg
    * snapshot-ref tables): the clone's first manifest lists the source's
    * data and delete files by ABSOLUTE path, so cloning a 100 TB table
    * costs one manifest write, never a copy. Every reader resolves file
    * entries through `new Path(dataDir, entry)`, and Hadoop path
    * resolution passes absolute children through unchanged — carried
    * files keep reading from the source's storage while the clone's own
    * commits land under ITS `data/` dir with ordinary relative names.
    * From its first version on, the clone is a full independent table:
    * appends, row-level DML, compaction, branches — divergence in either
    * direction never touches the other side's state.
    *
    * Shared-file safety — the gap Delta documents as a caveat ("vacuum
    * on the source breaks shallow clones") is closed structurally here:
    * a shallow clone PINS the cloned version on the SOURCE with a
    * `clone-v<N>` tag, and tags extend [[vacuum]]/[[expireSnapshots]]'s
    * retention floor, so the shared files are unreachable by source
    * retention until someone DROPS the tag — the explicit release,
    * identical to releasing any tagged consumer. The clone's own vacuum
    * only ever lists its OWN data dir, so carried absolute files are
    * structurally out of its reach. A clone of a clone re-points at the
    * ORIGINAL files (absolute entries carry through verbatim), so the
    * original's pin tag is what protects the whole clone family.
    *
    * `deep = true` instead COPIES every carried file into the clone's
    * data dir (same `uuid/name` layout, byte-identical) and keeps
    * relative entries — no tag, no storage coupling: the escape hatch
    * when the clone must outlive the source or move storage roots.
    *
    * The clone chain STARTS at the source's version number — the same
    * shape [[vacuum]] leaves behind (a retained suffix with nothing
    * below it) — so carried per-file commit sequences stay consistent
    * under merge-on-read ordering and the clone's next commit (v+1)
    * orders after everything carried. The properties sidecar (stats /
    * bloom / cluster config, CHECK constraints, column mapping, delete
    * key) copies verbatim BEFORE the manifest publishes, so the moment
    * the destination becomes a loadable table its semantics are already
    * in place; physical names inside carried files keep resolving
    * through the copied mapping. Time travel below the clone version
    * and change feeds spanning it follow the vacuumed-table contract:
    * bootstrap from `read(cloneVersion)`.
    *
    * Returns the clone's first (= the cloned) version. */
  def cloneTo(destRoot: String, version: Long = -1L,
              deep: Boolean = false): Long = {
    requireMainHandle("cloneTo")
    val v = if (version <= 0) latestVersion() else version
    require(v > 0, s"cannot clone an empty table at $root")
    val snap = snapshot(v)
    val destRootPath = new Path(destRoot)
    val dfs = destRootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val destSnaps = new Path(destRootPath, "_snapshots")
    require(!dfs.exists(destSnaps),
      s"clone destination $destRoot is already a table")
    val fls = ensureLens(fileSetOf(snap))
    val destData = new Path(destRootPath, "data")
    // `uuid/name` tail of an entry — identical to the entry itself for
    // ordinary relative files; for an absolute entry (deep clone OF a
    // shallow clone) it recovers the original commit-scoped layout
    def relTail(entry: String): String = {
      val p = new Path(entry)
      Option(p.getParent).map(_.getName).filter(_.nonEmpty)
        .fold(p.getName)(par => s"$par/${p.getName}")
    }
    def carry(entry: String): String =
      if (!deep) fs.makeQualified(new Path(dataDir, entry)).toString
      else {
        val dst = new Path(destData, relTail(entry))
        dfs.mkdirs(dst.getParent)
        org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dataDir, entry),
          dfs, dst, /* deleteSource = */ false,
          spark.sparkContext.hadoopConfiguration)
        relTail(entry)
      }
    val carried = fls.copy(files = fls.files.map(carry),
      deletes = fls.deletes.map(carry))
    val body = manifestBody(v, "clone", v - 1, snap.rows, carried,
      snap.schemaJson, batchId = -1L, dataChange = true,
      bandsV = snap.bandsV)
    dfs.mkdirs(destSnaps)
    // properties BEFORE the manifest: the manifest's existence is what
    // makes the destination loadable, and a loadable table must already
    // carry its delete key / column mapping / constraints
    if (probeExists(propsPath)) {
      val in = fs.open(propsPath)
      val bytes = try {
        val b = new Array[Byte](fs.getFileStatus(propsPath).getLen.toInt)
        in.readFully(b); b
      } finally in.close()
      val out = dfs.create(new Path(destSnaps, "_props.json"), true)
      try out.write(bytes) finally out.close()
    }
    SnapshotLogStore.forFileSystem(dfs).writeExclusive(dfs,
      new Path(destSnaps, f"v$v%020d.json"), body.getBytes("UTF-8"))
    SnapshotLogStore.writeTipHint(dfs, new Path(destSnaps, "_tip"), v)
    if (!deep) pinCloneTag(v)
    v
  }

  /** Pin `v` on THIS (source) table for a shallow clone. One tag per
    * version serves every clone of that version; a create-exclusive
    * race with another clone of the same version is a win for both. */
  private def pinCloneTag(v: Long): Unit = {
    val name = s"clone-v$v"
    if (fs.exists(tagPath(name))) return // already pinned by an earlier clone
    try createTag(name, v)
    catch { case scala.util.control.NonFatal(e) =>
      if (!fs.exists(tagPath(name))) throw e }
  }

  /** Bytes version `v` ADDED (the manifest-recorded lengths of its new
    * files) — what a bytes-per-trigger admission walk charges. Needs the
    * full manifest (file arrays), but an admission walk only ever visits
    * versions a batch is about to plan anyway (planInputPartitions
    * parses the same manifests; both hit the memo). Unknown lengths
    * (legacy manifests, -1) charge zero: degrade to more-permissive
    * batches, never to a stalled stream or a HEAD storm. */
  private[sources] def versionAddedBytes(v: Long): Long = {
    val s = snapshot(v)
    if (!s.dataChange || s.action != "append") return 0L
    val fl = fileSetOf(s)
    val lens = alignLens(fl.lens, fl.files.length)
    fl.files.indices.iterator
      .filter(i => fl.seqs.lift(i).contains(v))
      .map(i => math.max(0L, lens(i))).sum
  }

  /** The lowest offset a STREAM over this handle may walk from: 0 on
    * main, the fork version on a branch — versions below the fork exist
    * only in main's chain, and the fork manifest itself is
    * dataChange=false (a branch feed delivers post-fork commits only;
    * bootstrap content comes from a batch read of the fork, the same
    * read(tip)+startingVersion idiom a vacuumed main table uses). */
  private[sources] def chainFloor: Long = ref.fold(0L)(forkVersion)

  /** Per-file metadata at `version` (default: the tip) — one
    * [[SnapshotFileMeta]] per live data file plus one per merge-on-read
    * delete file, with the manifest-recorded commit sequence, byte
    * length, per-stats-column band-key bounds / null counts (absent =
    * unknown for that file), and bloom coverage. Metadata-only: planning
    * introspection ("which files would this predicate keep", "how much
    * debris since the last compaction") without touching a data byte. */
  def filesMetadata(version: Long = -1L): Seq[SnapshotFileMeta] = {
    val v = if (version <= 0) latestVersion() else version
    require(v > 0, s"empty table at $root")
    val fls = fileSetOf(snapshot(v))
    val n = fls.files.length
    val lens = alignLens(fls.lens, n)
    val dlens = alignLens(fls.deleteLens, fls.deletes.length)
    val data = fls.files.indices.map { i =>
      def keyed(pick: ColStats => Seq[Long], unknown: Long): Map[String, Long] =
        statsCols.zip(fls.stats).flatMap { case (c, cs) =>
          val xs = pick(cs)
          if (xs.length == n && xs(i) != unknown) Some(c -> xs(i)) else None
        }.toMap
      val blooms = statsCols.zip(fls.stats).collect {
        case (c, cs) if alignBlooms(cs.blooms, n)(i).nonEmpty => c
      }
      val ndvs = statsCols.zip(fls.stats).flatMap { case (c, cs) =>
        val b64 = alignBlooms(cs.ndvs, n)(i)
        if (b64.isEmpty) None
        else FileNdv.unionEstimate(Seq(b64)).map(c -> _)
      }.toMap
      SnapshotFileMeta("data", fls.files(i), fls.seqs.lift(i).getOrElse(0L),
        lens(i), keyed(_.mins, UnknownMin), keyed(_.maxs, UnknownMax),
        keyed(_.nulls, UnknownNulls), blooms,
        alignLens(fls.frows, n)(i), ndvs)
    }
    val dels = fls.deletes.indices.map { j =>
      // composite keys surface their z-value band under the joined
      // column name (the key space the band actually lives in)
      val bandCol =
        if (fls.deleteKey.length == 1) Some(fls.deleteKey.head)
        else if (fls.deleteKey.length >= 2)
          Some(fls.deleteKey.mkString("z(", ",", ")"))
        else None
      val band = bandCol match {
        case Some(c) if fls.dmins(j) != UnknownMin &&
            fls.dmaxs(j) != UnknownMax =>
          (Map(c -> fls.dmins(j)), Map(c -> fls.dmaxs(j)))
        case _ => (Map.empty[String, Long], Map.empty[String, Long])
      }
      SnapshotFileMeta("delete", fls.deletes(j), fls.deleteSeqs(j), dlens(j),
        band._1, band._2, Map.empty, Seq.empty,
        alignLens(fls.drows, fls.deletes.length)(j))
    }
    data ++ dels
  }

  /** TABLE INTEGRITY CHECK — the format's fsck: verify that a version's
    * manifest claims hold, metadata-first. Checked: every listed data
    * and delete file EXISTS on storage; recorded byte lengths match the
    * actual lengths (unknown -1 entries are skipped, not failed); the
    * per-column stats vectors and the seqs/lens/frows vectors align
    * with the file list (a misaligned vector reads as unknown —
    * correct, but it means a writer bug dropped metadata); and, when
    * every per-file row count is recorded and no MOR delete applies,
    * that they sum to the manifest's row count. `deep = true` adds one
    * full scan: recount the version's LIVE rows (through MOR deletes)
    * and compare. Cost: one getFileStatus per listed file (metadata
    * mode) — the audit an operator runs after a storage migration or
    * before promoting a branch, not on every read. */
  /** Integrity ANOMALIES among (data-dir-relative path, recorded byte
    * length) pairs: `rel -> None` = missing on storage, `rel ->
    * Some(actual)` = on-disk length differs from the recorded one (a
    * recorded -1 = unknown checks existence only). Healthy files do
    * NOT appear in the result — fsck and repair only consume the
    * damaged subset, so at the million-file scale the distributed
    * probe targets, the driver collects O(anomalies), not every
    * path's length. Below `spark.graft.fsck.distributedProbeAt` files
    * the driver stats them directly; above it ONE Spark job probes
    * executor-side: a 100 TB table's integrity check is O(files) HEAD
    * calls, and sequential driver stats at a million files — not the
    * checks themselves — would be the bottleneck (each probe is
    * independent, the classic embarrassing parallelism). The default
    * threshold is SCHEME-AWARE (MaintBench probe 4 measured why): a
    * local-fs stat costs ~0.05 ms, so the job-launch overhead (~0.9 s)
    * only pays past ~16k files; an object-store HEAD costs 10–50 ms
    * and the job pays past ~256. Executors rebuild the SESSION Hadoop
    * conf from a [[org.apache.spark.util.SerializableConfiguration]] —
    * a default `new Configuration()` would drop runtime-set
    * credentials and make fsck fail only past the distributed
    * threshold, a confusing mode-dependent failure. */
  private def probeAnomalies(rels: Seq[(String, Long)])
      : Map[String, Option[Long]] = {
    if (rels.isEmpty) return Map.empty
    val dflt = if (fs.getUri.getScheme == "file") 16384 else 256
    val threshold =
      try spark.conf.get("spark.graft.fsck.distributedProbeAt",
        dflt.toString).toInt
      catch { case _: NumberFormatException => dflt }
    if (rels.length < threshold)
      rels.flatMap { case (rel, rec) =>
        SnapshotTable.probeAnomaly(fs, new Path(dataDir, rel), rec)
          .map(rel -> _)
      }.toMap
    else {
      val dd = dataDir.toString
      val hconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val par = math.max(1, math.min(rels.length / 16,
        spark.sparkContext.defaultParallelism * 4))
      spark.sparkContext.parallelize(rels, par).flatMap { case (rel, rec) =>
        val p = new Path(dd, rel)
        SnapshotTable.probeAnomaly(p.getFileSystem(hconf.value), p, rec)
          .map(rel -> _)
      }.collect().toMap
    }
  }

  def checkTable(version: Long = -1L, deep: Boolean = false): TableCheckReport = {
    val v = if (version < 0) latestVersion() else version
    require(v > 0, s"no committed snapshot to check at $root")
    val s = snapshot(v)
    val fl = fileSetOf(s)
    val lens = alignLens(fl.lens, fl.files.length)
    val dlens = alignLens(fl.deleteLens, fl.deletes.length)
    val probed = probeAnomalies(
      (fl.files.zip(lens) ++ fl.deletes.zip(dlens)).distinct)
    val missing =
      (fl.files ++ fl.deletes).filter(r => probed.get(r).contains(None))
    def lenBad(rel: String): Boolean = probed.get(rel).exists(_.isDefined)
    val lenMismatch =
      fl.files.filter(lenBad) ++ fl.deletes.filter(lenBad)
    val n = s.files.length
    val misaligned =
      (if (s.seqs.nonEmpty && s.seqs.length != n) Seq("seqs") else Seq.empty) ++
      (if (s.lens.nonEmpty && s.lens.length != n) Seq("lens") else Seq.empty) ++
      (if (s.frows.nonEmpty && s.frows.length != n) Seq("frows") else Seq.empty) ++
      s.statsCols.zip(s.stats).collect {
        case (c, cs) if cs.mins.length != n || cs.maxs.length != n => s"stats:$c"
      }
    val fr = alignLens(fl.frows, fl.files.length)
    val frowsSum =
      if (fl.deletes.isEmpty && fr.nonEmpty && fr.forall(_ >= 0L))
        Some(fr.sum) else None
    // MOR tables reconcile from metadata as BOUNDS: deletes only remove
    // rows (never add), and each equality-delete file removes AT MOST
    // its recorded key count (exactly that many when committed; rewrites
    // only absorb) — so live rows ∈ [Σfrows − Σdrows, Σfrows]. A deep
    // recount is needed only when this window fails (or for the exact
    // number).
    val morBounds =
      if (fl.deletes.nonEmpty && fr.nonEmpty && fr.forall(_ >= 0L) &&
          fl.drows.length == fl.deletes.length && fl.drows.forall(_ >= 0L))
        Some((fr.sum - fl.drows.sum, fr.sum))
      else None
    val deepRows = if (deep) Some(read(v).count()) else None
    TableCheckReport(v, fl.files.length.toLong, fl.deletes.length.toLong,
      missing, lenMismatch, misaligned, s.rows, frowsSum, deepRows,
      ok = missing.isEmpty && lenMismatch.isEmpty && misaligned.isEmpty &&
        frowsSum.forall(_ == s.rows) && deepRows.forall(_ == s.rows) &&
        morBounds.forall { case (lo, hi) => s.rows >= lo && s.rows <= hi },
      rowsBounds = morBounds)
  }

  /** DISASTER-RECOVERY repair: re-list the tip WITHOUT the files that
    * storage lost or corrupted (missing on disk, or on-disk length
    * differing from the recorded one — the same probes [[checkTable]]
    * flags) so the table reads again. The dropped rows are GONE
    * (restore from a clone/backup to get them back); that is the point
    * — an unreadable 100 TB table becomes a readable (100 TB − damage)
    * one with ONE manifest commit, no data copied or scanned beyond
    * what exact row accounting needs.
    *
    *  - `dryRun = true` (default) only reports what WOULD drop; it
    *    publishes nothing and never scans (rowsAfter is −1 when exact
    *    accounting would need the recount the committing run pays).
    *  - Damaged equality-DELETE files are refused unless
    *    `dropDeletes = true`: dropping one RESURRECTS the rows it
    *    deleted — an explicit operator decision, never a default.
    *  - Row accounting: metadata-served (rows − Σfrows of dropped
    *    files) when every dropped file's count is recorded and no MOR
    *    delete outsequences it; otherwise ONE recount over the kept
    *    plan — a synthetic in-memory snapshot of the repaired content,
    *    so damaged files are never opened.
    *  - Dropping EVERY data file is refused (a file-less manifest is
    *    unreadable): that table restores from backup, it doesn't repair.
    *  - [[readChangeFeed]] refuses to serve a repair version: rows lost
    *    to storage cannot be retracted row-wise; reseed downstream
    *    consumers from the repaired snapshot. Streaming reads fail
    *    loudly at it like any non-append change. */
  def repairTable(dryRun: Boolean = true,
                  dropDeletes: Boolean = false): TableRepairReport =
    commitLoop("repairTable") { base =>
      require(base > 0, s"no committed snapshot to repair at $root")
      val s = snapshot(base)
      val fl = fileSetOf(s)
      val lens = alignLens(fl.lens, fl.files.length)
      val dlens = alignLens(fl.deleteLens, fl.deletes.length)
      val probed = probeAnomalies(
        (fl.files.zip(lens) ++ fl.deletes.zip(dlens)).distinct)
      val badIdx = fl.files.indices.filter(i => probed.contains(fl.files(i)))
      val badDelIdx =
        fl.deletes.indices.filter(j => probed.contains(fl.deletes(j)))
      if (badIdx.isEmpty && badDelIdx.isEmpty)
        Some(TableRepairReport(base, Seq.empty, Seq.empty, s.rows, s.rows, None))
      else {
        require(badDelIdx.isEmpty || dropDeletes,
          s"repair at $root: damaged delete files " +
            s"(${badDelIdx.map(fl.deletes).mkString(", ")}) — dropping one " +
            "RESURRECTS the rows it deleted; pass dropDeletes=true to accept")
        val keptIdx = fl.files.indices.filterNot(badIdx.toSet)
        require(keptIdx.nonEmpty,
          s"repair at $root would drop every data file — restore from a " +
            "backup/clone instead")
        val keptDelIdx = fl.deletes.indices.filterNot(badDelIdx.toSet)
        val fr = alignLens(fl.frows, fl.files.length)
        // exact from metadata when provable: counts recorded and no MOR
        // delete outsequences any dropped file (none of its rows were
        // already dead) and no delete file is being dropped (nothing
        // resurrects)
        val cheap = badDelIdx.isEmpty && badIdx.forall(i => fr(i) >= 0L &&
          fl.deleteSeqs.forall(_ <= fl.seqs(i)))
        def report(rowsAfter: Long, committed: Option[Long]) =
          TableRepairReport(base, badIdx.map(fl.files),
            badDelIdx.map(fl.deletes), s.rows, rowsAfter, committed)
        if (dryRun) Some(report(if (cheap) s.rows - badIdx.map(fr).sum else -1L, None))
        else {
          // the repaired content: kept data files, surviving deletes
          val kept = keeping(fl, keptIdx).copy(
            deletes = keptDelIdx.map(fl.deletes),
            deleteSeqs = keptDelIdx.map(fl.deleteSeqs),
            deleteLens = keptDelIdx.map(dlens), drows = keptDelIdx.map(fl.drows),
            dmins = keptDelIdx.map(fl.dmins), dmaxs = keptDelIdx.map(fl.dmaxs))
          val rowsAfter =
            if (cheap) s.rows - badIdx.map(fr).sum
            else {
              // the repaired content as an in-memory snapshot view, groups
              // already resolved — one recount plan that never touches a
              // damaged file
              val s2 = s.copy(files = kept.files, statsCols = statsCols,
                stats = kept.stats, seqs = kept.seqs, deletes = kept.deletes,
                deleteSeqs = kept.deleteSeqs, lens = kept.lens,
                deleteLens = kept.deleteLens, frows = kept.frows,
                drows = kept.drows, dmins = kept.dmins, dmaxs = kept.dmaxs,
                groupRefs = Seq.empty, groupedCount = 0)
              morPlan(s2, s2.files.indices, mergeSchema = false).count()
            }
          // a lost race re-probes on the new tip
          publishAtBase(base, "repair", kept, rowsAfter, s.schemaJson)
            .map(v => report(rowsAfter, Some(v)))
        }
      }
    }

  /** All RETAINED snapshots, oldest first (the table's audit history;
    * [[vacuum]] may have dropped a prefix). Inherently O(retained
    * versions) — it reads every manifest by definition. */
  def history(): Seq[Snapshot] = {
    if (!fs.exists(snapsDir)) return Seq.empty
    metaLists.incrementAndGet()
    val versions = fs.listStatus(snapsDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted.toSeq
    // one sidecar (O(scalars) bytes) — falling back to one chunk text —
    // serves its whole window as the walk moves through it; versions
    // past the last boundary read their own manifest
    var winEnd = -1L
    var winSummaries: Map[Long, Snapshot] = Map.empty
    var winTexts: Map[Long, String] = Map.empty
    versions.map { v =>
      val full = manifestCache.get(v)
      val summary = if (full != null) full else summaryCache.get(v)
      if (summary != null) summary
      else {
        if (checkpointEvery > 0) {
          val end = chunkEndFor(v)
          if (end != winEnd) {
            winEnd = end
            winSummaries = summaryBodies(end)
            winTexts = if (winSummaries.isEmpty) chunkBodies(end) else Map.empty
          }
        }
        val s = winSummaries.getOrElse(v,
          parseSummaryText(winTexts.getOrElse(v, manifestRawText(v))))
        summaryCache.put(v, s)
        s
      }
    }
  }

  /** Memo for [[history]]'s scalar summaries — O(1) bytes per version
    * (no arrays), so unbounded is the point: repeated history walks and
    * [[versionAsOf]] re-reads are free after the first. Distinct from
    * [[manifestCache]] on purpose — a summary must NEVER serve a
    * full-manifest consumer (its file list is empty). */
  private val summaryCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Snapshot]()

  /** Scalar-only summary of ONE version (rows / action / dataChange /
    * ts) — what streaming admission control walks to translate a
    * rows-per-trigger cap into a version offset. Served from the memoized
    * caches, then the checkpoint sidecars, then the manifest head; O(1)
    * bytes regardless of the manifest's file-list size, so a rate-limit
    * walk over K versions never pays the O(files) array parse. */
  private[sources] def versionSummary(v: Long): Snapshot = {
    val full = manifestCache.get(v)
    if (full != null) return full
    val cached = summaryCache.get(v)
    if (cached != null) return cached
    val s =
      if (checkpointEvery > 0) {
        val end = chunkEndFor(v)
        summaryBodies(end).get(v)
          .orElse(chunkBodies(end).get(v).map(parseSummaryText))
          .getOrElse(parseSummaryText(manifestRawText(v)))
      } else parseSummaryText(manifestRawText(v))
    summaryCache.put(v, s)
    s
  }

  /** Raw manifest bodies of a checkpoint chunk, keyed by version —
    * empty when the chunk is absent/torn (callers fall back to the
    * per-version manifest file). */
  private def chunkBodies(end: Long): Map[Long, String] =
    try {
      val p = chunkPath(end)
      metaProbes.incrementAndGet()
      if (!fs.exists(p)) Map.empty
      else {
        metaOpens.incrementAndGet()
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
        txt.split(ChunkSep).filter(_.trim.nonEmpty).flatMap { body =>
          """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(body)
            .map(_.group(1).toLong -> body)
        }.toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** SCALAR-ONLY manifest summary — exactly what [[history]] exposes
    * (version, action, lineage, row count, epoch identity, dataChange,
    * timestamp). The array fields and the schema are deliberately NOT
    * parsed: a 10k-file tip manifest is ~600 KB of arrays, so a history
    * walk that parses them costs O(V²) characters — a measured 45 s at
    * 10k commits, vs sub-second scalar-only (every scalar lives in the
    * manifest HEAD, before the arrays, so each regex terminates in the
    * first ~200 bytes). Summary rows carry EMPTY files/stats/deletes —
    * [[snapshot]] serves the full manifest of any version of interest. */
  private def parseSummaryText(txt: String): Snapshot = {
    val version = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error("manifest: missing version")).group(1).toLong
    def longField(k: String): Long =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(sys.error(s"manifest v$version: missing $k")).group(1).toLong
    Snapshot(version,
      """"action"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(txt)
        .getOrElse(sys.error(s"manifest v$version: missing action")).group(1),
      longField("baseVersion"), longField("rows"), files = Seq.empty,
      batchId = """"batchId"\s*:\s*(-?\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong).getOrElse(-1L),
      txnApp = """"txnApp"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(txt)
        .map(_.group(1)).getOrElse(""),
      dataChange = """"dataChange"\s*:\s*(true|false)""".r.findFirstMatchIn(txt)
        .forall(_.group(1) == "true"),
      ts = """"ts"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong).getOrElse(0L))
  }

  private[sources] def hadoopFs: FileSystem = fs

  /** TIME-based retention (the public formats' expire-snapshots shape):
    * drop every version whose commit timestamp is older than
    * `olderThanMillis` — clock-skew-adjusted exactly like
    * [[versionAsOf]] (running max over the chain, so a version never
    * expires "before" its predecessor) — always keeping at least the
    * tip, then [[vacuum]] the now-unreachable data files and manifests.
    * Retention policy as a wall-clock contract ("keep 7 days") instead
    * of a version count the operator must translate. Returns the number
    * of versions retained. */
  def expireSnapshots(olderThanMillis: Long): Int = {
    requireMainHandle("expireSnapshots")
    val h = history()
    if (h.isEmpty) return 0
    val tip = h.map(_.version).max
    var running = Long.MinValue
    var maxExpirable = 0L
    h.sortBy(_.version).foreach { s =>
      running = math.max(running, s.ts)
      if (running < olderThanMillis && s.version < tip) maxExpirable = s.version
    }
    val keepLast = math.max(1L, tip - maxExpirable).toInt
    vacuum(keepLast)
    keepLast
  }

  /** Delete data files unreachable from the last `keepLast` manifests and
    * drop the older manifests. Bounded metadata scan — cost scales with
    * history length and file count, never data volume. */
  def vacuum(keepLast: Int = 1,
             orphanGraceMs: Long = 60L * 60 * 1000): Unit = {
    requireMainHandle("vacuum") // branch chains share main's data files
    require(keepLast >= 1, "must keep at least the tip")
    val tip = latestVersion()
    if (tip == 0) return
    // tags PIN: a tagged version's manifest (and therefore its files)
    // survives any retention window — dropping the tag is the explicit
    // release. The floor extends the retained suffix rather than
    // cherry-picking versions: simpler, and every version a consumer
    // could reach through a retained one stays walkable.
    val tagFloor = tags().values.minOption.getOrElse(Long.MaxValue)
    val keepFrom = math.min(math.max(1L, tip - keepLast + 1), tagFloor)
    // live BRANCH chains reference shared data files main's retained
    // manifests may not — walking them here is what makes branch commits
    // safe against concurrent main retention
    val branchLive = branches().flatMap { b =>
      val h = branch(b)
      h.chainVersions().flatMap { v =>
        val s = h.snapshot(v); s.files ++ s.deletes
      }
    }.toSet
    val live = (keepFrom to tip)
      .flatMap(v => { val s = snapshot(v); s.files ++ s.deletes }).toSet ++
      branchLive
    // Two kinds of dead data file, two sweep rules:
    //  - EXPIRED: referenced by a manifest below the retention horizon —
    //    provably not in-flight (it is listed), deleted immediately;
    //  - NEVER-REFERENCED: a crashed writer's or lost publish race's
    //    debris, a DROPPED branch's staged files, OR an in-flight commit
    //    racing this vacuum (every commit path writes its data files
    //    BEFORE its manifest CAS). Only age distinguishes these, so they
    //    sweep AGE-GATED (`orphanGraceMs`, like group files and
    //    log-store temps below) — deleting a fresh one would let the
    //    racer publish a manifest over missing bytes. An operator who
    //    KNOWS no write is in flight (just dropped a branch, quiesced
    //    ingest) passes orphanGraceMs = 0 for immediate reclamation.
    val expiredRefs = (1L until keepFrom).flatMap { v =>
      try { val s = snapshot(v); s.files ++ s.deletes }
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    }.toSet
    val dataCutoff = System.currentTimeMillis() - orphanGraceMs
    if (fs.exists(dataDir)) {
      val dirs = fs.listStatus(dataDir).filter(_.isDirectory).map(_.getPath)
      // The sweep itself is embarrassingly parallel: each commit dir's
      // list-filter-delete touches only that dir. Past
      // `spark.graft.vacuum.distributedSweepAt` dirs, ONE Spark job
      // sweeps executor-side — a million-file table's vacuum stops
      // being a sequential driver delete loop (the same bottleneck
      // class [[probeLens]] closes for fsck, and the same SCHEME-AWARE
      // default: local-fs ops are ~0.05 ms so the job overhead only
      // pays past thousands of dirs; object-store round-trips pay past
      // dozens). The live/expired reference sets ship as broadcasts;
      // executors rebuild the SESSION Hadoop conf from a
      // SerializableConfiguration so runtime-set object-store
      // credentials survive into the sweep tasks.
      val sweepDflt = if (fs.getUri.getScheme == "file") 4096 else 64
      val sweepAt =
        try spark.conf.get("spark.graft.vacuum.distributedSweepAt",
          sweepDflt.toString).toInt
        catch { case _: NumberFormatException => sweepDflt }
      if (dirs.length < sweepAt)
        dirs.foreach(d =>
          SnapshotTable.sweepCommitDir(fs, d, live, expiredRefs, dataCutoff))
      else {
        val dd = dataDir.toString
        val liveB = spark.sparkContext.broadcast(live)
        val expB = spark.sparkContext.broadcast(expiredRefs)
        val cut = dataCutoff
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        try {
          val par = math.max(1, math.min(dirs.length,
            spark.sparkContext.defaultParallelism * 2))
          spark.sparkContext.parallelize(dirs.map(_.getName).toSeq, par)
            .foreach { name =>
              val p = new Path(dd, name)
              SnapshotTable.sweepCommitDir(
                p.getFileSystem(hconf.value),
                p, liveB.value, expB.value, cut)
            }
        } finally { liveB.destroy(); expB.destroy() }
      }
    }
    // group files (manifest-list pages): keep those referenced by ANY
    // retained manifest; sweep the rest age-gated (an in-flight commit
    // writes its groups BEFORE its manifest — a fresh unreferenced
    // group may belong to a publish racing this vacuum)
    val liveGroups = (keepFrom to tip).flatMap(v => snapshot(v).groupRefs).toSet
    val groupCutoff = System.currentTimeMillis() - 60L * 60 * 1000
    if (fs.exists(snapsDir))
      fs.listStatus(snapsDir).filter { st =>
        val n = st.getPath.getName
        n.startsWith("g") && n.endsWith(".json") && !n.startsWith("h") &&
          !liveGroups.contains(n) && st.getModificationTime < groupCutoff
      }.foreach(st => fs.delete(st.getPath, false))
    (1L until keepFrom).foreach(v => fs.delete(manifestPath(v), false))
    // checkpoint chunks wholly below the retention horizon go with
    // their manifests; the boundary chunk stays (it still serves the
    // retained suffix of its window)
    if (checkpointEvery > 0)
      (checkpointEvery.toLong to (keepFrom - 1) by checkpointEvery.toLong)
        .foreach { end =>
          fs.delete(chunkPath(end), false)
          fs.delete(summaryPath(end), false)
        }
    // sweep orphaned log-store temp files (a crashed publish strands its
    // `.tmp_*` staging file — invisible to readers, but disk). Age-gated
    // so an IN-FLIGHT commit's temp racing this vacuum is never deleted
    // from under its publish rename.
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    if (fs.exists(snapsDir))
      fs.listStatus(snapsDir).filter(st => st.getPath.getName.startsWith(".tmp_") &&
        st.getModificationTime < cutoff).foreach(st => fs.delete(st.getPath, false))
  }
}

/** Checkpointed incremental consumer over a [[SnapshotTable]]'s version
  * chain — the batch-incremental "table as a change feed" shape (the
  * reference's scheduled incremental rerun, SURVEY.md §2.9 I2, driven by
  * snapshot versions instead of a timestamp watermark).
  *
  * Offsets are files under `checkpointDir/offsets/` whose NAME is the
  * consumed tip version, published create-exclusive like table manifests:
  * a poll that dies mid-process leaves no offset, so the next poll
  * re-delivers the same delta — at-least-once, which an idempotent
  * `process` (overwrite-by-version, merge-by-key) upgrades to
  * exactly-once: the foreachBatch contract. Restart = construct a new
  * follower on the same checkpointDir; it resumes from the max offset.
  */
class SnapshotFollower(table: SnapshotTable, checkpointDir: String,
                       skipChangeCommits: Boolean = false,
                       // admission control for the batch-poll shape: cap
                       // how many versions one poll consumes (a consumer
                       // bootstrapping against months of commits drains
                       // in bounded polls, the streaming sources' rule)
                       maxVersionsPerPoll: Long = Long.MaxValue) {
  private val offsetsDir = new Path(checkpointDir, "offsets")
  private def fs: FileSystem = table.hadoopFs

  /** Highest version a completed poll has committed, 0 if none. */
  def lastConsumed(): Long = {
    if (!fs.exists(offsetsDir)) return 0L
    fs.listStatus(offsetsDir).map(_.getPath.getName)
      .filter(_.startsWith("o")).map(_.stripPrefix("o").toLong)
      .foldLeft(0L)(math.max)
  }

  /** Process everything committed since the last completed poll. Returns
    * the (fromExclusive, toInclusive) version range processed, or None if
    * the table has nothing new. The offset advances ONLY after `process`
    * returns — a throw re-delivers the delta on the next poll. */
  def poll(process: org.apache.spark.sql.DataFrame => Unit): Option[(Long, Long)] = {
    require(maxVersionsPerPoll >= 1, "maxVersionsPerPoll must be >= 1")
    val from = lastConsumed()
    val cap = // overflow-safe: the default cap is Long.MaxValue
      if (maxVersionsPerPoll > Long.MaxValue - from) Long.MaxValue
      else from + maxVersionsPerPoll
    val tip = math.min(table.latestVersion(), cap)
    if (tip <= from) return None
    // same insert-only contract as the streaming source (one manifest
    // walk for both questions): a rewrite or delete in the range is an
    // error unless the consumer opted into appends-only (rewrite files
    // would replay old rows as new)
    val (appendFiles, changed) = table.appendDelta(from, tip)
    if (changed.nonEmpty && !skipChangeCommits)
      throw new IllegalStateException(
        "SnapshotFollower: non-append data change " +
          changed.map { case (v, a) => s"$a@v$v" }.mkString(", ") +
          " in the poll range; construct with skipChangeCommits=true to " +
          "stream appends only, or consume readChangeFeed for retractions")
    process(table.readFiles(appendFiles.map(_._1)))
    fs.mkdirs(offsetsDir)
    // Create-exclusive like manifests, but a COLLISION here is NOT a
    // failure: processing already succeeded, and the existing offset means
    // a concurrent poll of the same checkpoint committed the same tip.
    // Only the already-exists case is benign — any other IO failure must
    // surface, or a persistently unwritable offsets dir would silently
    // degrade into unbounded full re-delivery on every poll.
    val offsetPath = new Path(offsetsDir, f"o$tip%020d")
    try {
      val out = fs.create(offsetPath, false)
      out.close()
    } catch {
      case e: java.io.IOException =>
        if (!fs.exists(offsetPath)) throw e // genuine failure, not a race
    }
    Some((from, tip))
  }
}

/** Static (serializable-closure-safe) helpers shared by the driver and
  * executor sides of maintenance sweeps. */
object SnapshotTable {
  /** One file's integrity verdict for [[SnapshotTable.probeAnomalies]]:
    * `Some(None)` = missing, `Some(Some(actual))` = length mismatch
    * against a recorded length ≥ 0, `None` = healthy (or length
    * unknown and present). Lives on the companion so the distributed
    * probe's closure serializes WITHOUT capturing the table handle. */
  private[sources] def probeAnomaly(lfs: FileSystem, p: Path,
                                    recorded: Long): Option[Option[Long]] =
    try {
      val onDisk = lfs.getFileStatus(p).getLen
      if (recorded >= 0L && onDisk != recorded) Some(Some(onDisk)) else None
    } catch { case _: java.io.FileNotFoundException => Some(None) }

  /** Sweep ONE commit directory's dead data files: parquet files that
    * are not live at any retained version and are either provably
    * expired (listed by a manifest below the retention horizon) or
    * older than the orphan grace window. Removes the directory itself
    * when it empties. Pure function of its arguments — safe on both
    * the driver (small tables) and executors (the distributed sweep).
    * IDEMPOTENT under task retry/speculation: a retried sweep task
    * (or a speculative twin) may find the dir — or individual files —
    * already deleted by the first attempt; an absent path IS the
    * desired post-state, so FileNotFoundException reads as "swept"
    * rather than failing the vacuum job. */
  private[sources] def sweepCommitDir(fs: FileSystem, commitDir: Path,
                                      live: Set[String],
                                      expiredRefs: Set[String],
                                      dataCutoff: Long): Unit = {
    val listed =
      try fs.listStatus(commitDir)
      catch { case _: java.io.FileNotFoundException => return }
    listed
      .filter { st =>
        val rel = s"${commitDir.getName}/${st.getPath.getName}"
        st.getPath.getName.endsWith(".parquet") &&
          !live.contains(rel) &&
          (expiredRefs.contains(rel) ||
            st.getModificationTime < dataCutoff)
      }
      .foreach { st =>
        try fs.delete(st.getPath, false)
        catch { case _: java.io.FileNotFoundException => () }
      }
    val empty =
      try fs.listStatus(commitDir).isEmpty
      catch { case _: java.io.FileNotFoundException => false }
    if (empty)
      try fs.delete(commitDir, true)
      catch { case _: java.io.FileNotFoundException => () }
  }
}
