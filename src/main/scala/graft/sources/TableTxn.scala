package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One committed multi-table transaction: the FULL published tip map as
  * of this transaction (self-contained — one manifest read resolves
  * every table, no chain walk), plus which tables this transaction
  * moved. */
case class TxnManifest(txn: Long, base: Long, action: String,
                       tsMillis: Long,
                       tables: Map[String, Long],
                       touched: Seq[String])

/** Raised when a racing transaction already moved one of THIS
  * transaction's tables — the multi-table analogue of losing a
  * single-table manifest CAS. The caller re-stages against the new
  * published state or gives up; auto-rebasing someone else's move of
  * the SAME table would silently undo their publish. */
class ConcurrentTxnException(msg: String) extends RuntimeException(msg)

/** MULTI-TABLE ATOMIC COMMIT — a root-level transaction log that CASes
  * a SET of (table, version) pins in one exclusive manifest publish, so
  * a blue-green promote spanning many tables (the reference's flagship
  * swap: `taico_facebook_data_etl_dag.py:136-222` promotes
  * staging→production with backup/rollback, and `dags/etl.py:143-190`
  * syncs 9 dimensions plus the relations bridge as ONE logical unit)
  * publishes all-or-nothing. Without it each [[SnapshotTable]] CASes
  * only its own manifest chain: a reader racing a 3-table promote could
  * see table A at the new version and table B at the old one.
  *
  * Protocol — the same two ingredients as the single-table format,
  * lifted one level:
  *
  *  1. STAGE: writers commit new versions to each participating table
  *     normally. A table-level commit is invisible to transactional
  *     readers until a transaction pins it — the table chain IS the
  *     staging area (write-audit-publish at the multi-table level), so
  *     no second copy of the data exists and "promote" moves only
  *     pointers.
  *  2. PUBLISH: one transaction manifest `_txn/t<N>.json` lands via
  *     [[SnapshotLogStore.writeExclusive]] — the identical atomic
  *     create-exclusive primitive table manifests use, with the same
  *     store matrix (nio hard-link locally, rename on HDFS, conditional
  *     PUT on object stores). Exactly one writer wins transaction N.
  *
  * Readers resolve through the LATEST transaction manifest: one
  * hint-guided tip lookup + one manifest read yields the pinned version
  * of EVERY table, and because each manifest carries the full map (not
  * a delta), the resolved set is a consistent cut by construction —
  * all-old or all-new, never mixed. Snapshot versions are immutable, so
  * reads at pinned versions stay consistent for the reader's lifetime
  * regardless of later promotes.
  *
  * Concurrency: optimistic with TABLE-DISJOINT auto-rebase — the same
  * discipline as the format's file-disjoint DML rebase. A transaction
  * that loses the manifest CAS re-reads the new tip; if the racing
  * winner(s) touched none of its tables, its pins merge over the new
  * map and it retries at the next number (both independent promotes
  * land). If any of ITS tables moved, it raises
  * [[ConcurrentTxnException]] — rebasing would silently overwrite the
  * racer's publish of that table.
  *
  * Rollback: versions being immutable, rollback is just another
  * transaction pinning the PRIOR versions ([[promoteAll]] captures them
  * before publishing; tables unpublished before the promote are
  * unpinned again). The failed promote's table-level commits remain in
  * each table's history for audit — exactly the reference's
  * backup→restore intent without copying a byte of data.
  *
  * Scale: a transaction manifest is O(tables) smallint pairs — hundreds
  * of tables fit in a few KB, and publish cost is ONE exclusive write
  * regardless of how much data the promoted versions hold. Readers pay
  * O(commits since hint) existence probes (tip hint, identical to the
  * table-level `_tip`) + one read. Nothing here scales with data size.
  */
class TableTransactions(spark: SparkSession, root: String,
                        logStore: Option[SnapshotLogStore] = None) {
  private val txnDir = new Path(root, "_txn")
  private val tipHintPath = new Path(txnDir, "_tip")
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def store: SnapshotLogStore =
    logStore.getOrElse(SnapshotLogStore.forFileSystem(fs))
  private def txnPath(v: Long) = new Path(txnDir, f"t$v%020d.json")

  private def readTipHint(): Long =
    try {
      if (!fs.exists(tipHintPath)) 0L
      else {
        val in = fs.open(tipHintPath)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                  finally in.close()
        txt.toLong
      }
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Best-effort, like the table-level hint: a stale or torn hint only
    * costs probes, never correctness. */
  private def writeTipHint(v: Long): Unit =
    try {
      val out = fs.create(tipHintPath, /* overwrite = */ true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def probeExists(p: Path): Boolean =
    try fs.getFileStatus(p) != null
    catch { case _: java.io.FileNotFoundException => false }

  /** Latest committed transaction number, 0 when none. Hint-guided
    * forward probe, listing fallback — O(txns since hint) HEADs. */
  def latestTxn(): Long = {
    val hint = readTipHint()
    if (hint > 0 && probeExists(txnPath(hint))) {
      var v = hint
      while (probeExists(txnPath(v + 1))) v += 1
      v
    } else {
      if (!fs.exists(txnDir)) return 0L
      fs.listStatus(txnDir).map(_.getPath.getName)
        .filter(n => n.startsWith("t") && n.endsWith(".json"))
        .map(n => n.stripPrefix("t").stripSuffix(".json").toLong)
        .foldLeft(0L)(math.max)
    }
  }

  /** Parse one transaction manifest. Same torn-read posture as table
    * manifests: the exclusive publish stages the full body before the
    * atomic link/rename, but a bounded retry keeps a progressive-
    * visibility store from raising spuriously. */
  def manifest(txn: Long): TxnManifest =
    SnapshotLogStore.readRetrying(s"corrupt transaction manifest ${txnPath(txn)}") {
      val in = fs.open(txnPath(txn))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      parseTxnText(txt)
    }

  /** The consistent cut: every published table's pinned version as of
    * the latest transaction (empty before the first). ONE manifest
    * read — the map is stored in full, not as a delta chain. */
  def published(): Map[String, Long] = {
    val tip = latestTxn()
    if (tip == 0) Map.empty else manifest(tip).tables
  }

  def publishedVersion(table: String): Option[Long] = published().get(table)

  /** Transaction history, ascending (audit/debug surface). */
  def history(): Seq[TxnManifest] =
    (1L to latestTxn()).map(manifest)

  private def validateName(name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '_' || c == '-' || c == '.'),
      s"table name not publishable in a transaction manifest: '$name' " +
        "(letters, digits, _ - . only)")

  /** Atomically publish `updates` (table → pinned version) merged over
    * the current published map. Auto-rebases over racing transactions
    * touching DISJOINT tables; raises [[ConcurrentTxnException]] when a
    * racer moved one of these tables. `drop` unpins tables (rollback of
    * a first-time publish). Returns the committed transaction number. */
  def commit(updates: Map[String, Long], action: String = "publish",
             drop: Set[String] = Set.empty): Long = {
    require(updates.nonEmpty || drop.nonEmpty, "empty transaction")
    updates.keys.foreach(validateName)
    updates.values.foreach(v => require(v > 0,
      s"cannot pin version $v — versions start at 1"))
    val touched = updates.keySet ++ drop
    // the published map the previous attempt built on (None on the first)
    var prior: Option[Map[String, Long]] = None
    SnapshotLogStore.commitLoop(s"transaction publish at $root", () => latestTxn()) { base =>
      val baseTables = if (base == 0) Map.empty[String, Long]
                       else manifest(base).tables
      // lost the CAS: rebase iff every racer touched only OTHER tables
      val moved = prior.toSeq.flatMap(p => touched.filter(t => p.get(t) != baseTables.get(t)))
      if (moved.nonEmpty)
        throw new ConcurrentTxnException(
          s"transaction lost race at $root: table(s) " +
            s"${moved.sorted.mkString(", ")} moved by a " +
            "concurrent transaction — re-stage against the new " +
            "published state")
      prior = Some(baseTables)
      val next = base + 1
      val body = txnBody(next, base, action, (baseTables -- drop) ++ updates,
        touched.toSeq.sorted)
      if (!fs.exists(txnDir)) fs.mkdirs(txnDir)
      try {
        store.writeExclusive(fs, txnPath(next), body.getBytes("UTF-8"))
        writeTipHint(next)
        Some(next)
      } catch {
        case e: java.io.IOException
            if SnapshotLogStore.isCollision(fs, txnPath(next), e) => None
      }
    }
  }

  /** Blue-green promote with validation and all-or-nothing rollback:
    * publish every (table → staged version) pin in ONE transaction, run
    * `validate` against the published cut, and on failure (false or
    * exception) publish a rollback transaction restoring EVERY prior
    * pin — tables not published before the promote become unpublished
    * again. Returns true when the promote stuck. The staged versions
    * stay in each table's history either way (audit trail). */
  def promoteAll(updates: Map[String, Long],
                 validate: Map[String, Long] => Boolean): Boolean = {
    val before = published()
    val prior = updates.keySet.flatMap(t => before.get(t).map(t -> _)).toMap
    val newlyPublished = updates.keySet -- prior.keySet
    commit(updates, "promote")
    val ok =
      try validate(updates)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!ok)
      commit(prior, "rollback", drop = newlyPublished)
    ok
  }

  /** A handle on a participating table under the conventional layout
    * `root/<name>` (tables elsewhere: construct the [[SnapshotTable]]
    * yourself and pin its versions by name). */
  def table(name: String, statsCols: Seq[String] = Seq.empty): SnapshotTable = {
    validateName(name)
    new SnapshotTable(spark, new Path(root, name).toString, statsCols,
      logStore = logStore)
  }

  /** Read `name` AT its transactionally published version — the only
    * read path that participates in the all-or-nothing cut. Raises if
    * the table has never been published. */
  def readPublished(name: String): DataFrame = {
    val v = publishedVersion(name).getOrElse(throw new IllegalStateException(
      s"table '$name' has no transactionally published version at $root"))
    table(name).read(v)
  }

  private def txnBody(txn: Long, base: Long, action: String,
                      tables: Map[String, Long],
                      touched: Seq[String]): String = {
    val entries = tables.toSeq.sorted
      .map { case (n, v) => s""""$n": $v""" }.mkString(", ")
    val touchedJson = touched.map(n => s""""$n"""").mkString("[", ", ", "]")
    s"""{"txn": $txn, "base": $base, "action": "$action", """ +
      s""""tsMillis": ${System.currentTimeMillis()}, """ +
      s""""touched": $touchedJson, "tables": {$entries}}"""
  }

  /** Fixed-shape hand-rolled parse, mirroring the table manifest's: all
    * string content is name-validated at write time, so no escape
    * handling can ever be needed. */
  private def parseTxnText(txt: String): TxnManifest = {
    def longField(k: String): Long = {
      val m = s""""$k":\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
      m.map(_.group(1).toLong).getOrElse(
        throw new IllegalArgumentException(s"missing field $k"))
    }
    def strField(k: String): String = {
      val m = s""""$k":\\s*"([^"]*)"""".r.findFirstMatchIn(txt)
      m.map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(s"missing field $k"))
    }
    val tablesBlock = {
      val i = txt.indexOf(""""tables":""")
      require(i >= 0, "missing field tables")
      val open = txt.indexOf('{', i)
      val close = txt.indexOf('}', open)
      require(open >= 0 && close > open, "malformed tables block")
      txt.substring(open + 1, close)
    }
    val tables = """"([^"]+)":\s*(\d+)""".r.findAllMatchIn(tablesBlock)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val touchedBlock = {
      val i = txt.indexOf(""""touched":""")
      require(i >= 0, "missing field touched")
      val open = txt.indexOf('[', i)
      val close = txt.indexOf(']', open)
      require(open >= 0 && close > open, "malformed touched block")
      txt.substring(open + 1, close)
    }
    val touched = """"([^"]+)"""".r.findAllMatchIn(touchedBlock)
      .map(_.group(1)).toSeq
    TxnManifest(longField("txn"), longField("base"), strField("action"),
      longField("tsMillis"), tables, touched)
  }
}
