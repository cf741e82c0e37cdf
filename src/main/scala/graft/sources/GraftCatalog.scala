package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.{procedures => procs}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** V2 `TableCatalog` over snapshot-format tables — the NAME surface of
  * the lakehouse: after
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  * tables resolve as `graft.<namespace>.<table>` in every SQL statement:
  * `CREATE TABLE / CTAS / INSERT INTO / INSERT OVERWRITE / SELECT /
  * DELETE / UPDATE / MERGE INTO / TRUNCATE / DROP`, plus
  * `FOR VERSION AS OF` / `FOR TIMESTAMP AS OF` time travel — all
  * backed by the same manifest commit protocol as the path API.
  *
  * Identity IS layout: namespace = directory chain under the warehouse,
  * table = a directory holding `_snapshots/` — no side metastore to
  * drift from the data (the filesystem is the catalog; `listTables`
  * recognizes a table by its manifest dir). `CREATE TABLE` publishes
  * version 1 as an empty, schema-bearing snapshot (one driver-written
  * parquet file, no Spark job), so a fresh table SELECTs as zero rows
  * and carries its schema and `stats_cols` index from birth.
  *
  * Partition transforms are rejected by design: physical layout is
  * table MAINTENANCE in this format (`compact(clusterBy = …)` + the
  * manifest's per-file stats), not a DDL-time contract — the
  * replaceWhere/readRange machinery prunes on stats bands, which
  * range clustering makes tight. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {
  private var catName: String = _
  private var warehouse: Path = _
  private def spark: SparkSession = SparkSession.active
  private def fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val w = Option(options.get("warehouse")).getOrElse(sys.error(
      s"catalog '$name': set spark.sql.catalog.$name.warehouse to the warehouse directory"))
    warehouse = new Path(w)
  }
  override def name(): String = catName

  /** Names map 1:1 onto directory names — restrict to a portable set so
    * an identifier can never escape the warehouse or break a path. */
  private def validPart(s: String): String = {
    require(s.matches("[A-Za-z0-9_]+"),
      s"catalog '$catName': identifier part '$s' (allowed: [A-Za-z0-9_]+)")
    s
  }
  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, n) => new Path(p, validPart(n)))
  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), validPart(ident.name))
  private def isTable(p: Path): Boolean = fs.exists(new Path(p, "_snapshots"))

  // ------------------------------ tables ------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace.toSeq)
    fs.listStatus(p).filter(st => st.isDirectory && isTable(st.getPath))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tablePath(ident))

  private def load(ident: Identifier, options: Map[String, String]): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val props = new util.HashMap[String, String]()
    props.put("path", p.toString)
    options.foreach { case (k, v) => props.put(k, v) }
    val pinned @ (handle, version) =
      SnapshotBatch.resolve(spark, new CaseInsensitiveStringMap(props))
    val tableProps = handle.tableProperties
    val raw = handle.schemaOf(version) // manifest-recorded: zero data I/O
    // a declared equality-delete key is an IDENTIFIER: report it
    // non-nullable (Spark requires non-null row IDs for delta-based
    // DML, and the output resolver then enforces NOT NULL on catalog
    // INSERTs — the Iceberg required-identifier-field idiom). DDL
    // validation proved existing data holds no NULL keys; path-based
    // writers bypassing the catalog must honor the same contract.
    val keyCols = tableProps.get("write.delete.key")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val schema =
      if (keyCols.isEmpty) raw
      else StructType(raw.fields.map(f =>
        if (keyCols.contains(f.name)) f.copy(nullable = false) else f))
    new GraftSnapshotBatchTable(spark, p.toString, schema,
      Some(pinned), writeStatsCols = handle.statsColumns,
      props = tableProps, streaming = true)
  }

  /** Known-key validation for SET TBLPROPERTIES / CREATE TBLPROPERTIES —
    * a typo'd mode or a delete key naming a missing column must fail at
    * DDL time, not at the first DELETE statement. */
  private def validateProperty(t: SnapshotTable, key: String, value: String): Unit =
    key match {
      case "write.delete.mode" | "write.update.mode" | "write.merge.mode" =>
        require(value == "copy-on-write" || value == "merge-on-read",
          s"$key must be 'copy-on-write' or 'merge-on-read'; got '$value'")
      case "write.delete.key" =>
        val cols = value.split(",").map(_.trim).filter(_.nonEmpty)
        require(cols.nonEmpty, "write.delete.key must name at least one column")
        val cur = t.read(t.latestVersion())
        val missing = cols.filterNot(cur.schema.fieldNames.contains)
        require(missing.isEmpty,
          s"write.delete.key columns ${missing.mkString(",")} not in the " +
            s"table schema (${cur.schema.fieldNames.mkString(",")})")
        // the key becomes a required identifier (reported non-null):
        // existing NULLs would make that claim — and equality deletes —
        // silently wrong, so reject them at DDL time
        import org.apache.spark.sql.functions.col
        val withNull = cur.filter(
          cols.map(c => col(c).isNull).reduce(_ || _)).limit(1).count()
        require(withNull == 0,
          s"write.delete.key (${cols.mkString(",")}) has NULLs in existing " +
            "rows — an equality-delete identifier must be non-null")
      case "write.cluster.by" =>
        val cols = value.split(",").map(_.trim).filter(_.nonEmpty)
        require(cols.nonEmpty, "write.cluster.by must name at least one column")
        val fields = t.schemaOf(t.latestVersion()).fieldNames
        val missing = cols.filterNot(fields.contains)
        require(missing.isEmpty,
          s"write.cluster.by columns ${missing.mkString(",")} not in the " +
            s"table schema (${fields.mkString(",")})")
      case "write.delete.compact.at" =>
        require(scala.util.Try(value.toInt).toOption.exists(_ >= 2),
          s"write.delete.compact.at must be an integer >= 2 (delete-file " +
            s"count that triggers an automatic fold); got '$value'")
      case "write.bloom.cols" =>
        val cols = value.split(",").map(_.trim).filter(_.nonEmpty)
        require(cols.nonEmpty, "write.bloom.cols must name at least one column")
        val sc = t.tipStatsCols
        val missing = cols.filterNot(sc.contains)
        require(missing.isEmpty,
          s"write.bloom.cols columns ${missing.mkString(",")} are not stats " +
            s"columns (${sc.mkString(",")}) — the filter keys are the stats " +
            "bands' keys, so only indexed columns can carry one")
      case k if k.startsWith(TableConstraints.Prefix) =>
        // fail-at-DDL: the predicate must parse/resolve/coerce against
        // the live schema, and EXISTING rows must satisfy it — otherwise
        // the constraint would claim something the table already breaks
        val name = k.stripPrefix(TableConstraints.Prefix)
        val schema = t.schemaOf(t.latestVersion())
        TableConstraints.validate(spark, schema, name, value)
        import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
        val violating = t.read(t.latestVersion())
          .filter(not(coalesce(expr(value), lit(true)))).limit(1).count()
        require(violating == 0,
          s"constraint.$name ($value): existing rows violate the " +
            "predicate — clean the data before declaring the invariant")
      case _ => ()
    }

  /** [[validateProperty]] for CREATE TABLE, where no table exists yet:
    * the same checks against the DDL schema. The delete-key null scan
    * is vacuous on a table born empty. */
  private def validateCreateProperty(schema: StructType, key: String,
                                     value: String): Unit =
    key match {
      case "write.delete.mode" | "write.update.mode" | "write.merge.mode" =>
        require(value == "copy-on-write" || value == "merge-on-read",
          s"$key must be 'copy-on-write' or 'merge-on-read'; got '$value'")
      case "write.delete.key" | "write.cluster.by" =>
        val cols = value.split(",").map(_.trim).filter(_.nonEmpty)
        require(cols.nonEmpty, s"$key must name at least one column")
        val missing = cols.filterNot(schema.fieldNames.contains)
        require(missing.isEmpty,
          s"$key columns ${missing.mkString(",")} not in the table schema " +
            s"(${schema.fieldNames.mkString(",")})")
      case "write.delete.compact.at" =>
        require(scala.util.Try(value.toInt).toOption.exists(_ >= 2),
          s"write.delete.compact.at must be an integer >= 2 (delete-file " +
            s"count that triggers an automatic fold); got '$value'")
      case "write.bloom.cols" =>
        val cols = value.split(",").map(_.trim).filter(_.nonEmpty)
        require(cols.nonEmpty, "write.bloom.cols must name at least one column")
        val missing = cols.filterNot(schema.fieldNames.contains)
        require(missing.isEmpty,
          s"write.bloom.cols columns ${missing.mkString(",")} not in the " +
            s"table schema (${schema.fieldNames.mkString(",")})")
      case k if k.startsWith(TableConstraints.Prefix) =>
        TableConstraints.validate(spark, schema,
          k.stripPrefix(TableConstraints.Prefix), value)
      case _ => ()
    }

  /** CROSS-property validation of the EFFECTIVE property set — run on
    * the post-edit map at CREATE, SET and UNSET: per-key checks cannot
    * see that `write.update.mode='merge-on-read'` without a
    * `write.delete.key` passes DDL and fails only at the first UPDATE.
    * The validator's contract is fail-at-DDL, so the combination is
    * rejected here. */
  private def validatePropertySet(effective: Map[String, String]): Unit = {
    val morModes = Seq("write.delete.mode", "write.update.mode", "write.merge.mode")
      .filter(k => effective.get(k).contains("merge-on-read"))
    require(morModes.isEmpty || effective.contains("write.delete.key"),
      s"${morModes.mkString(", ")} = 'merge-on-read' requires " +
        "write.delete.key = '<col>[,<col>…]' (the equality key every " +
        "merge-on-read statement deletes by) — set it in the same DDL")
    // bloom columns must be a subset of the declared stats columns when
    // both arrive in the same DDL (an existing table's live stats cols
    // are checked per-key against the manifest instead)
    for (bloom <- effective.get("write.bloom.cols");
         sc <- effective.get("stats_cols")) {
      val scSet = sc.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val missing = bloom.split(",").map(_.trim).filter(_.nonEmpty)
        .filterNot(scSet.contains)
      require(missing.isEmpty,
        s"write.bloom.cols columns ${missing.mkString(",")} are not in " +
          s"stats_cols ($sc) — the filter keys are the stats bands' keys")
    }
  }

  override def loadTable(ident: Identifier): Table = load(ident, Map.empty)

  /** SQL `FOR VERSION AS OF v` — same resolution as the DSv2 reader
    * option. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Map("versionAsOf" -> version))

  /** SQL `FOR TIMESTAMP AS OF ts` — Spark hands MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, Map("timestampAsOf" -> (timestamp / 1000L).toString))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      s"catalog '$catName': PARTITIONED BY is not a snapshot-table contract — " +
        "physical layout is maintenance (SnapshotTable.compact(clusterBy = ...)) " +
        "pruned via per-file stats; declare TBLPROPERTIES('stats_cols'='...') instead")
    val p = tablePath(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    val statsCols = Option(properties.get("stats_cols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val missing = statsCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"stats_cols ${missing.mkString(",")} not in the table schema " +
        s"(${schema.fieldNames.mkString(",")})")
    // validate EVERY property BEFORE anything touches the filesystem —
    // a rejected CREATE must leave no half-created table behind. The
    // table does not exist yet, so the checks run against the DDL
    // schema (the null-scan half of the delete-key check is vacuous on
    // an empty table by definition).
    val reserved = Set("provider", "location", "owner", "comment",
      "external", "stats_cols")
    val userProps = scala.jdk.CollectionConverters.MapHasAsScala(properties)
      .asScala.toMap
      .filterNot { case (k, _) => reserved.contains(k) || k.startsWith("option.") }
    userProps.foreach { case (k, v) => validateCreateProperty(schema, k, v) }
    validatePropertySet(userProps)
    fs.mkdirs(p)
    // version 1: an empty schema-bearing snapshot, driver-written (no
    // Spark job) — the table SELECTs as zero rows from birth and every
    // later commit evolves from this recorded schema
    val t = new SnapshotTable(spark, p.toString, statsCols)
    val uuid = java.util.UUID.randomUUID().toString
    val conf = spark.sessionState.conf
    val w = new SnapshotParquetWriter(new Path(p, "data").toString, uuid,
      "part-00000-create.parquet", schema, statsCols,
      conf.writeLegacyParquetFormat.toString, conf.parquetOutputTimestampType.toString,
      spark.sparkContext.hadoopConfiguration)
    val msg = w.commit().asInstanceOf[SnapshotWriteMessage]
    // bootstrap version: dataChange=false — an empty create delivers
    // nothing, so feeds and streams start cleanly from it
    t.commitWrittenOverwrite(Seq(s"$uuid/${msg.file}"),
      SnapshotWrite.colStats(Seq(msg), statsCols.length), 0L, schema,
      dataChange = false, frows = Seq(0L))
    // persist user TBLPROPERTIES (config sidecar) — minus the keys Spark
    // injects and stats_cols, which lives in the manifests themselves
    if (userProps.nonEmpty) t.setTableProperties(userProps)
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD/RENAME/DROP COLUMN` publish schema-only
    * versions (same files, new schema, dataChange=false — feeds skip
    * them). ADD null-fills at read (native additive evolution); RENAME
    * and DROP ride the column mapping ([[ColumnMapping]]): the field's
    * physical file name never changes, so ZERO data files are rewritten
    * and time travel below the DDL reads the old schema. ALTER COLUMN
    * TYPE accepts WIDENING only (integral widening, float→double) as
    * another schema-only commit — the parquet readers upcast the
    * narrower stored values under the pinned wider schema; narrowing is
    * a rewrite and stays rejected. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val t = new SnapshotTable(spark, p.toString)
    // property edits FOLD across the whole statement and validate once
    // on the final effective set — `SET TBLPROPERTIES('write.merge.mode'
    // = 'merge-on-read', 'write.delete.key' = 'k')` arrives as two
    // changes, and per-change cross-validation would reject the valid
    // combined edit depending on arrival order
    var props: Option[Map[String, String]] = None
    def cur: Map[String, String] = props.getOrElse(t.tableProperties)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"catalog '$catName': only top-level ADD COLUMN is supported")
        require(add.isNullable,
          "added columns must be nullable (existing rows null-fill)")
        t.commitAddColumn(add.fieldNames.head, add.dataType)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          s"catalog '$catName': only top-level RENAME COLUMN is supported")
        requireUnconstrained(t, cur, ren.fieldNames.head, "RENAME")
        t.commitRenameColumn(ren.fieldNames.head, ren.newName)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"catalog '$catName': only top-level DROP COLUMN is supported")
        requireUnconstrained(t, cur, del.fieldNames.head, "DROP")
        t.commitDropColumn(del.fieldNames.head)
      case upd: TableChange.UpdateColumnType =>
        // widening only — a schema-only commit, zero files rewritten;
        // the column keeps its name, so constraints/stats/cluster
        // properties referencing it stay valid (integral band keys are
        // type-independent)
        require(upd.fieldNames.length == 1,
          s"catalog '$catName': only top-level ALTER COLUMN TYPE is supported")
        t.commitWidenColumn(upd.fieldNames.head, upd.newDataType)
      case set: TableChange.SetProperty =>
        // property edits are CONFIG (props sidecar), not data commits
        validateProperty(t, set.property, set.value)
        props = Some(cur + (set.property -> set.value))
      case unset: TableChange.RemoveProperty =>
        props = Some(cur - unset.property)
      case other => throw new UnsupportedOperationException(
        s"catalog '$catName': unsupported ALTER ${other.getClass.getSimpleName} — " +
          "snapshot tables support ADD/RENAME/DROP COLUMN, widening " +
          "ALTER COLUMN TYPE, and SET/UNSET TBLPROPERTIES; anything " +
          "else is a rewrite")
    }
    props.foreach { next =>
      // removing the delete key from under a merge-on-read mode must
      // fail the same way setting the mode without one does
      validatePropertySet(next)
      t.setTableProperties(next)
    }
    loadTable(ident)
  }

  /** A column a CHECK constraint (or a column-list property —
    * write.bloom.cols, write.cluster.by) references cannot be renamed
    * or dropped from under it: the constraint would dangle and fail
    * every subsequent write, and a stale column-list would silently
    * STOP doing its job (no more bloom folds / clustered appends) —
    * worse than loud. Drop or rewrite the property first (fail-fast
    * beats a half-applied ALTER). */
  private def requireUnconstrained(t: SnapshotTable,
                                   props: Map[String, String],
                                   column: String, op: String): Unit = {
    val schema = t.schemaOf(t.latestVersion())
    TableConstraints.of(props).foreach { case (name, sql) =>
      val refs = TableConstraints.referencedColumns(spark, schema, name, sql)
      require(!refs.exists(_.equalsIgnoreCase(column)),
        s"$op COLUMN $column: CHECK constraint '$name' ($sql) references " +
          "it — drop the constraint first")
    }
    Seq("write.bloom.cols", "write.cluster.by").foreach { key =>
      props.get(key).foreach { v =>
        val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
        require(!cols.exists(_.equalsIgnoreCase(column)),
          s"$op COLUMN $column: $key ($v) references it — update the " +
            "property first (a stale name would silently disable it)")
      }
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTable(p)) false
    else fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    val to = tablePath(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to), s"rename $from -> $to failed")
  }

  // ---------------------------- namespaces ----------------------------

  private def isNamespace(p: Path): Boolean =
    fs.exists(p) && fs.getFileStatus(p).isDirectory && !isTable(p)

  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(st => isNamespace(st.getPath))
      .map(st => Array(st.getPath.getName))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val p = nsPath(namespace)
    if (!isNamespace(p)) throw new NoSuchNamespaceException(namespace.toSeq)
    fs.listStatus(p).filter(st => isNamespace(st.getPath))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || isNamespace(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace.toSeq)
    new util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val p = nsPath(namespace)
    if (fs.exists(p)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(p)
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"catalog '$catName': namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!isNamespace(p)) throw new NoSuchNamespaceException(namespace.toSeq)
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    fs.delete(p, true)
  }

  // --------------------------- procedures ----------------------------
  // SQL maintenance surface: `CALL <catalog>.system.<proc>(...)` — the
  // table-format operations that are MAINTENANCE (not queries and not
  // DML) reachable by name: compaction/clustering, retention vacuum,
  // and roll-forward rollback. Each returns a one-row result scan.

  /** `'db.tbl'` (relative to this catalog) → a handle opened with the
    * tip's stats columns, so maintenance commits carry the skipping
    * index forward. */
  /** Public handle resolver for out-of-package SQL commands (the
    * ANALYZE bridge lives under org.apache.spark.sql.graft): same
    * contract as the procedures' resolver. */
  def snapshotHandleFor(qualified: String): SnapshotTable = handleFor(qualified)

  private def handleFor(qualified: String): SnapshotTable = {
    val parts = qualified.split("\\.")
    require(parts.length >= 1 && parts.forall(_.nonEmpty),
      s"procedure table argument must be 'namespace.table', got '$qualified'")
    val ident = Identifier.of(parts.init, parts.last)
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val probe = new SnapshotTable(spark, p.toString)
    new SnapshotTable(spark, p.toString, statsCols = probe.tipStatsCols)
  }

  /** `'db.tbl'` → the path a NEW table of that name would live at —
    * validated not to exist yet and (when namespaced) to live in an
    * existing namespace. The clone procedure's destination resolver. */
  private[sources] def newTablePathFor(qualified: String): Path = {
    val parts = qualified.split("\\.")
    require(parts.length >= 1 && parts.forall(_.nonEmpty),
      s"destination table argument must be 'namespace.table', got '$qualified'")
    val ident = Identifier.of(parts.init, parts.last)
    val p = tablePath(ident)
    require(!isTable(p), s"destination table '$qualified' already exists")
    if (ident.namespace.nonEmpty)
      require(namespaceExists(ident.namespace),
        s"namespace ${ident.namespace.mkString(".")} does not exist " +
          s"in catalog '$catName' (CREATE NAMESPACE first)")
    p
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n))
    else Array.empty

  override def loadProcedure(ident: Identifier): procs.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"catalog '$catName': procedures live under ${catName}.system " +
        s"(got ${ident.namespace.mkString(".")}.${ident.name})")
    GraftProcedures.load(ident.name, this, handleFor)
  }
}

/** The maintenance procedures (`CALL cat.system.<name>`):
  *  - `compact(table, target_rows_per_file [, cluster_by])` — rewrite
  *    the tip into ~target-sized files, optionally range-clustered on a
  *    column (tight per-file bands for the skipping index), published
  *    as a dataChange=false version;
  *  - `compact_deletes(table)` — fold accumulated merge-on-read delete
  *    files into one per applicability class, NO data file touched (the
  *    cheap step between full compactions);
  *  - `vacuum(table, keep_last)` — drop data files and manifests
  *    outside the retained suffix;
  *  - `rollback(table, version)` — roll FORWARD to an old version's
  *    contents as a new version (history stays intact);
  *  - `ingest_files(table, paths [, format])` — exactly-once file
  *    ingestion: each matched source file lands as one ingest version
  *    keyed by its path, so re-runs never double-load;
  *  - `compact_range(table, column, lo, hi, target_rows)` — band-scoped
  *    compaction: fold only the files overlapping a hot key window,
  *    re-listing cold files by identity;
  *  - `check_table(table [, deep])` — integrity check (fsck): files
  *    exist, lengths match, metadata vectors align, row counts
  *    reconcile; deep adds one recount scan.
  *  - `repair_table(table [, dry_run, drop_deletes])` — disaster
  *    recovery: re-list the tip without the files storage lost or
  *    corrupted so the table reads again; dry_run (default true)
  *    only reports, drop_deletes must be explicit (resurrection).
  */
private[sources] object GraftProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types.{DataTypes, StructField}

  val names: Array[String] =
    Array("compact", "compact_files", "compact_deletes", "vacuum",
      "expire_snapshots", "rollback",
      "create_tag", "drop_tag", "create_branch", "drop_branch",
      "fast_forward", "merge_branch", "clone", "ingest_files", "compact_range",
      "check_table", "repair_table", "maintain", "estimate_distinct",
      "table_stats")

  def load(name: String, catalog: GraftCatalog,
           handleFor: String => SnapshotTable): UnboundProcedure = name match {
    case "compact" =>
      proc("compact", "rewrite the tip into ~target-sized files as a " +
        "dataChange=false version; cluster_by one column range-clusters, " +
        "a comma-separated list Z-orders (multi-column skipping)",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("target_rows_per_file", DataTypes.LongType).build(),
          ProcedureParameter.in("cluster_by", DataTypes.StringType)
            .defaultValue("CAST(NULL AS STRING)").build()),
        StructType(Seq(StructField("version", DataTypes.LongType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val cluster =
            if (in.isNullAt(2)) Seq.empty[String]
            else in.getString(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
          Seq(t.compact(in.getLong(1), cluster))
      }
    case "ingest_files" =>
      proc("ingest_files", "exactly-once file ingestion (the COPY INTO " +
        "shape): every source file matching the glob lands as ONE " +
        "manifest version keyed by its path — re-running the CALL skips " +
        "already-ingested sources, so cron retries and overlapping " +
        "backfills never double-load. format: 'parquet' (default), " +
        "'csv' (header row) or 'json' (lines) — csv/json columns read " +
        "with the TABLE's schema, no inference job",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("paths", DataTypes.StringType).build(),
          ProcedureParameter.in("format", DataTypes.StringType)
            .defaultValue("'parquet'").build()),
        StructType(Seq(
          StructField("ingested", DataTypes.LongType, nullable = false),
          StructField("skipped", DataTypes.LongType, nullable = false),
          StructField("version", DataTypes.LongType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val spark = SparkSession.active
          val fmt = if (in.isNullAt(2)) "parquet" else in.getString(2)
          require(fmt == "parquet" || fmt == "csv" || fmt == "json",
            s"ingest_files format must be 'parquet', 'csv' or 'json'; got '$fmt'")
          val glob = new Path(in.getString(1))
          val gfs = glob.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val matched = Option(gfs.globStatus(glob)).map(_.toSeq)
            .getOrElse(Seq.empty).filter(_.isFile)
            .map(_.getPath.toString).sorted
          // An empty source window is a NORMAL state for the cron-retry /
          // backfill loops this procedure targets (sources archived, or
          // nothing new since the last run): report (0, 0, tip) instead
          // of failing, so unattended re-runs stay idempotent.
          if (matched.isEmpty) Seq(0L, 0L, t.latestVersion())
          else {
            def read(src: String): org.apache.spark.sql.DataFrame = fmt match {
              case "parquet" => spark.read.parquet(src)
              case "json" => // table-typed, like CSV: zero inference jobs
                spark.read.schema(t.schemaOf(t.latestVersion())).json(src)
              case _ =>
                // the catalog table's schema types the CSV — deterministic
                // and zero inference jobs per source file
                spark.read.option("header", "true")
                  .schema(t.schemaOf(t.latestVersion())).csv(src)
            }
            val (ing, skip) = t.ingestFiles(matched, read)
            Seq(ing, skip, t.latestVersion())
          }
      }
    case "check_table" =>
      proc("check_table", "table integrity check (fsck): listed files " +
        "exist, recorded lengths match storage, metadata vectors align, " +
        "recorded row counts reconcile (MOR tables reconcile from " +
        "metadata as bounds: rows in [sum(frows)-sum(drows), " +
        "sum(frows)]); deep=true adds one full recount scan through " +
        "MOR deletes",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("deep", DataTypes.BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(
          StructField("version", DataTypes.LongType, nullable = false),
          StructField("files", DataTypes.LongType, nullable = false),
          StructField("deletes", DataTypes.LongType, nullable = false),
          StructField("missing", DataTypes.LongType, nullable = false),
          StructField("length_mismatches", DataTypes.LongType, nullable = false),
          StructField("misaligned_vectors", DataTypes.LongType, nullable = false),
          StructField("rows_recorded", DataTypes.LongType, nullable = false),
          StructField("rows_checked", DataTypes.LongType, nullable = true),
          StructField("rows_lo", DataTypes.LongType, nullable = true),
          StructField("rows_hi", DataTypes.LongType, nullable = true),
          StructField("ok", DataTypes.BooleanType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val deep = !in.isNullAt(1) && in.getBoolean(1)
          val r = t.checkTable(deep = deep)
          Seq(r.version, r.files, r.deletes, r.missingFiles.length.toLong,
            r.lengthMismatches.length.toLong,
            r.misalignedVectors.length.toLong, r.rowsRecorded,
            r.rowsDeepScan.orElse(r.rowsFromCounts).orNull,
            r.rowsBounds.map(_._1).orNull, r.rowsBounds.map(_._2).orNull,
            r.ok)
      }
    case "table_stats" =>
      procRows("table_stats", "per-stats-column table statistics from ONE " +
        "manifest parse (ANALYZE without a scan): exact band-key bounds, " +
        "typed string value bounds, null census (NULL where any live " +
        "file's vector is unknown — never a guess), NDV-sketch distinct " +
        "estimate; the catalog-name twin of the snapshot_stats TVF",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("version", DataTypes.LongType)
            .defaultValue("-1").build()),
        StructType(Seq(
          StructField("column", DataTypes.StringType, nullable = false),
          StructField("n_rows", DataTypes.LongType, nullable = false),
          StructField("n_files", DataTypes.LongType, nullable = false),
          StructField("min_key", DataTypes.LongType, nullable = true),
          StructField("max_key", DataTypes.LongType, nullable = true),
          StructField("min_value", DataTypes.StringType, nullable = true),
          StructField("max_value", DataTypes.StringType, nullable = true),
          StructField("null_count", DataTypes.LongType, nullable = true),
          StructField("ndv_est", DataTypes.LongType, nullable = true)))) {
        in =>
          val t = handleFor(in.getString(0))
          val version = if (in.isNullAt(1)) -1L else in.getLong(1)
          val v = if (version < 0) t.latestVersion() else version
          val snap = t.snapshot(v)
          t.statsSummary(v).map(c => Seq[Any](c.column, snap.rows,
            snap.files.length.toLong, c.minKey.orNull, c.maxKey.orNull,
            c.minValue.orNull, c.maxValue.orNull,
            c.nullCount.orNull, c.ndvEst.orNull))
      }
    case "repair_table" =>
      proc("repair_table", "disaster recovery: re-list the tip WITHOUT " +
        "the files storage lost or corrupted (missing, or on-disk " +
        "length differs from the recorded one) so the table reads " +
        "again — one manifest commit, no data copied; the dropped rows " +
        "are gone (restore from a clone/backup to get them back). " +
        "dry_run=true (default) only reports; damaged DELETE files are " +
        "refused unless drop_deletes=true (dropping one resurrects the " +
        "rows it deleted)",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("dry_run", DataTypes.BooleanType)
            .defaultValue("true").build(),
          ProcedureParameter.in("drop_deletes", DataTypes.BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(
          StructField("version", DataTypes.LongType, nullable = false),
          StructField("dropped_files", DataTypes.LongType, nullable = false),
          StructField("dropped_deletes", DataTypes.LongType, nullable = false),
          StructField("rows_before", DataTypes.LongType, nullable = false),
          // -1 on a dry run whose exact accounting would need the
          // recount scan the committing run pays
          StructField("rows_after", DataTypes.LongType, nullable = false),
          StructField("committed_version", DataTypes.LongType, nullable = true)))) {
        in =>
          val t = handleFor(in.getString(0))
          val dry = in.isNullAt(1) || in.getBoolean(1)
          val dropDel = !in.isNullAt(2) && in.getBoolean(2)
          val r = t.repairTable(dryRun = dry, dropDeletes = dropDel)
          Seq(r.version, r.droppedFiles.length.toLong,
            r.droppedDeletes.length.toLong, r.rowsBefore, r.rowsAfter,
            r.committed.orNull)
      }
    case "compact_range" =>
      proc("compact_range", "band-scoped compaction (OPTIMIZE WHERE): " +
        "rewrite ONLY the files whose column band overlaps [lo, hi] " +
        "(band keys: integrals/bools are the value, DATE days-since-" +
        "epoch, TIMESTAMP micros on bandsV>=2 tables, STRING the 8-byte " +
        "prefix), range-clustered on that column; every other file " +
        "re-lists by identity — hot-partition maintenance without " +
        "touching cold data",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("column", DataTypes.StringType).build(),
          ProcedureParameter.in("lo_key", DataTypes.LongType).build(),
          ProcedureParameter.in("hi_key", DataTypes.LongType).build(),
          ProcedureParameter.in("target_rows_per_file", DataTypes.LongType).build()),
        StructType(Seq(
          StructField("version", DataTypes.LongType, nullable = false),
          StructField("files", DataTypes.LongType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val v = t.compactRange(in.getString(1), in.getLong(2), in.getLong(3),
            in.getLong(4))
          Seq(v, t.snapshot(v).files.length.toLong)
      }
    case "compact_files" =>
      proc("compact_files", "rewrite ONLY the data files under " +
        "min_file_bytes into ~target_file_bytes files, re-listing every " +
        "other file untouched — O(debris), the routine upkeep a full " +
        "compact cannot be at scale",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("min_file_bytes", DataTypes.LongType).build(),
          ProcedureParameter.in("target_file_bytes", DataTypes.LongType).build()),
        StructType(Seq(
          StructField("version", DataTypes.LongType, nullable = false),
          StructField("files", DataTypes.LongType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val v = t.compactFiles(in.getLong(1), in.getLong(2))
          Seq(v, t.snapshot(v).files.length.toLong)
      }
    case "compact_deletes" =>
      proc("compact_deletes", "fold accumulated merge-on-read delete " +
        "files into one per applicability class — no data file touched " +
        "(the cheap maintenance step between full compactions)",
        Array(ProcedureParameter.in("table", DataTypes.StringType).build()),
        StructType(Seq(
          StructField("version", DataTypes.LongType, nullable = false),
          StructField("delete_files", DataTypes.LongType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val v = t.compactDeletes()
          Seq(v, t.snapshot(v).deletes.length.toLong)
      }
    case "estimate_distinct" =>
      proc("estimate_distinct", "distinct-count estimate for a stats " +
        "column from the manifest's per-file NDV sketches (mergeable " +
        "HLL — one manifest parse, zero files opened); NULL when the " +
        "column carries no sketches",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("column", DataTypes.StringType).build()),
        StructType(Seq(
          StructField("column", DataTypes.StringType, nullable = false),
          StructField("ndv_est", DataTypes.LongType, nullable = true),
          StructField("n_rows", DataTypes.LongType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val c = in.getString(1)
          Seq(c, t.estimateDistinct(c).orNull,
            t.snapshot(t.latestVersion()).rows)
      }
    case "maintain" =>
      proc("maintain", "ONE policy-chosen maintenance step from the " +
        "manifest's debris metrics: fold delete files, fold small " +
        "files, fold the deepest band-overlap clique, or retention " +
        "vacuum — cheapest estimated bytes first; action='none' when " +
        "the table is clean. The cron loop: CALL until none",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("small_file_bytes", DataTypes.LongType)
            .defaultValue((8L * 1024 * 1024).toString).build(),
          ProcedureParameter.in("target_file_bytes", DataTypes.LongType)
            .defaultValue((128L * 1024 * 1024).toString).build(),
          ProcedureParameter.in("max_retained", DataTypes.IntegerType)
            .defaultValue("0").build()),
        StructType(Seq(
          StructField("action", DataTypes.StringType, nullable = false),
          StructField("version", DataTypes.LongType, nullable = false),
          StructField("est_bytes", DataTypes.LongType, nullable = false),
          StructField("detail", DataTypes.StringType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val p = MaintainPolicy(
            smallFileBytes =
              if (in.isNullAt(1)) 8L * 1024 * 1024 else in.getLong(1),
            targetFileBytes =
              if (in.isNullAt(2)) 128L * 1024 * 1024 else in.getLong(2),
            maxRetained = if (in.isNullAt(3)) 0 else in.getInt(3))
          val r = t.maintain(p)
          Seq(r.action, r.version, r.estBytes, r.detail)
      }
    case "vacuum" =>
      proc("vacuum", "drop data files and manifests outside the last " +
        "keep_last versions",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("keep_last", DataTypes.IntegerType).build()),
        StructType(Seq(
          StructField("tip", DataTypes.LongType, nullable = false),
          StructField("retained", DataTypes.LongType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          t.vacuum(in.getInt(1))
          val tip = t.latestVersion()
          Seq(tip, t.history().length.toLong)
      }
    case "expire_snapshots" =>
      proc("expire_snapshots", "drop versions committed before " +
        "older_than_ms (epoch millis, clock-skew-adjusted; the tip always " +
        "survives) and vacuum their unreachable files — retention as a " +
        "wall-clock contract",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("older_than_ms", DataTypes.LongType).build()),
        StructType(Seq(
          StructField("tip", DataTypes.LongType, nullable = false),
          StructField("retained", DataTypes.LongType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val retained = t.expireSnapshots(in.getLong(1))
          Seq(t.latestVersion(), retained.toLong)
      }
    case "rollback" =>
      proc("rollback", "publish an old version's contents as a NEW " +
        "version (roll-forward; history intact)",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("version", DataTypes.LongType).build()),
        StructType(Seq(StructField("version", DataTypes.LongType, nullable = false)))) {
        in => Seq(handleFor(in.getString(0)).rollbackTo(in.getLong(1)))
      }
    case "create_tag" =>
      proc("create_tag", "pin a version under an immutable name — tagged " +
        "versions survive vacuum/expire_snapshots until the tag is dropped; " +
        "version defaults to the tip",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("name", DataTypes.StringType).build(),
          ProcedureParameter.in("version", DataTypes.LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        StructType(Seq(StructField("version", DataTypes.LongType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val v = if (in.isNullAt(2)) t.latestVersion() else in.getLong(2)
          t.createTag(in.getString(1), v)
          Seq(v)
      }
    case "drop_tag" =>
      proc("drop_tag", "release a tag's retention pin",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("name", DataTypes.StringType).build()),
        StructType(Seq(StructField("dropped", DataTypes.StringType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          t.dropTag(in.getString(1))
          Seq(in.getString(1))
      }
    case "create_branch" =>
      proc("create_branch", "fork a branch at the tip: staged commits go " +
        "to the branch chain (write-audit-publish), data files shared with " +
        "main; returns the fork version",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("name", DataTypes.StringType).build()),
        StructType(Seq(StructField("fork_version", DataTypes.LongType, nullable = false)))) {
        in => Seq(handleFor(in.getString(0)).createBranch(in.getString(1)))
      }
    case "drop_branch" =>
      proc("drop_branch", "delete a branch chain whole; its uniquely " +
        "referenced data files become vacuum-reclaimable",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("name", DataTypes.StringType).build()),
        StructType(Seq(StructField("dropped", DataTypes.StringType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          t.dropBranch(in.getString(1))
          Seq(in.getString(1))
      }
    case "fast_forward" =>
      proc("fast_forward", "publish a branch tip's contents onto main as " +
        "one new version (the write-audit-publish commit); fails if main " +
        "advanced past the fork point",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("name", DataTypes.StringType).build()),
        StructType(Seq(StructField("version", DataTypes.LongType, nullable = false)))) {
        in => Seq(handleFor(in.getString(0)).fastForward(in.getString(1)))
      }
    case "merge_branch" =>
      proc("merge_branch", "merge a DIVERGED append-only branch onto the " +
        "moved main: its post-fork data files replay as one append (file-" +
        "disjoint rebase); refuses branches that rewrote files or added " +
        "merge-on-read deletes since the fork",
        Array(
          ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("name", DataTypes.StringType).build()),
        StructType(Seq(StructField("version", DataTypes.LongType, nullable = false)))) {
        in => Seq(handleFor(in.getString(0)).merge(in.getString(1)))
      }
    case "clone" =>
      proc("clone", "clone source at version (default: tip) into the NEW " +
        "table dest — shallow by default: one manifest referencing the " +
        "source's files by absolute path (zero copy at any size), with a " +
        "clone-v<N> tag pinning the version on the source so its " +
        "vacuum/expire_snapshots never reclaim the shared files; " +
        "deep=true copies the files instead (no storage coupling)",
        Array(
          ProcedureParameter.in("source", DataTypes.StringType).build(),
          ProcedureParameter.in("dest", DataTypes.StringType).build(),
          ProcedureParameter.in("version", DataTypes.LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build(),
          ProcedureParameter.in("deep", DataTypes.BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(
          StructField("version", DataTypes.LongType, nullable = false),
          StructField("files", DataTypes.LongType, nullable = false),
          StructField("mode", DataTypes.StringType, nullable = false)))) {
        in =>
          val t = handleFor(in.getString(0))
          val dest = catalog.newTablePathFor(in.getString(1))
          val version = if (in.isNullAt(2)) -1L else in.getLong(2)
          val deep = !in.isNullAt(3) && in.getBoolean(3)
          val v = t.cloneTo(dest.toString, version, deep)
          Seq(v, t.snapshot(v).files.length.toLong,
            if (deep) "deep" else "shallow")
      }
    case other =>
      throw new IllegalArgumentException(
        s"unknown procedure 'system.$other' (have: ${names.mkString(", ")})")
  }

  /** One-row-result procedure scaffold: bind is identity (parameters
    * carry the types), call runs `body` on the driver and returns a
    * single local scan with the result row. */
  private def proc(procName: String, doc: String,
                   params: Array[ProcedureParameter], out: StructType)
                  (body: InternalRow => Seq[Any]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = doc
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val row = body(input)
        java.util.Collections.singletonList[Scan](
          new OneRowScan(out, row)).iterator()
      }
    }

  /** A local one-row result for a procedure call (the engine requires
    * procedure outputs to be LocalScans). */
  private class OneRowScan(out: StructType, row: Seq[Any])
      extends org.apache.spark.sql.connector.read.LocalScan {
    override def readSchema(): StructType = out
    override def rows(): Array[InternalRow] = Array(InternalRow.fromSeq(row.map {
      case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case other => other
    }))
  }

  /** [[proc]] for procedures whose result is a TABLE (one row per
    * element the body returns — e.g. per stats column). */
  private def procRows(procName: String, doc: String,
                       params: Array[ProcedureParameter], out: StructType)
                      (body: InternalRow => Seq[Seq[Any]]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = procName
      override def description(): String = doc
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val rows = body(input)
        java.util.Collections.singletonList[Scan](
          new RowsScan(out, rows)).iterator()
      }
    }

  private class RowsScan(out: StructType, data: Seq[Seq[Any]])
      extends org.apache.spark.sql.connector.read.LocalScan {
    override def readSchema(): StructType = out
    override def rows(): Array[InternalRow] = data.map(r =>
      InternalRow.fromSeq(r.map {
        case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case other => other
      })).toArray
  }
}
