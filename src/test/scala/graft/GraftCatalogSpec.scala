package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** The V2 catalog + SQL DML surface: name-resolved snapshot tables
  * driven purely through SQL identifiers — DDL, DML (DELETE/UPDATE/
  * MERGE via the group-based row-level rewrite), time travel, truncate,
  * additive ALTER, and the snapshot-isolation conflict a concurrent
  * writer surfaces mid-statement. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val cat = "graftcat"
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    val wh = java.nio.file.Files.createTempDirectory("graft_catalog_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
  }

  private def ids(sql: String): Set[Long] =
    spark.sql(sql).select("id").as[Long].collect().toSet

  test("CREATE TABLE / INSERT / SELECT / CTAS / DROP purely by name") {
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT) USING `graft-snapshot` " +
      "TBLPROPERTIES('stats_cols'='id')")
    // a fresh table SELECTs as zero rows (version 1 = empty snapshot)
    assert(spark.table(s"$cat.db.t").count() == 0L)
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id * 100 AS v FROM range(4, 6)")
    assert(ids(s"SELECT id FROM $cat.db.t") == Set(1L, 2L, 3L, 4L, 5L))
    // the stats_cols property became the manifest skipping index
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/t")
    assert(t.snapshot(t.latestVersion()).statsCols == Seq("id"))
    // CTAS
    spark.sql(s"CREATE TABLE $cat.db.t_big USING `graft-snapshot` AS " +
      s"SELECT * FROM $cat.db.t WHERE id >= 3")
    assert(ids(s"SELECT id FROM $cat.db.t_big") == Set(3L, 4L, 5L))
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).toSet.contains("t_big"))
    spark.sql(s"DROP TABLE $cat.db.t_big")
    assert(!spark.catalog.tableExists(s"$cat.db.t_big"))
  }

  test("DELETE / UPDATE / MERGE as SQL statements, version history intact") {
    spark.sql(s"CREATE TABLE $cat.db.dml (id BIGINT, v BIGINT) USING `graft-snapshot` " +
      "TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"INSERT INTO $cat.db.dml VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    spark.sql(s"DELETE FROM $cat.db.dml WHERE id = 2")
    assert(ids(s"SELECT id FROM $cat.db.dml") == Set(1L, 3L, 4L))
    spark.sql(s"UPDATE $cat.db.dml SET v = v + 1 WHERE id >= 3")
    assert(spark.table(s"$cat.db.dml").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (3L, 31L), (4L, 41L)))
    Seq((3L, 300L), (9L, 900L)).toDF("id", "v").createOrReplaceTempView("dml_src")
    spark.sql(
      s"""MERGE INTO $cat.db.dml t USING dml_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table(s"$cat.db.dml").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (3L, 300L), (4L, 41L), (9L, 900L)))
    // every statement was one atomic version; time travel replays them
    assert(ids(s"SELECT id FROM $cat.db.dml VERSION AS OF 2") == Set(1L, 2L, 3L, 4L))
    assert(ids(s"SELECT id FROM $cat.db.dml VERSION AS OF 3") == Set(1L, 3L, 4L))
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/dml")
    assert(t.history().map(_.action) ==
      Seq("overwrite", "append", "delete", "update", "merge"))
  }

  test("selective SQL DELETE/UPDATE rewrites ONLY band-matching files") {
    spark.sql(s"CREATE TABLE $cat.db.pruned (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    // three clustered inserts -> several files with tight, disjoint id bands
    spark.sql(s"INSERT INTO $cat.db.pruned SELECT id, id AS v FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.db.pruned SELECT id, id AS v FROM range(100, 200)")
    spark.sql(s"INSERT INTO $cat.db.pruned SELECT id, id AS v FROM range(200, 300)")
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/pruned", Seq("id"))

    def filesMatching(s: graft.sources.Snapshot, lo: Long, hi: Long)
        : (Seq[String], Seq[String]) = {
      val cs = s.stats.head // statsCols == Seq("id")
      val (m, u) = s.files.indices.partition(i => cs.maxs(i) >= lo && cs.mins(i) <= hi)
      (m.map(s.files), u.map(s.files))
    }

    val before = t.snapshot(t.latestVersion())
    val (matched, untouched) = filesMatching(before, 150, 150)
    assert(matched.nonEmpty && untouched.nonEmpty, "test needs both sides")
    spark.sql(s"DELETE FROM $cat.db.pruned WHERE id = 150")
    val after = t.snapshot(t.latestVersion())
    assert(after.action == "delete")
    // unmatched-band files survive the statement BY FILE IDENTITY —
    // the point UPDATE/DELETE never rewrote them
    untouched.foreach(f => assert(after.files.contains(f), s"$f was rewritten"))
    matched.foreach(f => assert(!after.files.contains(f), s"$f not replaced"))
    assert(after.rows == 299L)
    assert(spark.table(s"$cat.db.pruned").count() == 299L)
    assert(!ids(s"SELECT id FROM $cat.db.pruned").contains(150L))

    // UPDATE: same discipline on a range predicate
    val (m2, u2) = filesMatching(after, 250, 260)
    assert(m2.nonEmpty && u2.nonEmpty)
    spark.sql(s"UPDATE $cat.db.pruned SET v = -1 WHERE id BETWEEN 250 AND 260")
    val after2 = t.snapshot(t.latestVersion())
    u2.foreach(f => assert(after2.files.contains(f), s"$f was rewritten"))
    m2.foreach(f => assert(!after2.files.contains(f), s"$f not replaced"))
    assert(after2.rows == 299L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pruned WHERE v = -1")
      .head.getLong(0) == 11L)
    // rows OUTSIDE the predicate inside matched files survived the rewrite
    assert(spark.table(s"$cat.db.pruned").count() == 299L)

    // a statement whose predicate matches NO file publishes NO version
    val tip = t.latestVersion()
    spark.sql(s"DELETE FROM $cat.db.pruned WHERE id = 5000")
    assert(t.latestVersion() == tip, "fully-pruned no-op must not commit")

    // an unprunable statement still replaces the full table, no stale files
    spark.sql(s"UPDATE $cat.db.pruned SET v = v + 1 WHERE v >= 0")
    val after3 = t.snapshot(t.latestVersion())
    assert(after3.files.intersect(after2.files).isEmpty)
    assert(spark.table(s"$cat.db.pruned").count() == 299L)
  }

  test("pruned DML composes with MOR deletes: kept files keep their sequences") {
    spark.sql(s"CREATE TABLE $cat.db.prunedmor (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"INSERT INTO $cat.db.prunedmor SELECT id, id AS v FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.db.prunedmor SELECT id, id AS v FROM range(100, 200)")
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/prunedmor", Seq("id"))
    // a MOR delete of keys spread across BOTH bands (no rewrite happened)
    t.commitDeleteByKey(Seq(10L, 110L).toDF("id"), Seq("id"))
    assert(spark.table(s"$cat.db.prunedmor").count() == 198L)
    // pruned SQL DELETE touching only the high band: the low band's
    // files carry over with their ORIGINAL sequence, so the MOR delete
    // of id=10 still applies to them at read
    spark.sql(s"DELETE FROM $cat.db.prunedmor WHERE id = 150")
    val after = t.snapshot(t.latestVersion())
    assert(after.action == "delete" && after.deletes.nonEmpty)
    assert(after.rows == 197L)
    val got = ids(s"SELECT id FROM $cat.db.prunedmor")
    assert(spark.table(s"$cat.db.prunedmor").count() == 197L)
    assert(!got.contains(10L) && !got.contains(110L) && !got.contains(150L))
    // the rewritten files ABSORBED the MOR delete for their band: a
    // re-insert of 110 must survive (delete applies only to older seqs)
    spark.sql(s"INSERT INTO $cat.db.prunedmor VALUES (110, -1)")
    assert(ids(s"SELECT id FROM $cat.db.prunedmor").contains(110L))
    assert(spark.table(s"$cat.db.prunedmor").count() == 198L)
  }

  test("a band DELETE covering whole files is METADATA-ONLY: files dropped, none written") {
    spark.sql(s"CREATE TABLE $cat.db.metadel (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"INSERT INTO $cat.db.metadel SELECT id, id AS v FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.db.metadel SELECT id, id AS v FROM range(100, 200)")
    spark.sql(s"INSERT INTO $cat.db.metadel SELECT id, id AS v FROM range(200, 300)")
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/metadel", Seq("id"))
    val before = t.snapshot(t.latestVersion())
    // the top third's files are fully inside [200, inf): dropped whole
    spark.sql(s"DELETE FROM $cat.db.metadel WHERE id >= 200")
    val after = t.snapshot(t.latestVersion())
    assert(after.action == "delete" && after.rows == 200L)
    // METADATA pin: the new manifest lists a strict SUBSET of the old
    // files — nothing was rewritten, nothing new written
    assert(after.files.toSet.subsetOf(before.files.toSet),
      "metadata delete must not write any file")
    assert(before.files.toSet.diff(after.files.toSet).nonEmpty)
    assert(spark.table(s"$cat.db.metadel").count() == 200L)
    assert(!ids(s"SELECT id FROM $cat.db.metadel").contains(250L))

    // an IN-list is a HULL, not a range: it must NOT take the metadata
    // path (IN (40, 160) would wrongly drop everything between) — the
    // row-level rewrite serves it exactly
    spark.sql(s"DELETE FROM $cat.db.metadel WHERE id IN (40, 160)")
    assert(spark.table(s"$cat.db.metadel").count() == 198L)
    val got = ids(s"SELECT id FROM $cat.db.metadel")
    assert(!got.contains(40L) && !got.contains(160L) && got.contains(100L),
      "IN-list delete must remove ONLY the named keys")
  }

  test("write.delete.mode='merge-on-read' routes SQL DELETE to equality deletes") {
    spark.sql(s"CREATE TABLE $cat.db.mordel (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id', " +
      "'write.delete.mode'='merge-on-read', 'write.delete.key'='id')")
    spark.sql(s"INSERT INTO $cat.db.mordel SELECT id, id * 10 AS v FROM range(0, 1000)")
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/mordel", Seq("id"))
    val dataFilesBefore = t.snapshot(t.latestVersion()).files

    spark.sql(s"DELETE FROM $cat.db.mordel WHERE id >= 100 AND id < 120")
    val after = t.snapshot(t.latestVersion())
    // the SQL statement produced a delete_mor version: NO data file was
    // rewritten — the manifest re-lists them all and adds key files
    assert(after.action == "delete_mor")
    assert(after.files == dataFilesBefore, "MOR delete must not rewrite data")
    assert(after.deletes.nonEmpty && after.deleteKey == Seq("id"))
    assert(after.rows == 980L)
    assert(spark.table(s"$cat.db.mordel").count() == 980L)
    assert(!ids(s"SELECT id FROM $cat.db.mordel").contains(105L))

    // change feed replays the retraction
    val cdf = t.readChangeFeed(2, after.version)
    val del = cdf.filter(col("_change_type") === "delete")
    assert(del.count() == 20L)

    // re-insert of a deleted key survives (sequencing rule), and a
    // second SQL MOR delete composes on top
    spark.sql(s"INSERT INTO $cat.db.mordel VALUES (105, -1)")
    assert(ids(s"SELECT id FROM $cat.db.mordel").contains(105L))
    spark.sql(s"DELETE FROM $cat.db.mordel WHERE v = -1")
    assert(!ids(s"SELECT id FROM $cat.db.mordel").contains(105L))
    assert(t.snapshot(t.latestVersion()).action == "delete_mor")

    // a DELETE matching nothing publishes no version
    val tip = t.latestVersion()
    spark.sql(s"DELETE FROM $cat.db.mordel WHERE id = -5")
    assert(t.latestVersion() == tip)

    // UPDATE stays copy-on-write even in merge-on-read mode
    spark.sql(s"UPDATE $cat.db.mordel SET v = 0 WHERE id = 500")
    assert(t.snapshot(t.latestVersion()).action == "update")
    assert(spark.sql(s"SELECT v FROM $cat.db.mordel WHERE id = 500")
      .head.getLong(0) == 0L)

    // compaction absorbs the equality deletes
    spark.sql(s"CALL $cat.system.compact('db.mordel', 1000000, 'id')")
    val compacted = t.snapshot(t.latestVersion())
    assert(compacted.deletes.isEmpty)
    assert(spark.table(s"$cat.db.mordel").count() == 980L)
  }

  test("write.update.mode/write.merge.mode='merge-on-read' route UPDATE/MERGE to deltas") {
    spark.sql(s"CREATE TABLE $cat.db.morupd (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id', " +
      "'write.update.mode'='merge-on-read', 'write.merge.mode'='merge-on-read', " +
      "'write.delete.key'='id')")
    spark.sql(s"INSERT INTO $cat.db.morupd SELECT id, id * 10 AS v FROM range(0, 1000)")
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/morupd", Seq("id"))
    val dataFilesBefore = t.snapshot(t.latestVersion()).files

    spark.sql(s"UPDATE $cat.db.morupd SET v = v + 1 WHERE id >= 100 AND id < 120")
    val after = t.snapshot(t.latestVersion())
    // one update_mor version: every pre-update data file still listed
    // (no rewrite), plus equality-delete keys and fresh delta files
    assert(after.action == "update_mor")
    assert(dataFilesBefore.forall(after.files.contains),
      "MOR update must not rewrite existing data files")
    assert(after.files.size > dataFilesBefore.size, "updated rows append as new files")
    assert(after.deletes.nonEmpty && after.deleteKey == Seq("id"))
    assert(after.rows == 1000L)
    assert(spark.sql(s"SELECT v FROM $cat.db.morupd WHERE id = 105").head.getLong(0) == 1051L)

    // touching the SAME keys again: the second statement's delete (newer
    // sequence) removes the first statement's replacement rows — no
    // resurrection between compactions
    spark.sql(s"UPDATE $cat.db.morupd SET v = v + 1 WHERE id >= 100 AND id < 120")
    assert(spark.sql(s"SELECT v FROM $cat.db.morupd WHERE id = 105").head.getLong(0) == 1052L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.morupd WHERE id = 105")
      .head.getLong(0) == 1L)
    assert(spark.table(s"$cat.db.morupd").count() == 1000L)

    // a key-CHANGING update deletes the OLD key (original-row-id rule)
    spark.sql(s"UPDATE $cat.db.morupd SET id = 5000 WHERE id = 42")
    assert(!ids(s"SELECT id FROM $cat.db.morupd").contains(42L))
    assert(ids(s"SELECT id FROM $cat.db.morupd").contains(5000L))
    assert(spark.table(s"$cat.db.morupd").count() == 1000L)

    // MERGE: matched update + unmatched insert in ONE merge_mor version
    import spark.implicits._
    Seq((0L, -1L), (1L, -2L), (9999L, -3L)).toDF("id", "v")
      .createOrReplaceTempView("morupd_src")
    spark.sql(
      s"""MERGE INTO $cat.db.morupd t USING morupd_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val merged = t.snapshot(t.latestVersion())
    assert(merged.action == "merge_mor")
    assert(dataFilesBefore.forall(merged.files.contains))
    assert(merged.rows == 1001L)
    assert(spark.sql(s"SELECT v FROM $cat.db.morupd WHERE id = 9999").head.getLong(0) == -3L)
    assert(spark.sql(s"SELECT v FROM $cat.db.morupd WHERE id = 0").head.getLong(0) == -1L)

    // MERGE matched DELETE rides the same delta path
    Seq(9999L).toDF("id").createOrReplaceTempView("morupd_del")
    spark.sql(
      s"""MERGE INTO $cat.db.morupd t USING morupd_del s ON t.id = s.id
         |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(!ids(s"SELECT id FROM $cat.db.morupd").contains(9999L))
    assert(spark.table(s"$cat.db.morupd").count() == 1000L)

    // change feed: an update replays as delete(pre-image) + insert
    val cdf = t.readChangeFeed(2, 3)
    assert(cdf.filter(col("_change_type") === "delete").count() == 20L)
    assert(cdf.filter(col("_change_type") === "insert").count() == 20L)
    assert(cdf.filter(col("_change_type") === "insert")
      .filter(col("id") === 105L).head.getLong(1) == 1051L)

    // a no-match UPDATE publishes no version
    val tip = t.latestVersion()
    spark.sql(s"UPDATE $cat.db.morupd SET v = 0 WHERE id = -7")
    assert(t.latestVersion() == tip)

    // compaction materializes everything; contents stable
    val sumBefore = spark.sql(s"SELECT sum(v) FROM $cat.db.morupd").head.getLong(0)
    spark.sql(s"CALL $cat.system.compact('db.morupd', 1000000, 'id')")
    assert(t.snapshot(t.latestVersion()).deletes.isEmpty)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.morupd").head.getLong(0) == sumBefore)
    assert(spark.table(s"$cat.db.morupd").count() == 1000L)
  }

  test("merge-on-read delete guards: missing key is DDL-loud, non-unique key refuses") {
    // missing write.delete.key fails at CREATE — the cross-property DDL
    // check (a mode without its key used to surface only at the first
    // DELETE statement)
    val e1 = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.db.morbad (id BIGINT, v BIGINT) " +
        "USING `graft-snapshot` TBLPROPERTIES('write.delete.mode'='merge-on-read')"))
    assert(e1.getMessage.contains("write.delete.key"))
    // a typo'd mode fails at DDL time
    val e2 = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.db.morbad2 (id BIGINT) USING `graft-snapshot` " +
        "TBLPROPERTIES('write.delete.mode'='merge-on-red')"))
    assert(e2.getMessage.contains("write.delete.mode"))
    // a delete key that is NOT row-unique for the matched rows refuses
    // rather than deleting rows the predicate never named
    spark.sql(s"CREATE TABLE $cat.db.mordup (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES(" +
      "'write.delete.mode'='merge-on-read', 'write.delete.key'='id')")
    spark.sql(s"INSERT INTO $cat.db.mordup VALUES (1, 10), (1, 20), (2, 30)")
    val e3 = intercept[Exception](
      spark.sql(s"DELETE FROM $cat.db.mordup WHERE v = 10"))
    assert(e3.getMessage.contains("row-unique"))
    // ALTER can switch the mode off; the same DELETE then runs CoW
    spark.sql(s"ALTER TABLE $cat.db.mordup SET TBLPROPERTIES(" +
      "'write.delete.mode'='copy-on-write')")
    spark.sql(s"DELETE FROM $cat.db.mordup WHERE v = 10")
    assert(spark.table(s"$cat.db.mordup").count() == 2L)
  }

  test("TRUNCATE TABLE commits an empty version; history stays readable") {
    spark.sql(s"CREATE TABLE $cat.db.trunc (id BIGINT) USING `graft-snapshot`")
    spark.sql(s"INSERT INTO $cat.db.trunc VALUES (1), (2)")
    spark.sql(s"TRUNCATE TABLE $cat.db.trunc")
    assert(spark.table(s"$cat.db.trunc").count() == 0L)
    assert(ids(s"SELECT id FROM $cat.db.trunc VERSION AS OF 2") == Set(1L, 2L))
  }

  test("INSERT OVERWRITE replaces contents as one version") {
    spark.sql(s"CREATE TABLE $cat.db.ow (id BIGINT) USING `graft-snapshot`")
    spark.sql(s"INSERT INTO $cat.db.ow VALUES (1), (2)")
    spark.sql(s"INSERT OVERWRITE $cat.db.ow VALUES (7)")
    assert(ids(s"SELECT id FROM $cat.db.ow") == Set(7L))
    assert(ids(s"SELECT id FROM $cat.db.ow VERSION AS OF 2") == Set(1L, 2L))
  }

  test("ALTER TABLE ADD COLUMN: schema-only version, old rows null-fill") {
    spark.sql(s"CREATE TABLE $cat.db.alt (id BIGINT) USING `graft-snapshot`")
    spark.sql(s"INSERT INTO $cat.db.alt VALUES (1)")
    spark.sql(s"ALTER TABLE $cat.db.alt ADD COLUMN note STRING")
    spark.sql(s"INSERT INTO $cat.db.alt VALUES (2, 'hello')")
    assert(spark.table(s"$cat.db.alt").as[(Long, Option[String])].collect().toSet ==
      Set((1L, None), (2L, Some("hello"))))
    // the create bootstrap and the alter were dataChange=false: a feed
    // consumer skips both
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/alt")
    assert(t.history().filter(!_.dataChange).map(_.action) ==
      Seq("overwrite", "alter"))
    // non-additive alters stay loud (RENAME/DROP ride the column
    // mapping — ColumnMappingSpec — but TYPE CHANGES are a rewrite)
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.alt ALTER COLUMN note TYPE BIGINT"))
  }

  test("a concurrent commit mid-DML surfaces as a conflict, not silent loss") {
    spark.sql(s"CREATE TABLE $cat.db.conflict (id BIGINT) USING `graft-snapshot`")
    spark.sql(s"INSERT INTO $cat.db.conflict VALUES (1), (2)")
    // a DELETE whose scan parks on a latch: the statement pins its base
    // version, then a rival INSERT moves the tip underneath it
    GraftCatalogSpec.entered = new CountDownLatch(1)
    GraftCatalogSpec.proceed = new CountDownLatch(1)
    spark.udf.register("gate_id", (id: Long) => {
      GraftCatalogSpec.entered.countDown()
      GraftCatalogSpec.proceed.await(60, TimeUnit.SECONDS)
      id
    })
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dml = Future(spark.sql(s"DELETE FROM $cat.db.conflict WHERE gate_id(id) = 1"))
    assert(GraftCatalogSpec.entered.await(60, TimeUnit.SECONDS), "DML scan never started")
    spark.sql(s"INSERT INTO $cat.db.conflict VALUES (99)") // rival commit
    GraftCatalogSpec.proceed.countDown()
    val e = intercept[Exception](Await.result(dml, 120.seconds))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected a snapshot-isolation conflict, got: $e")
    // nothing was lost: the rival's row is present, the DELETE did not apply
    assert(ids(s"SELECT id FROM $cat.db.conflict") == Set(1L, 2L, 99L))
    // and a clean re-run of the statement succeeds against the new tip
    spark.sql(s"DELETE FROM $cat.db.conflict WHERE id = 1")
    assert(ids(s"SELECT id FROM $cat.db.conflict") == Set(2L, 99L))
  }

  test("overwrite-by-filter maps to file-surgical replaceWhere; bad shapes stay loud") {
    import org.apache.spark.sql.functions.col
    spark.sql(s"CREATE TABLE $cat.db.rw (id BIGINT, v BIGINT) USING `graft-snapshot` " +
      "TBLPROPERTIES('stats_cols'='id')")
    // three disjoint clustered thirds, one INSERT each
    Seq(0L, 10L, 20L).foreach { base =>
      spark.sql(s"INSERT INTO $cat.db.rw SELECT id, id * 10 AS v " +
        s"FROM range(${base}, ${base + 10})")
    }
    val t = new SnapshotTable(spark,
      s"${spark.conf.get(s"spark.sql.catalog.$cat.warehouse")}/db/rw")
    val beforeFiles = t.snapshot(t.latestVersion()).files.toSet
    // reload the middle third with 4 replacement rows
    spark.range(10, 14).toDF("id").withColumn("v", col("id") * 1000L)
      .writeTo(s"$cat.db.rw").overwrite(col("id") >= 10L && col("id") <= 19L)
    val snap = t.snapshot(t.latestVersion())
    assert(snap.action == "replace_where")
    assert(spark.table(s"$cat.db.rw").as[(Long, Long)].collect().toSet ==
      ((0L until 10L) ++ (20L until 30L)).map(i => (i, i * 10)).toSet ++
        (10L until 14L).map(i => (i, i * 1000)).toSet)
    // the outside thirds were untouched: their FILES survive by identity
    val outsideBefore = beforeFiles.filter(f => snap.files.contains(f))
    assert(outsideBefore.size >= 2,
      s"files outside the band must be re-listed, not rewritten: $beforeFiles vs ${snap.files}")
    // a batch outside the declared band is rejected, nothing published
    val tipBefore = t.latestVersion()
    intercept[Exception] {
      spark.range(0, 5).toDF("id").withColumn("v", lit(1L))
        .writeTo(s"$cat.db.rw").overwrite(col("id") >= 10L && col("id") <= 19L)
    }
    assert(t.latestVersion() == tipBefore)
    // predicates that don't band onto one stats column stay loud
    intercept[Exception] {
      spark.range(0, 1).toDF("id").withColumn("v", lit(1L))
        .writeTo(s"$cat.db.rw").overwrite(col("v") === 1L)
    }
    assert(t.latestVersion() == tipBefore)
  }

  test("CALL system procedures: clustered compact, rollback, vacuum") {
    spark.sql(s"CREATE TABLE $cat.db.mt (id BIGINT) USING `graft-snapshot` " +
      "TBLPROPERTIES('stats_cols'='id')")
    (0 to 2).foreach(i => spark.sql(
      s"INSERT INTO $cat.db.mt SELECT id FROM range(${i * 100}, ${i * 100 + 100})"))
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/mt")
    assert(t.latestVersion() == 4L)
    // compact, range-clustered on id — a dataChange=false version
    val v5 = spark.sql(s"CALL $cat.system.compact('db.mt', 1000000, 'id')")
      .collect().head.getLong(0)
    assert(v5 == 5L)
    val s5 = t.snapshot(5L)
    assert(!s5.dataChange && s5.statsCols == Seq("id"),
      "compaction must keep the skipping index and stay feed-invisible")
    assert(spark.table(s"$cat.db.mt").count() == 300L)
    // roll-forward rollback to the first insert's contents
    val v6 = spark.sql(s"CALL $cat.system.rollback('db.mt', 2)")
      .collect().head.getLong(0)
    assert(v6 == 6L)
    assert(spark.table(s"$cat.db.mt").count() == 100L)
    assert(ids(s"SELECT id FROM $cat.db.mt VERSION AS OF 5").size == 300,
      "rollback must not rewrite history")
    // vacuum retention: keep the last 2 versions
    val vac = spark.sql(s"CALL $cat.system.vacuum('db.mt', 2)").collect().head
    assert(vac.getLong(0) == 6L && vac.getLong(1) == 2L)
    assert(spark.table(s"$cat.db.mt").count() == 100L)
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.db.mt VERSION AS OF 2").collect())
    // unknown procedure stays loud
    intercept[Exception](spark.sql(s"CALL $cat.system.doesnotexist('x')"))
  }

  test("namespace listing, rename, and drop guard-rails") {
    spark.sql(s"CREATE NAMESPACE $cat.ns2")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).toSet.intersect(Set("db", "ns2")) == Set("db", "ns2"))
    spark.sql(s"CREATE TABLE $cat.ns2.a (id BIGINT) USING `graft-snapshot`")
    spark.sql(s"INSERT INTO $cat.ns2.a VALUES (5)")
    // the rename target resolves within the same catalog (no catalog prefix)
    spark.sql(s"ALTER TABLE $cat.ns2.a RENAME TO ns2.b")
    assert(ids(s"SELECT id FROM $cat.ns2.b") == Set(5L))
    intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.ns2")) // non-empty
    spark.sql(s"DROP NAMESPACE $cat.ns2 CASCADE")
    assert(!spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("ns2"))
  }

  test("_file and _version metadata columns give row provenance") {
    spark.sql(s"CREATE TABLE $cat.db.prov (id BIGINT) USING `graft-snapshot`")
    spark.sql(s"INSERT INTO $cat.db.prov VALUES (1)")
    spark.sql(s"INSERT INTO $cat.db.prov VALUES (2)")
    val rows = spark.sql(s"SELECT id, _file, _version FROM $cat.db.prov")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows.map(_._1).toSet == Set(1L, 2L))
    assert(rows.forall(_._3 == 3L), s"_version should be the pinned tip: $rows")
    assert(rows.map(_._2).distinct.length == 2,
      s"the two inserts' rows must cite two distinct files: $rows")
    assert(rows.forall(_._2.contains("/data/")), "provenance should be the physical file")
    // metadata columns are invisible unless asked for
    assert(spark.table(s"$cat.db.prov").columns.toSeq == Seq("id"))
  }

  test("merge-on-read modes without a delete key fail at DDL time, not at the first DML") {
    // CREATE: mode set, key absent — the validator's fail-at-DDL
    // contract, and the rejected CREATE must leave NO table behind
    val e1 = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.db.morbad3 (k BIGINT, v BIGINT) USING `graft-snapshot` " +
        "TBLPROPERTIES('write.update.mode'='merge-on-read')"))
    assert(e1.getMessage.contains("write.delete.key"), e1.getMessage)
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .forall(_.getString(1) != "morbad3"), "a rejected CREATE must not leave debris")
    // SET TBLPROPERTIES: same combination rejected on the merged map
    spark.sql(s"CREATE TABLE $cat.db.morset (k BIGINT, v BIGINT) USING `graft-snapshot`")
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.morset SET TBLPROPERTIES('write.merge.mode'='merge-on-read')"))
    assert(e2.getMessage.contains("write.delete.key"), e2.getMessage)
    // setting mode + key together in one DDL is the supported shape…
    spark.sql(s"ALTER TABLE $cat.db.morset SET TBLPROPERTIES(" +
      "'write.merge.mode'='merge-on-read', 'write.delete.key'='k')")
    // …and UNSETting the key from under the mode is rejected too
    val e3 = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.db.morset UNSET TBLPROPERTIES('write.delete.key')"))
    assert(e3.getMessage.contains("write.delete.key"), e3.getMessage)
  }

  test("write.cluster.by routes catalog INSERTs through a range distribution") {
    // validation: the column must exist
    val bad = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.db.clbad (k BIGINT) USING `graft-snapshot` " +
        "TBLPROPERTIES('write.cluster.by'='nope')"))
    assert(bad.getMessage.contains("nope"), bad.getMessage)
    // a table indexed on (k, day) but clustered on day: each UNSORTED
    // append lands day-disjoint, so a day-range read prunes with no
    // compact in between
    spark.sql(s"CREATE TABLE $cat.db.clustered (k BIGINT, day DATE, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k,day', " +
      "'write.cluster.by'='day')")
    // three appends, each spanning the FULL date range, deliberately
    // shuffled so only the write-time clustering can order them
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO $cat.db.clustered " +
        s"SELECT id, date_add(DATE'2026-01-01', CAST(id % 90 AS INT)), id * 7 + $i " +
        "FROM range(1, 2000) DISTRIBUTE BY hash(id)")
    }
    val whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val t = new SnapshotTable(spark, s"$whRoot/db/clustered", Seq("k", "day"))
    val lo = java.sql.Date.valueOf("2026-01-10").toLocalDate.toEpochDay
    val hi = java.sql.Date.valueOf("2026-01-19").toLocalDate.toEpochDay
    val (pruned, planned) = t.readPruned(
      graft.sources.Pruning(bands = Map("day" -> ((lo, hi)))), t.latestVersion())
    val total = t.snapshot(t.latestVersion()).files.length
    assert(total >= 3, s"three inserts must leave >= 3 files, got $total")
    assert(planned.length < total,
      s"a 10-of-90-day band must prune clustered appends: $planned of $total")
    // values stay exact (pruning is planning-only; the filter re-applies)
    val expect = (1L until 2000L).filter(id => id % 90 >= 9 && id % 90 <= 18)
      .map(_ * 3).sum // k summed across the three appends
    assert(pruned.filter(col("day") >= lit(java.sql.Date.valueOf("2026-01-10")) &&
        col("day") <= lit(java.sql.Date.valueOf("2026-01-19")))
      .agg(sum(col("k"))).as[Long].collect().head == expect)
  }
}

object GraftCatalogSpec {
  @volatile var entered: CountDownLatch = _
  @volatile var proceed: CountDownLatch = _
}