package graft

import org.apache.spark.sql.functions._
import graft.sources.{ColumnMapping, SnapshotTable}

/** ALTER TABLE RENAME/DROP COLUMN as pure schema commits over the
  * column mapping: physical file names never change, zero data files
  * are rewritten, time travel reads each version's own names, and
  * retired names can never resurrect old bytes. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private val cat = "gmap"
  private def wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")

  override def beforeAll(): Unit = {
    super.beforeAll()
    val dir = java.nio.file.Files.createTempDirectory("graft_colmap")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", dir.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
  }

  test("RENAME COLUMN is a zero-rewrite schema commit; reads span the rename; time travel keeps old names") {
    spark.sql(s"CREATE TABLE $cat.db.ren (id BIGINT, amount BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"INSERT INTO $cat.db.ren VALUES (1, 10), (2, 20)")
    val t = new SnapshotTable(spark, s"$wh/db/ren")
    val before = t.snapshot(t.latestVersion())
    spark.sql(s"ALTER TABLE $cat.db.ren RENAME COLUMN amount TO cents")
    val alter = t.snapshot(t.latestVersion())
    // zero rewrite: the alter version lists the SAME files by identity
    assert(alter.files == before.files, "RENAME must not touch data files")
    assert(!alter.dataChange, "schema-only commit must be dataChange=false")
    // a post-rename insert writes PHYSICAL names — old and new files
    // read as one logical column
    spark.sql(s"INSERT INTO $cat.db.ren VALUES (3, 30)")
    assert(spark.sql(s"SELECT id, cents FROM $cat.db.ren")
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // the new file physically stores the ORIGINAL name (mapping is
    // immutable), pinned by reading the raw file
    val newest = t.snapshot(t.latestVersion())
    val freshFile = newest.files.filterNot(before.files.contains).head
    val raw = spark.read.parquet(s"$wh/db/ren/data/$freshFile")
    assert(raw.columns.contains("amount") && !raw.columns.contains("cents"),
      s"physical name must stay 'amount'; file has ${raw.columns.mkString(",")}")
    // time travel below the rename reads the old logical name
    val v2 = spark.sql(s"SELECT * FROM $cat.db.ren VERSION AS OF 2")
    assert(v2.columns.toSeq == Seq("id", "amount"))
    assert(v2.as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
    // old SQL name is gone at the tip
    val err = intercept[Exception](spark.sql(s"SELECT amount FROM $cat.db.ren").collect())
    assert(err.getMessage.contains("amount"))
  }

  test("renaming a STATS column keeps the skipping index (bands bridge the rename)") {
    spark.sql(s"CREATE TABLE $cat.db.renstats (k BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k')")
    spark.sql(s"INSERT INTO $cat.db.renstats SELECT id, id FROM range(0, 100)")
    spark.sql(s"INSERT INTO $cat.db.renstats SELECT id, id FROM range(100, 200)")
    spark.sql(s"ALTER TABLE $cat.db.renstats RENAME COLUMN k TO key_id")
    val t = new SnapshotTable(spark, s"$wh/db/renstats")
    val tip = t.snapshot(t.latestVersion())
    assert(tip.statsCols == Seq("key_id"),
      s"stats columns must follow the rename, got ${tip.statsCols}")
    val ci = tip.statsCols.indexOf("key_id")
    assert(!tip.stats(ci).mins.contains(Long.MinValue),
      "the alter commit must carry the bands forward, not erase them")
    // band pruning works under the new name (one of two files planned)
    val handle = new SnapshotTable(spark, s"$wh/db/renstats", tip.statsCols)
    assert(handle.readPruned(
      graft.sources.Pruning(bands = Map("key_id" -> ((120L, 130L)))), t.latestVersion())
      ._2.length == 1)
    // and values through SQL on the new name
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.renstats WHERE key_id BETWEEN 120 AND 130")
      .head.getLong(0) == 11L)
  }

  test("DROP COLUMN hides the data at the tip; time travel still reads it; re-ADD never resurrects") {
    spark.sql(s"CREATE TABLE $cat.db.drp (id BIGINT, secret STRING, v BIGINT) " +
      "USING `graft-snapshot`")
    spark.sql(s"INSERT INTO $cat.db.drp VALUES (1, 'a', 10), (2, 'b', 20)")
    val t = new SnapshotTable(spark, s"$wh/db/drp")
    val before = t.snapshot(t.latestVersion())
    spark.sql(s"ALTER TABLE $cat.db.drp DROP COLUMN secret")
    val alter = t.snapshot(t.latestVersion())
    assert(alter.files == before.files, "DROP must not touch data files")
    assert(spark.table(s"$cat.db.drp").columns.toSeq == Seq("id", "v"))
    // time travel below the drop still reads the column
    assert(spark.sql(s"SELECT secret FROM $cat.db.drp VERSION AS OF 2")
      .as[String].collect().toSet == Set("a", "b"))
    // re-adding the SAME name maps to a FRESH physical name: the old
    // files' bytes must read as NULL, not resurrect
    spark.sql(s"ALTER TABLE $cat.db.drp ADD COLUMN secret STRING")
    val rows = spark.sql(s"SELECT id, secret FROM $cat.db.drp")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(rows.toSet == Set((1L, null), (2L, null)),
      s"dropped bytes resurrected: ${rows.mkString(",")}")
    // and an insert into the NEW column round-trips (re-added columns
    // append at the END of the schema: id, v, secret)
    spark.sql(s"INSERT INTO $cat.db.drp VALUES (3, 30, 'fresh')")
    assert(spark.sql(s"SELECT secret FROM $cat.db.drp WHERE id = 3")
      .head.getString(0) == "fresh")
  }

  test("SQL DML (CoW UPDATE/DELETE and MOR UPDATE) stays correct on a renamed table") {
    spark.sql(s"CREATE TABLE $cat.db.dmlmap (id BIGINT, amount BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"INSERT INTO $cat.db.dmlmap SELECT id, id * 10 FROM range(0, 100)")
    spark.sql(s"ALTER TABLE $cat.db.dmlmap RENAME COLUMN amount TO cents")
    // copy-on-write UPDATE reads physical files and rewrites them mapped
    spark.sql(s"UPDATE $cat.db.dmlmap SET cents = -1 WHERE id BETWEEN 10 AND 19")
    assert(spark.sql(s"SELECT sum(cents) FROM $cat.db.dmlmap WHERE id BETWEEN 10 AND 19")
      .head.getLong(0) == -10L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dmlmap").head.getLong(0) == 100L)
    // non-matched rows survived with their values intact (no null-fill bug)
    assert(spark.sql(s"SELECT sum(cents) FROM $cat.db.dmlmap WHERE id >= 90")
      .head.getLong(0) == (90L until 100L).map(_ * 10).sum)
    spark.sql(s"DELETE FROM $cat.db.dmlmap WHERE id = 50")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dmlmap").head.getLong(0) == 99L)
    // merge-on-read UPDATE writes mapped delta data files
    spark.sql(s"ALTER TABLE $cat.db.dmlmap SET TBLPROPERTIES(" +
      "'write.update.mode'='merge-on-read', 'write.delete.key'='id')")
    spark.sql(s"UPDATE $cat.db.dmlmap SET cents = 777 WHERE id = 60")
    val t = new SnapshotTable(spark, s"$wh/db/dmlmap")
    assert(t.snapshot(t.latestVersion()).action == "update_mor")
    assert(spark.sql(s"SELECT cents FROM $cat.db.dmlmap WHERE id = 60")
      .head.getLong(0) == 777L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dmlmap").head.getLong(0) == 99L)
  }

  test("renaming a MOR delete-key column refuses; implicit re-add of a retired name refuses") {
    spark.sql(s"CREATE TABLE $cat.db.guard (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES(" +
      "'write.delete.mode'='merge-on-read', 'write.delete.key'='id')")
    spark.sql(s"INSERT INTO $cat.db.guard VALUES (1, 10), (2, 20)")
    spark.sql(s"DELETE FROM $cat.db.guard WHERE id = 2") // registers MOR delete on id
    val e1 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.guard RENAME COLUMN id TO ident"))
    assert(e1.getMessage.contains("delete key"))
    // drop v, then an IMPLICIT append carrying a column named v must refuse
    spark.sql(s"ALTER TABLE $cat.db.guard DROP COLUMN v")
    val t = new SnapshotTable(spark, s"$wh/db/guard")
    val e2 = intercept[Exception](
      t.commitAppend(Seq((5L, 55L)).toDF("id", "v")))
    assert(e2.getMessage.contains("retired"),
      s"implicit resurrection must refuse, got: ${e2.getMessage}")
    // the EXPLICIT path works and gets a fresh physical name
    spark.sql(s"ALTER TABLE $cat.db.guard ADD COLUMN v BIGINT")
    val tip = t.snapshot(t.latestVersion())
    val f = graft.sources.SnapshotBatch.resolve(spark,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", s"$wh/db/guard")))._1
    val schema = f.schemaOf(tip.version)
    val vField = schema.fields.find(_.name == "v").get
    assert(ColumnMapping.physicalName(vField) != "v",
      "re-added column must carry a fresh physical name")
    assert(spark.sql(s"SELECT v FROM $cat.db.guard WHERE id = 1").head.isNullAt(0),
      "old v bytes must not resurrect")
  }

  test("Scala path: overwrite keeps the mapping; streaming epoch appends write physical names") {
    val root = java.nio.file.Files.createTempDirectory("graft_colmap_scala").toString
    val t = new SnapshotTable(spark, root, statsCols = Seq("k"))
    t.commitAppend(Seq((1L, "x"), (2L, "y")).toDF("k", "name"))
    t.commitRenameColumn("name", "label")
    // full reload through the Scala API: same-named columns keep their
    // physical identity, so the rename survives the overwrite
    t.commitOverwrite(Seq((3L, "z")).toDF("k", "label"))
    assert(t.read().as[(Long, String)].collect().toSet == Set((3L, "z")))
    val tipSchema = t.read().schema
    assert(ColumnMapping.physicalName(
      tipSchema.fields.find(_.name == "label").get) == "name")
    // epoch append (the streaming sink path funnels here) writes physical
    t.commitAppendOnce("q1", 0L, Seq((4L, "w")).toDF("k", "label"))
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((3L, "z"), (4L, "w")))
    val tip = t.snapshot(t.latestVersion())
    val newest = tip.files.filter(f => tip.seqs(tip.files.indexOf(f)) == tip.version)
    val raw = spark.read.parquet(s"$root/data/${newest.head}")
    assert(raw.columns.contains("name") && !raw.columns.contains("label"))
  }
}
