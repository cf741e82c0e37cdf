package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Write-time CHECK constraints (`constraint.<name>` table property):
  * fail-at-DDL validation, per-row enforcement on every write path
  * (driver commits, DSv2 INSERT, merge-on-read DML, streaming epochs),
  * SQL NULL-passes semantics, and schema-evolution interactions. */
class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_constr_$tag")
    f.toFile.delete()
    f.toString
  }

  test("path API: violating commits fail and publish NOTHING; NULL passes") {
    val t = new SnapshotTable(spark, freshRoot("api"))
    t.setTableProperties(Map("constraint.nonneg" -> "cents >= 0"))
    t.commitAppend(Seq((1L, 10L)).toDF("id", "cents"))
    val e = intercept[Exception](
      t.commitAppend(Seq((2L, 5L), (3L, -1L)).toDF("id", "cents")))
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t => Option(t.getMessage).toSeq ++ messages(t.getCause))
    assert(messages(e).exists(_.contains("nonneg")), s"got: ${messages(e)}")
    assert(t.latestVersion() == 1L, "a rejected batch publishes no version")
    assert(t.read().count() == 1L)
    // SQL CHECK: NULL is not a violation
    t.commitAppend(Seq((4L, Option.empty[Long])).toDF("id", "cents"))
    assert(t.read().count() == 2L)
    // overwrite and upsert ride the same guard
    intercept[Exception](t.commitOverwrite(Seq((9L, -9L)).toDF("id", "cents")))
    intercept[Exception](t.commitUpsert(
      Seq((1L, -7L)).toDF("id", "cents"), uniqueKey = Seq("id"),
      watermarkCol = "cents"))
    assert(t.read().select(sum(col("cents"))).head.getLong(0) == 10L)
  }

  test("a batch without the constraint's column skips it (null-fill passes CHECK)") {
    val t = new SnapshotTable(spark, freshRoot("narrow"))
    t.commitAppend(Seq((1L, 10L)).toDF("id", "cents"))
    t.setTableProperties(Map("constraint.nonneg" -> "cents >= 0"))
    t.commitAppend(Seq(2L).toDF("id")) // evolved-narrow batch: cents null-fills
    assert(t.read().count() == 2L)
  }

  test("SQL surface: CREATE validates, INSERT enforces, ALTER scans existing rows") {
    val cat = "graftconstrcat"
    val wh = java.nio.file.Files.createTempDirectory("graft_constr_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")

    // fail-at-DDL: unresolvable and unparseable predicates refuse CREATE
    intercept[Exception](spark.sql(s"CREATE TABLE $cat.db.bad1 (id BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('constraint.x'='nope > 0')"))
    intercept[Exception](spark.sql(s"CREATE TABLE $cat.db.bad2 (id BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('constraint.x'='id >')"))

    spark.sql(s"CREATE TABLE $cat.db.ct (id BIGINT, cents BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('constraint.nonneg'='cents >= 0')")
    spark.sql(s"INSERT INTO $cat.db.ct VALUES (1, 10), (2, 0)")
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.db.ct VALUES (3, 5), (4, -1)"))
    val t = new SnapshotTable(spark, s"$wh/db/ct")
    assert(spark.table(s"$cat.db.ct").count() == 2L,
      "the DSv2 executor write must reject the whole batch")

    // ALTER adding a constraint the existing data violates is refused
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.db.ct " +
      "SET TBLPROPERTIES('constraint.big'='cents >= 5')"))
    // …a satisfiable one lands and enforces immediately
    spark.sql(s"ALTER TABLE $cat.db.ct " +
      "SET TBLPROPERTIES('constraint.idpos'='id > 0')")
    intercept[Exception](
      spark.sql(s"INSERT INTO $cat.db.ct VALUES (0, 1)"))
    spark.sql(s"INSERT INTO $cat.db.ct VALUES (5, 1)")
    assert(spark.table(s"$cat.db.ct").count() == 3L)

    // a constrained column cannot be renamed or dropped from under it
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.ct RENAME COLUMN cents TO c2"))
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.db.ct DROP COLUMN cents"))
    // dropping the constraint first unblocks the rename, and the
    // remaining constraint still enforces through the column mapping
    spark.sql(s"ALTER TABLE $cat.db.ct UNSET TBLPROPERTIES('constraint.nonneg')")
    spark.sql(s"ALTER TABLE $cat.db.ct RENAME COLUMN cents TO c2")
    intercept[Exception](spark.sql(s"INSERT INTO $cat.db.ct VALUES (-1, 1)"))
    spark.sql(s"INSERT INTO $cat.db.ct VALUES (6, -100)") // nonneg is gone
    assert(spark.table(s"$cat.db.ct").count() == 4L)
  }

  test("merge-on-read UPDATE enforces constraints on re-inserted rows") {
    val cat = "graftconstrmor"
    val wh = java.nio.file.Files.createTempDirectory("graft_constrmor_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.mt (id BIGINT, cents BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES(" +
      "'constraint.nonneg'='cents >= 0'," +
      "'write.update.mode'='merge-on-read','write.delete.key'='id')")
    spark.sql(s"INSERT INTO $cat.db.mt VALUES (1, 10), (2, 20)")
    intercept[Exception](
      spark.sql(s"UPDATE $cat.db.mt SET cents = -1 WHERE id = 1"))
    assert(spark.table(s"$cat.db.mt")
      .select(sum(col("cents"))).head.getLong(0) == 30L,
      "a rejected UPDATE leaves the table untouched")
    spark.sql(s"UPDATE $cat.db.mt SET cents = 99 WHERE id = 1")
    assert(spark.table(s"$cat.db.mt")
      .select(sum(col("cents"))).head.getLong(0) == 119L)
  }

  test("merge-on-read DELETE on a constrained table writes delete keys only") {
    val cat = "graftconstrmordel"
    val wh = java.nio.file.Files.createTempDirectory("graft_constrmordel_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.md (id BIGINT, cents BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES(" +
      "'constraint.nonneg'='cents >= 0'," +
      "'write.delete.mode'='merge-on-read','write.delete.key'='id')")
    spark.sql(s"INSERT INTO $cat.db.md VALUES (1, 10), (2, 20), (3, 30)")
    val t = new SnapshotTable(spark, s"$wh/db/md")
    val before = t.snapshot(t.latestVersion())
    // the DELETE's row schema has no columns: no constraint to bind, and
    // the lazily-opened data writer never opens
    spark.sql(s"DELETE FROM $cat.db.md WHERE id = 2")
    val after = t.snapshot(t.latestVersion())
    assert(after.action == "delete_mor")
    assert(after.deletes.nonEmpty)
    assert(after.files == before.files, "a MOR DELETE adds no data file")
    after.deletes.map(_.split('/').head).distinct.foreach { dir =>
      val names = new java.io.File(s"$wh/db/md/data/$dir").list().toSeq
      assert(names.exists(_.startsWith("delete-")), names)
      assert(!names.exists(_.startsWith("part-")), names)
    }
    assert(spark.table(s"$cat.db.md")
      .select(sum(col("cents"))).head.getLong(0) == 40L)
  }

  test("branch writes enforce the table's constraints (props are shared)") {
    val t = new SnapshotTable(spark, freshRoot("branch"))
    t.setTableProperties(Map("constraint.nonneg" -> "cents >= 0"))
    t.commitAppend(Seq((1L, 10L)).toDF("id", "cents"))
    t.createBranch("wap")
    val b = t.branch("wap")
    intercept[Exception](b.commitAppend(Seq((2L, -1L)).toDF("id", "cents")))
    b.commitAppend(Seq((2L, 2L)).toDF("id", "cents"))
    t.fastForward("wap")
    assert(t.read().count() == 2L)
  }

  test("renaming a column out from under a column-list property is refused") {
    val cat = "graftstalecat"
    val wh = java.nio.file.Files.createTempDirectory("graft_stale_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.st (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id'," +
      "'write.bloom.cols'='id','write.cluster.by'='v')")
    // a stale name would silently stop folding blooms / clustering
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.st RENAME COLUMN id TO id2"))
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.db.st DROP COLUMN v"))
    // releasing the property first unblocks the schema change
    spark.sql(s"ALTER TABLE $cat.db.st UNSET TBLPROPERTIES('write.cluster.by')")
    spark.sql(s"ALTER TABLE $cat.db.st DROP COLUMN v")
    assert(spark.table(s"$cat.db.st").columns.toSeq == Seq("id"))
  }

  test("streaming sink: a violating epoch fails the query and commits nothing") {
    val dir = freshRoot("stream")
    val srcRoot = s"$dir/src"
    val dstRoot = s"$dir/dst"
    val src = new SnapshotTable(spark, srcRoot)
    src.commitAppend(Seq((1L, 5L), (2L, -5L)).toDF("id", "cents"))
    val dst = new SnapshotTable(spark, dstRoot)
    dst.setTableProperties(Map("constraint.nonneg" -> "cents >= 0"))
    dst.commitAppend(Seq((0L, 0L)).toDF("id", "cents"))

    val q = spark.readStream.format("graft-snapshot").load(srcRoot)
      .writeStream.format("graft-snapshot")
      .option("path", dstRoot)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    intercept[Exception](q.awaitTermination())
    assert(dst.latestVersion() == 1L, "the failed epoch published no version")
    assert(dst.read().count() == 1L)
  }
}
