package graft

import org.apache.spark.sql.functions._
import graft.sources.{GraftSnapshotScan, Pruning, SnapshotTable}

/** Per-file ROW COUNTS in the manifest (the public formats'
  * record_count vector): recorded by every write path, carried through
  * group folds and maintenance, and consumed by (a) countRange — the
  * filtered count that scans ONLY straddling files, (b) the metadata
  * DELETE's exact row accounting without its former scan, (c) the
  * files metadata table, and (d) PRUNED connector statistics so the
  * planner's broadcast decision sees post-pruning size. */
class FileRowCountsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_frows_$tag")
    f.toFile.delete()
    f.toString
  }

  private def threeBands(root: String): SnapshotTable = {
    val t = new SnapshotTable(spark, root, statsCols = Seq("k"))
    Seq(0L, 100L, 200L).foreach(b => t.commitAppend(
      (b until b + 100L).map(k => (k, k * 2)).toDF("k", "v").repartition(1)))
    t
  }

  test("every commit path records per-file row counts; metadata tables expose them") {
    val root = freshRoot("record")
    val t = threeBands(root)
    val metas = t.filesMetadata().filter(_.content == "data")
    assert(metas.map(_.rows).sorted == Seq(100L, 100L, 100L),
      s"three 100-row files must record their counts, got ${metas.map(_.rows)}")
    // the snapshot_files TVF serves the same vector through SQL
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    assert(spark.sql(s"SELECT sum(rows) FROM snapshot_files('$root') " +
      "WHERE content = 'data'").as[Long].head() == 300L)
  }

  test("countRange scans only straddlers; equals the full filter exactly") {
    val t = threeBands(freshRoot("count"))
    // [50, 249] fully covers the middle file, straddles both edges
    val (n, scanned) = t.countRangeDetailed("k", 50L, 249L, -1L)
    assert(n == 200L)
    assert(scanned.length == 2,
      s"only the two straddling edge files may be scanned, got $scanned")
    // a range aligned to whole files scans NOTHING
    val (n2, scanned2) = t.countRangeDetailed("k", 100L, 199L, -1L)
    assert(n2 == 100L && scanned2.isEmpty,
      "a file-aligned range must answer from the manifest alone")
    // full-range: zero scans, equals the table's row count
    val (n3, scanned3) = t.countRangeDetailed("k", Long.MinValue, Long.MaxValue, -1L)
    assert(n3 == 300L && scanned3.isEmpty)
    // always equals the real filter
    assert(t.countRange("k", 50L, 249L) ==
      t.read().filter(col("k").between(50L, 249L)).count())
  }

  test("countRange through MOR deletes: affected inside files fall back to a scan") {
    val t = threeBands(freshRoot("mor"))
    t.commitDeleteByKey(Seq(150L, 160L).toDF("k"), Seq("k"))
    val (n, scanned) = t.countRangeDetailed("k", 100L, 199L, -1L)
    assert(n == 98L, s"the two deleted rows must not count, got $n")
    assert(scanned.length == 1,
      "a delete-affected inside file cannot serve its recorded count")
    // fresh files appended AFTER the delete serve metadata again (the
    // delete does not apply to them)
    t.commitAppend((1000L until 1100L).map(k => (k, k)).toDF("k", "v").repartition(1))
    val (n2, scanned2) = t.countRangeDetailed("k", 1000L, 1099L, -1L)
    assert(n2 == 100L && scanned2.isEmpty)
  }

  test("nulls in the counted column force the straddle path, and stay exact") {
    val root = freshRoot("nulls")
    val t = new SnapshotTable(spark, root, statsCols = Seq("k"))
    t.commitAppend(Seq[(java.lang.Long, Long)]((1L, 1L), (2L, 2L), (null, 3L))
      .toDF("k", "v").repartition(1))
    // band [1,2] contains every non-null key, but the NULL row must not
    // count — the file cannot serve its record count for [1,2]
    assert(t.countRange("k", 1L, 2L) == 2L)
    assert(t.countRange("k", Long.MinValue, Long.MaxValue) == 2L,
      "NULL keys match no range, even the full one")
  }

  test("row counts survive the manifest-list group fold") {
    val root = freshRoot("groups")
    val t = new SnapshotTable(spark, root, statsCols = Seq("k"),
      groupInlineFold = 4, groupMergeAt = 3)
    (0 until 10).foreach(i => t.commitAppend(
      Seq((i.toLong, i.toLong)).toDF("k", "v").repartition(1)))
    val snap = t.snapshot(t.latestVersion())
    assert(snap.groupedCount > 0, "the fold must have engaged")
    assert(t.filesMetadata().filter(_.content == "data")
      .forall(m => m.rows == 1L || m.rows == 0L),
      "grouped-prefix files must keep their recorded row counts")
    val (n, scanned) = t.countRangeDetailed("k", 0L, 9L, -1L)
    assert(n == 10L && scanned.isEmpty,
      "file-aligned count over a grouped manifest must stay metadata-only")
  }

  test("metadata DELETE row accounting needs no scan input and stays exact") {
    val cat = "gfrows"
    val wh = freshRoot("mdel")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='k')")
    Seq(0L, 100L, 200L).foreach(b => spark.sql(
      s"INSERT INTO $cat.db.t SELECT id, id * 2 FROM range($b, ${b + 100})"))
    val t = new SnapshotTable(spark, s"$wh/db/t", Seq("k"))
    val before = t.snapshot(t.latestVersion())
    spark.sql(s"DELETE FROM $cat.db.t WHERE k < 100")
    val after = t.snapshot(t.latestVersion())
    assert(after.action == "delete" && after.files.forall(before.files.contains),
      "must be the metadata path")
    assert(after.rows == 200L && t.read().count() == 200L,
      "row accounting from the recorded per-file counts must be exact")
  }

  test("pruned connector statistics report post-pruning rows and bytes") {
    val t = threeBands(freshRoot("stats"))
    val full = new GraftSnapshotScan(spark, t, t.latestVersion(),
      t.read().schema, Pruning())
    val pruned = new GraftSnapshotScan(spark, t, t.latestVersion(),
      t.read().schema, Pruning(bands = Map("k" -> ((120L, 150L)))))
    assert(full.estimateStatistics().numRows().getAsLong == 300L)
    assert(pruned.estimateStatistics().numRows().getAsLong == 100L,
      "a band pruned to the middle file must report that file's rows")
    assert(pruned.estimateStatistics().sizeInBytes().getAsLong <
      full.estimateStatistics().sizeInBytes().getAsLong)
  }
}
