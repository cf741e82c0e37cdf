package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Per-file point-lookup bloom filters (`write.bloom.cols`): equality
  * reads prune files whose [min,max] band covers the key but whose
  * filter proves absence — the pruning bands cannot give on unclustered
  * data. Soundness: every written key is in its file's filter, so
  * "absent" never drops a matching row; false positives only cost a
  * read. */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_bloom_$tag")
    f.toFile.delete()
    f.toString
  }

  /** Three commits with INTERLEAVED ids: every file's band is ~the whole
    * id range, so band pruning keeps all files and only the bloom can
    * tell them apart. */
  private def interleaved(t: SnapshotTable): Unit =
    (0 until 3).foreach(k =>
      t.commitAppend(spark.range(300).select((col("id") * 3 + k).as("id"),
        (col("id") * 7).as("v")).repartition(1)))

  test("driver commits fold blooms: a point lookup plans ONE file of three") {
    val t = new SnapshotTable(spark, freshRoot("driver"), statsCols = Seq("id"))
    t.setTableProperties(Map("write.bloom.cols" -> "id"))
    interleaved(t)
    assert(t.read().inputFiles.length == 3)
    // bands are useless here (all files span ~[0, 900]) — prove it, then
    // prove the bloom does the work
    assert(t.readRange("id", 0L, 900L, -1L).inputFiles.length == 3)
    val hit = t.readRange("id", 301L, 301L, -1L) // 301 = 3*100+1: commit k=1 only
    assert(hit.inputFiles.length == 1,
      s"bloom must prune the 2 non-matching files, planned ${hit.inputFiles.length}")
    assert(hit.select("v").as[Long].collect().toSeq == Seq(700L))
    // a key no commit wrote: all files prune, zero rows
    val miss = t.readRange("id", 899L, 899L, -1L) // 899 % 3 == 2? 899=3*299+2 → k=2 wrote 899
    assert(miss.count() == (if (899 % 3 == 2) 1L else 0L))
    val trueMiss = t.readRange("id", 901L, 901L, -1L)
    assert(trueMiss.count() == 0L)
    // range reads (lo != hi) never consult blooms — unchanged behavior
    assert(t.readRange("id", 0L, 10L, -1L).count() == 11L) // 0,3,6,9 + 1,4,7,10 + 2,5,8
  }

  test("a bloom-less table and pre-bloom files are never pruned by the index") {
    val root = freshRoot("compat")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"))
    interleaved(t) // NO bloom property: no filters recorded
    assert(t.readRange("id", 301L, 301L, -1L).inputFiles.length == 3,
      "without filters every band-overlapping file plans")
    // property added later: old files stay unpruned, new files carry filters
    t.setTableProperties(Map("write.bloom.cols" -> "id"))
    val t2 = new SnapshotTable(spark, root, statsCols = Seq("id"))
    t2.commitAppend(spark.range(1).select(lit(10000L).as("id"), lit(1L).as("v"))
      .repartition(1))
    val planned = t2.readRange("id", 301L, 301L, -1L).inputFiles.length
    assert(planned == 3, s"old files must still plan (no filter = no prune), " +
      s"and the new file's band [10000,10000] misses — got $planned")
  }

  test("DSv2 INSERT and the SQL read path carry blooms (executor fold)") {
    val cat = "graftbloomcat"
    val wh = java.nio.file.Files.createTempDirectory("graft_bloom_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    // bloom cols must be stats cols — cross-validated at CREATE
    intercept[Exception](spark.sql(s"CREATE TABLE $cat.db.bad (id BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id'," +
      "'write.bloom.cols'='nope')"))
    spark.sql(s"CREATE TABLE $cat.db.bt (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id'," +
      "'write.bloom.cols'='id')")
    (0 until 3).foreach(k => spark.sql(
      s"INSERT INTO $cat.db.bt SELECT /*+ COALESCE(1) */ id * 3 + $k AS id, " +
        "id * 7 AS v FROM range(0, 300)"))
    val t = new SnapshotTable(spark, s"$wh/db/bt", statsCols = Seq("id"))
    val hit = t.readRange("id", 302L, 302L, -1L)
    assert(hit.inputFiles.length < t.read().inputFiles.length,
      "executor-folded blooms must prune the point lookup")
    assert(spark.sql(s"SELECT v FROM $cat.db.bt WHERE id = 302")
      .as[Long].collect().toSeq == Seq(700L))
  }

  test("blooms survive manifest-list groups and carried-forward re-encoding") {
    val root = freshRoot("groups")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 2)
    t.setTableProperties(Map("write.bloom.cols" -> "id"))
    (0 until 8).foreach(k =>
      t.commitAppend(spark.range(100).select((col("id") * 8 + k).as("id"))
        .repartition(1)))
    // a FRESH handle resolves the tip through GROUP files — the blooms
    // must ride them (and keep pruning) exactly like the inline tail
    val fresh = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 2)
    assert(fresh.snapshot(fresh.latestVersion()).groupRefs.nonEmpty)
    val hit = fresh.readRange("id", 19L, 19L, -1L) // 19 = 8*2+3: commit 3 only
    assert(hit.inputFiles.length == 1,
      s"grouped blooms must prune, planned ${hit.inputFiles.length} of 8")
    assert(hit.count() == 1L)
  }

  test("IN-lists prune per listed key, not per hull — band + bloom together") {
    val root = freshRoot("inlist")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"))
    t.setTableProperties(Map("write.bloom.cols" -> "id"))
    interleaved(t) // 3 files, each spanning ~[0, 900]
    // both keys are commit k=1's (id % 3 == 1): the hull [304, 607] still
    // overlaps every file; only the per-key bloom test isolates the one
    val scan = new graft.sources.GraftSnapshotScan(spark, t,
      t.latestVersion(), t.read().schema,
      graft.sources.Pruning(bands = Map("id" -> ((304L, 607L))),
        points = Map("id" -> Seq(304L, 607L))))
    assert(scan.plannedFiles.length == 1,
      s"IN (304, 607) must plan one file, got ${scan.plannedFiles.length}")
    // end-to-end through SQL: exact rows plus the points in the plan text
    val df = spark.read.format("graft-snapshot").load(root)
      .filter(col("id").isin(304L, 607L, 10001L))
    assert(df.select(sum(col("v"))).head.getLong(0) ==
      (304L / 3) * 7 + (607L / 3) * 7)
    assert(scan.description().contains("points=id:2"),
      s"the scan must advertise its point set: ${scan.description()}")
    // a list of only-absent keys plans nothing and returns nothing
    val none = new graft.sources.GraftSnapshotScan(spark, t,
      t.latestVersion(), t.read().schema,
      graft.sources.Pruning(bands = Map("id" -> ((10001L, 10007L))),
        points = Map("id" -> Seq(10001L, 10007L))))
    assert(none.plannedFiles.isEmpty)
  }

  test("point reads through MOR deletes stay exact; full compact refreshes blooms") {
    val t = new SnapshotTable(spark, freshRoot("mor"), statsCols = Seq("id"))
    t.setTableProperties(Map("write.bloom.cols" -> "id"))
    interleaved(t)
    t.commitDeleteByKey(Seq(301L).toDF("id"), Seq("id"))
    assert(t.readRange("id", 301L, 301L, -1L).count() == 0L,
      "the bloom may plan the file; the MOR anti-join removes the row")
    assert(t.readRange("id", 304L, 304L, -1L).count() == 1L)
    // a full compact (one output file here) re-folds fresh blooms
    t.compact(targetRowsPerFile = 2L * 1000L * 1000L)
    val one = t.readRange("id", 304L, 304L, -1L)
    assert(one.count() == 1L)
    assert(t.readRange("id", 10000L, 10000L, -1L).inputFiles.isEmpty ||
      t.readRange("id", 10000L, 10000L, -1L).count() == 0L)
  }
}
