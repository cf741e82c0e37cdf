package graft

import org.apache.spark.sql.functions._
import graft.sources.{Pruning, SnapshotTable}

/** Manifest-list groups: a manifest references immutable group files
  * for its stable file-list prefix and inlines only the delta, so
  * commit metadata is O(delta) amortized and total metadata over V
  * versions stops being O(V²) — while every read, time travel, band
  * prune, and MOR delete behaves exactly as with inline manifests. */
class ManifestGroupsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_groups_$tag")
    f.toFile.delete()
    f.toString
  }
  private def manifestText(root: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$root/_snapshots/v$v%020d.json")), "UTF-8")
  private def groupFiles(root: String): Seq[String] =
    new java.io.File(s"$root/_snapshots").listFiles().toSeq
      .map(_.getName).filter(n => n.startsWith("g") && n.endsWith(".json"))

  test("appends fold into groups; manifests stay O(delta); reads and time travel exact") {
    val root = freshRoot("fold")
    // fold at 4 inline files, merge at 3 group refs — every threshold
    // crossed inside a 12-commit history
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 4, groupMergeAt = 3)
    (1 to 12).foreach { k =>
      t.commitAppend(Seq((k.toLong * 2 - 1, k.toLong), (k.toLong * 2, k.toLong))
        .toDF("id", "v").repartition(1))
    }
    // every version reads its exact content (groups resolved per version)
    (1 to 12).foreach { k =>
      assert(t.read(k.toLong).count() == 2L * k, s"v$k row count")
      assert(t.read(k.toLong).agg(sum(col("id"))).head.getLong(0) ==
        (1L to 2L * k).sum, s"v$k content")
    }
    // the tip manifest does NOT re-list the early files — they live in
    // group files (the O(V^2) re-listing is gone)
    val tipTxt = manifestText(root, 12L)
    val snap = t.snapshot(12L)
    assert(snap.groupRefs.nonEmpty, "tip must reference group files")
    assert(snap.groupedCount > 0 && snap.files.length == 12) // 1 file/commit
    assert(!tipTxt.contains(snap.files.head),
      "tip manifest must not inline the oldest (grouped) file")
    assert(tipTxt.contains("\"groups\""))
    // merge threshold bounds the ref fan-out
    assert(snap.groupRefs.length <= 3,
      s"refs must merge at the threshold, got ${snap.groupRefs.length}")
    // a FRESH handle (no caches) resolves everything identically
    val fresh = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 4, groupMergeAt = 3)
    assert(fresh.read().as[(Long, Long)].collect().toSet ==
      (1 to 12).flatMap(k => Seq((k.toLong * 2 - 1, k.toLong),
        (k.toLong * 2, k.toLong))).toSet)
  }

  test("stats bands survive the group encoding: pruning plans the same files") {
    val root = freshRoot("bands")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 2, groupMergeAt = 100)
    t.commitAppend((1L to 10L).toDF("id").repartition(1))
    t.commitAppend((11L to 20L).toDF("id").repartition(1))
    t.commitAppend((21L to 30L).toDF("id").repartition(1))
    val snap = t.snapshot(t.latestVersion())
    assert(snap.groupRefs.nonEmpty)
    val ci = snap.statsCols.indexOf("id")
    assert(!snap.stats(ci).mins.contains(Long.MinValue),
      "grouped files must keep their exact bands")
    // band lookup inside the SECOND (grouped) file plans exactly one file
    val (_, planned) = t.readPruned(Pruning(bands = Map("id" -> ((12L, 15L)))), t.latestVersion())
    assert(planned.length == 1, s"expected 1 planned file, got $planned")
    assert(t.readRange(12L, 15L).count() == 4L)
  }

  test("MOR deletes, metadata deletes and compaction across grouped manifests") {
    val root = freshRoot("mor")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 2, groupMergeAt = 100)
    t.commitAppend((1L to 10L).toDF("id").repartition(1))
    t.commitAppend((11L to 20L).toDF("id").repartition(1))
    t.commitAppend((21L to 30L).toDF("id").repartition(1))
    assert(t.snapshot(t.latestVersion()).groupRefs.nonEmpty)
    // MOR delete on a grouped table: deletes stay inline, data grouped
    t.commitDeleteByKey(Seq(5L, 15L).toDF("id"), Seq("id"))
    assert(t.read().count() == 28L)
    assert(!t.read().as[Long].collect().toSet.contains(5L))
    // a band-scoped replace drops/rewrites grouped files -> prefix
    // broken, re-encode; contents stay exact
    t.commitReplaceWhere("id", Seq(25L).toDF("id"), 21L, 30L)
    assert(t.read().as[Long].collect().toSet ==
      ((1L to 20L).toSet -- Set(5L, 15L)) + 25L)
    // compaction absorbs the deletes and re-encodes cleanly
    t.compact(100L)
    assert(t.read().count() == 19L)
    assert(t.snapshot(t.latestVersion()).deletes.isEmpty)
  }

  test("vacuum keeps referenced group files and sweeps dropped-history ones") {
    val root = freshRoot("vac")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 2, groupMergeAt = 100)
    (1 to 6).foreach(k => t.commitAppend(Seq(k.toLong).toDF("id").repartition(1)))
    val refsAtTip = t.snapshot(t.latestVersion()).groupRefs.toSet
    assert(refsAtTip.nonEmpty)
    val before = groupFiles(root).toSet
    assert(refsAtTip.subsetOf(before))
    t.vacuum(keepLast = 1)
    // referenced groups survive (age gate would keep fresh orphans too,
    // so only assert the LIVE side here)
    val after = groupFiles(root).toSet
    assert(refsAtTip.subsetOf(after), "vacuum must keep referenced groups")
    assert(t.read().as[Long].collect().toSet == (1L to 6L).toSet)
  }

  test("concurrent writers race across fold and merge boundaries: versions contiguous, rows exact") {
    val root = freshRoot("race")
    // thresholds low enough that the 12 racing commits cross BOTH the
    // fold and the merge boundary while losers are retrying
    def handle() = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 3, groupMergeAt = 2)
    val t = handle()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (0 until 12).map { w =>
      scala.concurrent.Future {
        handle().commitAppend(
          Seq(w.toLong * 100L, w.toLong * 100L + 1L).toDF("id").repartition(1))
      }
    }
    val versions = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration(240, "s"))
    pool.shutdown()
    assert(versions.sorted == (1L to 12L))
    assert(t.read().count() == 24L)
    assert(t.read().as[Long].collect().toSet ==
      (0 until 12).flatMap(w => Seq(w * 100L, w * 100L + 1L)).toSet)
    // every intermediate version is consistent through the encoding
    assert(t.history().map(_.rows) == (1L to 12L).map(_ * 2))
    (1 to 12).foreach(v => assert(t.read(v.toLong).count() == 2L * v))
    // the racing commits really did produce a grouped tip
    assert(t.snapshot(12L).groupRefs.nonEmpty)
    // lost publish races clean up after themselves: every group file on
    // disk is referenced by some retained manifest — no orphans left for
    // vacuum (a contended table used to strand up to one per collision)
    val referenced = (1L to 12L).flatMap(v => t.snapshot(v).groupRefs).toSet
    val onDisk = new java.io.File(s"$root/_snapshots").listFiles()
      .map(_.getName).filter(n => n.startsWith("g") && n.endsWith(".json") &&
        !n.startsWith("h")).toSet
    assert((onDisk -- referenced).isEmpty,
      s"orphan group files after contention: ${onDisk -- referenced}")
  }

  test("streaming source and exactly-once sink work over grouped manifests") {
    val root = freshRoot("stream")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 2, groupMergeAt = 100)
    (1 to 5).foreach(k => t.commitAppend(Seq(k.toLong).toDF("id").repartition(1)))
    assert(t.snapshot(t.latestVersion()).groupRefs.nonEmpty)
    // batch-incremental feed over grouped versions: the delta between
    // v2 and v5 is exactly the files of v3..v5 (resolved through groups)
    assert(t.readAppendedBetween(2L, 5L).as[Long].collect().toSet ==
      Set(3L, 4L, 5L))
    // streaming read of the grouped table from scratch
    val ckpt = freshRoot("streamckpt")
    val q = spark.readStream.format("graft-snapshot").load(root)
      .writeStream.format("memory").queryName("grouped_stream")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.table("grouped_stream").as[Long].collect().toSet ==
      (1L to 5L).toSet)
    // epoch-idempotent append onto the grouped table: replaying the
    // same (txnApp, batchId) commits nothing twice
    val v = t.commitAppendOnce("q-groups", 7L, Seq(99L).toDF("id"))
    assert(t.commitAppendOnce("q-groups", 7L, Seq(99L).toDF("id")) == v)
    assert(t.read().count() == 6L)
  }

  test("differential: a grouped table and an inline twin agree at every version under mixed ops") {
    // the same deterministic op sequence against two tables that differ
    // ONLY in encoding thresholds — any divergence in any version's
    // contents is an encoding bug by construction
    val rootG = freshRoot("diffg")
    val rootI = freshRoot("diffi")
    val g = new SnapshotTable(spark, rootG, statsCols = Seq("id"),
      groupInlineFold = 2, groupMergeAt = 3)
    val i = new SnapshotTable(spark, rootI, statsCols = Seq("id"),
      groupInlineFold = 1000000, groupMergeAt = 1000000)
    // blooms ride the differential too: every append folds per-file
    // filters, so any group-encoding bug in the blooms vector shows up
    // as planned-file or value divergence below
    g.setTableProperties(Map("write.bloom.cols" -> "id"))
    i.setTableProperties(Map("write.bloom.cols" -> "id"))
    val rnd = new scala.util.Random(17)
    var nextId = 0L
    def batch(n: Int) = {
      val ids = (nextId until nextId + n); nextId += n
      ids.map(_.toLong).toDF("id").repartition(1)
    }
    (1 to 18).foreach { step =>
      rnd.nextInt(7) match {
        case 0 | 1 | 2 => // appends dominate (the grouped fast path)
          val b = batch(3)
          g.commitAppend(b); i.commitAppend(b)
        case 3 if nextId > 4 => // MOR delete of an existing id
          val k = rnd.nextLong(nextId)
          g.commitDeleteByKey(Seq(k).toDF("id"), Seq("id"))
          i.commitDeleteByKey(Seq(k).toDF("id"), Seq("id"))
        case 4 if step % 7 == 0 => // occasional full compaction
          g.compact(100L); i.compact(100L)
        case 5 if step % 5 == 0 => // r18 maintenance: delete-file fold
          val (gv, iv) = (g.compactDeletes(), i.compactDeletes())
          assert((gv == g.latestVersion()) == (iv == i.latestVersion()),
            s"step $step: fold decisions diverged")
        case 6 if step % 6 == 0 => // late-r18 maintenance: band-scoped fold
          g.compactRange("id", 0L, nextId / 2, 1000L)
          i.compactRange("id", 0L, nextId / 2, 1000L)
        case _ =>
          val b = batch(2)
          g.commitAppend(b); i.commitAppend(b)
      }
      assert(g.latestVersion() == i.latestVersion(), s"step $step: version drift")
    }
    val tip = g.latestVersion()
    assert(g.snapshot(tip).groupRefs.nonEmpty, "the grouped side must actually group")
    (1L to tip).foreach { v =>
      val gv = g.read(v).as[Long].collect().sorted.toSeq
      val iv = i.read(v).as[Long].collect().sorted.toSeq
      assert(gv == iv, s"v$v: grouped=$gv inline=$iv")
      assert(g.snapshot(v).rows == i.snapshot(v).rows, s"v$v row counts")
    }
    // pruning agrees too
    val bandsG = g.readPruned(Pruning(bands = Map("id" -> ((5L, 9L)))), tip)._1.as[Long].collect().toSet
    val bandsI = i.readPruned(Pruning(bands = Map("id" -> ((5L, 9L)))), tip)._1.as[Long].collect().toSet
    assert(bandsG == bandsI)
    // point-lookup (bloom) pruning agrees: same values AND same planned
    // file counts under both encodings
    val pg = g.readRange("id", 3L, 3L, -1L)
    val pi = i.readRange("id", 3L, 3L, -1L)
    assert(pg.as[Long].collect().toSeq == pi.as[Long].collect().toSeq)
    assert(pg.inputFiles.length == pi.inputFiles.length,
      s"bloom pruning diverged: grouped=${pg.inputFiles.length} " +
        s"inline=${pi.inputFiles.length}")
    // per-file row counts ride groups identically: the manifest-served
    // filtered COUNT agrees in value AND in which files it had to scan
    val (cg, sg) = g.countRangeDetailed("id", 2L, nextId - 2L, -1L)
    val (ci, si) = i.countRangeDetailed("id", 2L, nextId - 2L, -1L)
    assert(cg == ci, s"countRange diverged: grouped=$cg inline=$ci")
    assert(sg.length == si.length,
      s"countRange scan sets diverged: grouped=${sg.length} inline=${si.length}")
    // and the fsck reconciles BOTH encodings
    assert(g.checkTable(deep = true).ok && i.checkTable(deep = true).ok)
  }

  test("total manifest bytes stay near-linear: the tip never re-lists the whole table") {
    val root = freshRoot("meta")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"),
      groupInlineFold = 4, groupMergeAt = 8)
    (1 to 30).foreach(k => t.commitAppend(Seq(k.toLong).toDF("id").repartition(1)))
    val sizes = (1L to 30L).map(v => manifestText(root, v).length)
    // an inline format's manifest size grows ~linearly with the version;
    // grouped manifests stay bounded by fold + refs. Pin: the LAST
    // manifest is not materially bigger than the 5th (both carry <= fold
    // inline entries + a bounded ref list)
    assert(sizes.last <= sizes(4) * 3,
      s"tip manifest must stay bounded: sizes=${sizes.mkString(",")}")
  }
}
