package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Maintenance-path cost probes (BASELINE.md records the numbers):
  *
  *  1. MOR delete-file accumulation vs minor compaction: N equality-
  *     delete commits leave N delete files every reader anti-joins;
  *     after [[SnapshotTable.compactDeletes]] a reader loads ONE. Times
  *     the tip read before/after the fold and reports the delete-file
  *     counts — the "bounded read cost after N MOR DMLs" claim, measured.
  *
  *  2. BPE trainer at real vocabulary sizes: the distributed loop pays
  *     one job barrier per merge round; the driver loop pays one word
  *     count + one bounded collect for ALL rounds. Times
  *     bpeTrainLocal(rounds=R) against the distributed trainer's
  *     measured per-round cost (a small round count, extrapolated —
  *     running 1000 distributed rounds would take hours by construction,
  *     which is the point).
  *
  * Usage: runMain graft.MaintBench [morDeletes=200] [bpeRounds=1000]
  *        [sfDir=/root/testdata/sf0.01]
  */
object MaintBench {
  private def timed[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1000000L)
  }

  def main(args: Array[String]): Unit = {
    val morDeletes = if (args.length > 0) args(0).toInt else 200
    val bpeRounds = if (args.length > 1) args(1).toInt else 1000
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = GraftSession.local()
    import spark.implicits._

    // ---- 1. MOR delete accumulation vs compactDeletes ----
    val root = java.nio.file.Files.createTempDirectory("graft_maintbench").toString
    val t = new SnapshotTable(spark, root, statsCols = Seq("k"))
    t.commitAppend(spark.range(1L, 100001L).select(col("id").as("k"),
      (col("id") * 7).as("v")).repartitionByRange(8, col("k")))
    val (_, delBuildMs) = timed {
      (1 to morDeletes).foreach(i =>
        t.commitDeleteByKey(Seq(Tuple1(i.toLong * 3)).toDF("k"), Seq("k")))
    }
    val nBefore = t.snapshot(t.latestVersion()).deletes.length
    def freshRead() = new SnapshotTable(spark, root, statsCols = Seq("k"))
    val (cntBefore, readBeforeMs) = timed(freshRead().read().count())
    val (_, foldMs) = timed(t.compactDeletes())
    val nAfter = t.snapshot(t.latestVersion()).deletes.length
    val (cntAfter, readAfterMs) = timed(freshRead().read().count())
    require(cntBefore == cntAfter, s"fold changed contents: $cntBefore vs $cntAfter")

    // ---- 2. BPE: driver loop vs distributed per-round cost ----
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count() // warm the scan
    // a small corpus can EXHAUST its mergeable pairs before bpeRounds
    // (every word fully merged) — both trainers raise there by design;
    // the probe degrades to the achievable round count and reports it
    def trainLocal(r: Int): (Array[org.apache.spark.sql.Row], Long) =
      try timed(graft.llm.TextStats.bpeTrainLocal(docs, r).collect())
      catch {
        case e: IllegalArgumentException if e.getMessage.contains("no pair left") =>
          val failed = "round (\\d+)".r.findFirstMatchIn(e.getMessage)
            .map(_.group(1).toInt).getOrElse(r)
          trainLocal(failed - 1)
      }
    val (localTable, localMs) = trainLocal(bpeRounds)
    val distRounds = 8
    val (_, distMs) =
      timed(graft.llm.TextStats.bpeTrain(docs, distRounds).collect())
    val distPerRoundMs = distMs.toDouble / distRounds
    val distExtrapolatedS = distPerRoundMs * bpeRounds / 1000.0

    // ---- 3. maintain() policy loop over a mixed-debris table ----
    // base file + 40 small appends + 12 MOR delete commits; the loop
    // must drain to 'none' in a handful of policy-chosen steps
    val mroot = java.nio.file.Files.createTempDirectory("graft_maintain").toString
    val mt = new SnapshotTable(spark, mroot, statsCols = Seq("k"))
    mt.commitAppend(spark.range(0L, 200000L).select(col("id").as("k"),
      (col("id") * 7).as("v")).repartitionByRange(4, col("k")))
    (0 until 40).foreach(i => mt.commitAppend(
      spark.range(500000L + i * 50, 500000L + i * 50 + 50)
        .select(col("id").as("k"), (col("id") * 7).as("v")).repartition(1)))
    (1 to 12).foreach(i =>
      mt.commitDeleteByKey(Seq(Tuple1(i.toLong * 11)).toDF("k"), Seq("k")))
    val policy = graft.sources.MaintainPolicy(
      smallFileBytes = 1L * 1024 * 1024, smallFilesAt = 4)
    val (maintSteps, maintainMs) = timed {
      Iterator.continually(mt.maintain(policy))
        .takeWhile(_.action != "none").map(_.action).toVector
    }
    val (maintCnt, maintReadMs) = timed(
      new SnapshotTable(spark, mroot, statsCols = Seq("k")).read().count())
    require(maintCnt == 200000L + 40 * 50 - 12,
      s"maintain loop changed contents: $maintCnt")

    // ---- 4. fsck probes at many files: driver loop vs ONE Spark job ----
    // 600-file table (a day of streaming-sink debris). On LOCAL fs a
    // stat costs ~0.1 ms, so the sequential driver loop is near-free and
    // the job-launch overhead dominates — this probe pins that overhead
    // as BOUNDED and the two paths' reports as IDENTICAL; the
    // distributed win materializes at object-store HEAD latency
    // (10–50 ms × files sequential vs one parallel job), which a local
    // bench cannot exhibit, only the agreement and the overhead.
    val proot = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val pt = new SnapshotTable(spark, proot, statsCols = Seq("k"))
    (0 until 4).foreach(i => pt.commitAppend(
      spark.range(i * 15000L, (i + 1) * 15000L).toDF("k").repartition(150)))
    val probeFiles = pt.snapshot(pt.latestVersion()).files.length
    spark.conf.set("spark.graft.fsck.distributedProbeAt", s"${Int.MaxValue}")
    val (repDrv, fsckDriverMs) = timed(pt.checkTable())
    spark.conf.set("spark.graft.fsck.distributedProbeAt", "1")
    val (repDist, fsckDistMs) = timed(pt.checkTable())
    spark.conf.unset("spark.graft.fsck.distributedProbeAt")
    require(repDrv.ok && repDist.ok && repDrv.files == repDist.files &&
      repDrv.rowsRecorded == repDist.rowsRecorded,
      s"probe paths disagree: $repDrv vs $repDist")

    println(s"""{"metric":"maintbench","mor_deletes":$morDeletes,
      |"mor_build_ms":$delBuildMs,
      |"delete_files_before":$nBefore,"delete_files_after":$nAfter,
      |"read_before_ms":$readBeforeMs,"read_after_ms":$readAfterMs,
      |"fold_ms":$foldMs,"rows":$cntAfter,
      |"bpe_rounds_asked":$bpeRounds,"bpe_merges":${localTable.length},
      |"bpe_local_ms":$localMs,
      |"bpe_dist_rounds_measured":$distRounds,"bpe_dist_ms":$distMs,
      |"bpe_dist_extrapolated_s":${f"$distExtrapolatedS%.1f"},
      |"maintain_steps":"${maintSteps.mkString(",")}",
      |"maintain_ms":$maintainMs,"maintain_read_ms":$maintReadMs,
      |"fsck_files":$probeFiles,
      |"fsck_driver_ms":$fsckDriverMs,"fsck_distributed_ms":$fsckDistMs}"""
      .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
