package graft

import graft.sources.{ColStats, Pruning, SnapshotTable, SnapshotParquetWriter, SnapshotWriteMessage}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Metadata/planning cost at HIGH commit and file counts — the
  * "does the manifest layer itself survive scale" measurement
  * (BASELINE.md records the numbers): builds a table of `commits`
  * versions × one live file each (driver-written tiny parquet, no
  * Spark job per commit), then times, each on a FRESH handle (cold
  * caches — the worst case a new executor/driver pays):
  *
  *  - tip resolve (`latestVersion`): hint + forward probe, O(1)-ish;
  *  - `snapshot(tip)` parse: checkpoint-chunk load, O(checkpointEvery);
  *  - `history()`: full chain walk, O(V / checkpointEvery) file opens;
  *  - V1 read planning (`read(tip)` → executedPlan): manifest file list
  *    into one parquet relation;
  *  - DML planning full vs band-PRUNED (`dmlSpecPruned`): the O(files)
  *    getFileStatus walk vs the pruned subset;
  *  - manifest-served `count(*)` (DSv2 COUNT pushdown: zero data read).
  *
  * Usage: runMain graft.MetaBench [commits=10000] [outRoot=/tmp/graft_metabench]
  */
object MetaBench {
  private def timed[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1000000L)
  }

  def main(args: Array[String]): Unit = {
    val commits = if (args.length > 0) args(0).toInt else 10000
    val root = if (args.length > 1) args(1)
      else s"/tmp/graft_metabench_$commits"
    val spark = GraftSession.local()

    // "reuse" third arg: measure against an existing fixture (the
    // manifests are immutable; a rebuild adds 5 min for no new signal)
    val reuse = args.length > 2 && args(2) == "reuse"
    val dir = new java.io.File(root)
    if (dir.exists() && !reuse) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
      }
      rm(dir)
    }

    val schema = StructType(Seq(StructField("id", LongType)))
    val conf = spark.sessionState.conf
    val writer = new SnapshotTable(spark, root, statsCols = Seq("id"))

    // build: one driver-written parquet file + one manifest per commit
    val (_, buildMs) = timed {
      var v = if (reuse && dir.exists()) commits else 0
      while (v < commits) {
        val uuid = f"c$v%08d"
        val w = new SnapshotParquetWriter(s"$root/data", uuid, "f.parquet",
          schema, Seq("id"), conf.writeLegacyParquetFormat.toString,
          conf.parquetOutputTimestampType.toString,
          spark.sparkContext.hadoopConfiguration)
        w.write(org.apache.spark.sql.catalyst.InternalRow(v.toLong))
        val m = w.commit().asInstanceOf[SnapshotWriteMessage]
        writer.commitWrittenAppend(Seq(s"$uuid/${m.file}"),
          Seq(ColStats(Seq(m.mins(0)), Seq(m.maxs(0)), Seq(m.nulls(0)))),
          m.rows, schema)
        v += 1
      }
    }

    def fresh() = new SnapshotTable(spark, root, statsCols = Seq("id"))

    val (tip, tipMs) = timed(fresh().latestVersion())
    val (_, snapMs) = timed(fresh().snapshot(tip))
    val (hist, histMs) = timed(fresh().history().length)
    // planning-time getFileStatus calls ride the handle's dataStats
    // counter: ZERO on a lens-recording table (the manifest IS the
    // listing), O(files) under pre-lens manifests — each one would be
    // an object-store HEAD
    val tPlan = fresh()
    val (_, planV1Ms) = timed(
      tPlan.read(tip).queryExecution.executedPlan.toString.length)
    val planStats = tPlan.dataStats.get()
    val t = fresh()
    val (specFull, dmlFullMs) = timed(t.dmlSpecPruned(tip, Pruning()))
    val dmlStats = t.dataStats.get()
    val (specPruned, dmlPrunedMs) = timed(
      fresh().dmlSpecPruned(tip, Pruning(bands = Map("id" -> ((5L, 9L))))))
    val (cnt, countMs) = timed(
      spark.read.format("graft-snapshot").load(root).count())

    // total metadata footprint: the O(V^2) question. Inline manifests
    // re-list all live files per version (3.8 GB measured at 10k
    // commits pre-groups); manifest-list groups keep each manifest
    // O(fold + refs) and amortize group bytes over the churn.
    def bytesOf(prefix: String, suffix: String): (Long, Long) = {
      val fsn = new java.io.File(s"$root/_snapshots")
      val matching = Option(fsn.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(suffix))
      (matching.length.toLong, matching.map(_.length()).sum)
    }
    val (nManifests, manifestBytes) = bytesOf("v", ".json")
    val (nGroups, groupBytes) = bytesOf("g", ".json")
    val tipManifestBytes = new java.io.File(
      f"$root/_snapshots/v$tip%020d.json").length()

    println(s"""{"metric":"metabench","commits":$commits,"live_files":${specFull._1.files.length},
      |"build_ms":$buildMs,"tip_resolve_ms":$tipMs,"snapshot_parse_ms":$snapMs,
      |"history_ms":$histMs,"history_len":$hist,
      |"v1_read_plan_ms":$planV1Ms,"v1_read_plan_stats":$planStats,
      |"dml_plan_full_ms":$dmlFullMs,"dml_plan_full_stats":$dmlStats,
      |"dml_plan_pruned_ms":$dmlPrunedMs,
      |"dml_pruned_files":${specPruned._1.files.length},
      |"count_pushdown_ms":$countMs,"count":$cnt,
      |"manifest_files":$nManifests,"manifest_bytes":$manifestBytes,
      |"group_files":$nGroups,"group_bytes":$groupBytes,
      |"tip_manifest_bytes":$tipManifestBytes}""".stripMargin.replace("\n", ""))
    spark.stop()
  }
}
