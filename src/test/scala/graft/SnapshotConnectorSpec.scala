package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.SnapshotTable

/** The format's non-Scala surfaces: batch DSv2 reads with time travel
  * and manifest-band file pruning, and the V1 streaming sink with
  * exactly-once epoch commits — one `graft-snapshot` format name serving
  * batch read, streaming read, and streaming write. */
class SnapshotConnectorSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_snapconn_$tag")
    f.toFile.delete()
    f.toString
  }

  test("batch read: latest, VERSION AS OF, TIMESTAMP AS OF, and MOR deletes applied") {
    val root = freshRoot("batchread")
    val t = new SnapshotTable(spark, root)
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(10)
    t.commitAppend(Seq((3L, "c")).toDF("id", "s"))
    t.commitDeleteByKey(Seq(2L).toDF("id"), Seq("id"))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").as[Long].collect().toSet
    // latest view applies the MOR delete without any rewrite
    val latest = spark.read.format("graft-snapshot").load(root)
    assert(ids(latest) == Set(1L, 3L))
    // VERSION AS OF resolves each pinned manifest
    assert(ids(spark.read.format("graft-snapshot")
      .option("versionAsOf", "1").load(root)) == Set(1L, 2L))
    assert(ids(spark.read.format("graft-snapshot")
      .option("versionAsOf", "2").load(root)) == Set(1L, 2L, 3L))
    // TIMESTAMP AS OF (epoch millis) lands between v1 and v2
    assert(ids(spark.read.format("graft-snapshot")
      .option("timestampAsOf", afterV1.toString).load(root)) == Set(1L, 2L))
    // equivalence with the engine's own read and the TVF path
    assert(ids(latest) == ids(t.read()))
  }

  test("planner statistics: sizeInBytes is the manifest's recorded on-disk bytes; a small dim auto-broadcasts") {
    // Spark's V1ScanWrapper drops SupportsReportStatistics from every
    // V1Scan — without the extensions' V1ScanStatsRule the relation
    // sizes as Long.MaxValue and NOTHING read through the connector
    // ever auto-broadcasts (the latent bug this spec pins)
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val root = freshRoot("cbosize")
    val t = new SnapshotTable(spark, root)
    t.commitAppend((1L to 1000L).toDF("id")
      .withColumn("s", concat(lit("name_"), col("id"))))
    val snap = t.snapshot(t.latestVersion())
    assert(snap.lens.nonEmpty && snap.lens.forall(_ > 0L))
    val onDisk = snap.lens.sum
    val df = spark.read.format("graft-snapshot").load(root)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // full projection, default compression factor 1.0 → the estimate IS
    // the on-disk byte count (not rows × default width, which for this
    // schema overestimates ~3×)
    assert(est == BigInt(onDisk),
      s"sizeInBytes $est must equal recorded on-disk bytes $onDisk")
    // and the accurate size makes the dim auto-broadcast in a join
    // (on-disk well under the 10 MB default threshold)
    val fact = (1L to 1000L).toDF("id").withColumn("v", col("id") * 2)
    val joined = fact.join(df, "id")
    val hasBhj = joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    assert(hasBhj, "manifest-sized snapshot dim must broadcast without hints")
  }

  test("batch read: stats-band filters prune files off the manifest (DSv2 pushdown)") {
    val root = freshRoot("batchprune")
    val t = new SnapshotTable(spark, root, statsCols = Seq("id"))
    t.commitAppend((1L to 10L).toDF("id").withColumn("v", col("id") * 10).repartition(1))
    t.commitAppend((11L to 20L).toDF("id").withColumn("v", col("id") * 10).repartition(1))
    t.commitAppend((21L to 30L).toDF("id").withColumn("v", col("id") * 10).repartition(1))
    // end-to-end: exact rows through the DSv2 path with a range predicate
    val df = spark.read.format("graft-snapshot").load(root)
      .filter(col("id") >= 12L && col("id") <= 15L).select("id", "v")
    assert(df.as[(Long, Long)].collect().toSet ==
      (12L to 15L).map(i => (i, i * 10)).toSet)
    // the optimized plan advertises the pushed band filters
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("PushedFilters") &&
      explained.contains("GreaterThanOrEqual(id,12)"), explained.take(2000))
    // and the scan itself plans exactly ONE of the three files
    val scan = new graft.sources.GraftSnapshotScan(spark, t, 3L,
      spark.read.format("graft-snapshot").load(root).schema,
      graft.sources.Pruning(bands = Map("id" -> ((12L, 15L)))))
    assert(scan.plannedFiles.length == 1,
      s"band [12,15] must plan one file, got ${scan.plannedFiles}")
    // column pruning reaches the inner parquet scan
    val narrow = spark.read.format("graft-snapshot").load(root).select("v")
    assert(narrow.as[Long].collect().toSet == (1L to 30L).map(_ * 10).toSet)
  }

  test("streaming sink: append mode lands one version per epoch, replay commits nothing twice") {
    val dir = freshRoot("sink")
    val root = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    implicit val ctx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    def drainTo(): Unit = {
      val q = mem.toDF().toDF("id").writeStream
        .format("graft-snapshot").option("path", root)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mem.addData(1L, 2L)
    drainTo()
    val t = new SnapshotTable(spark, root)
    assert(t.read().select("id").as[Long].collect().toSet == Set(1L, 2L))
    val v1 = t.latestVersion()
    // second drain with nothing new: no empty-batch version lands
    drainTo()
    assert(t.latestVersion() == v1)
    mem.addData(3L)
    drainTo()
    assert(t.read().select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // the epochs are recorded on the manifests (the idempotency key)
    assert(t.history().forall(s => s.batchId >= 0 && s.action == "append"))
    // a REPLAYED epoch (restart of the SAME query on the same checkpoint
    // — simulate the recovery call with the recorded identity pair)
    // returns the existing version
    val tip = t.latestVersion()
    val tipSnap = t.snapshot(tip)
    val replayed = t.commitAppendOnce(tipSnap.txnApp, tipSnap.batchId, Seq(3L).toDF("id"))
    assert(replayed == tip && t.latestVersion() == tip,
      "epoch replay must return the existing version, not double-append")
  }

  test("streaming sink: the table-to-table loop (source feeds sink) stays exactly-once") {
    val dir = freshRoot("loop")
    val src = s"$dir/src"
    val dst = s"$dir/dst"
    val ckpt = s"$dir/ckpt"
    val in = new SnapshotTable(spark, src)
    in.commitAppend(Seq(1L, 2L).toDF("id"))
    in.commitAppend(Seq(3L).toDF("id"))
    def pump(): Unit = {
      val q = spark.readStream.format("graft-snapshot").load(src)
        .writeStream.format("graft-snapshot").option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pump()
    val out = new SnapshotTable(spark, dst)
    assert(out.read().select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    in.commitAppend(Seq(4L).toDF("id"))
    pump()
    assert(out.read().select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    assert(out.read().count() == 4L, "no duplicate delivery through the loop")
  }

  test("complete mode maps to commitOverwrite: each trigger replaces the table") {
    val dir = freshRoot("complete")
    val root = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    implicit val ctx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    def agg(): Unit = {
      val q = mem.toDF().toDF("id").groupBy().agg(sum("id").as("total"))
        .writeStream.format("graft-snapshot").option("path", root)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    mem.addData(1L, 2L)
    agg()
    val t = new SnapshotTable(spark, root)
    assert(t.read().select("total").as[Long].head() == 3L)
    mem.addData(10L)
    agg()
    assert(t.read().select("total").as[Long].head() == 13L)
    assert(t.read().count() == 1L, "complete mode replaces, never appends")
  }
}
