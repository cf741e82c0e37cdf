package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.SnapshotTable

/** Streaming purely through CATALOG NAMES — the DSv2 surface
  * (`spark.readStream.table` / `writeStream.toTable`) over snapshot
  * tables: version offsets, epoch-idempotent replay, the insert-only
  * contract, and schema-following across restarts, mirroring the
  * path-based V1 source/sink semantics exactly. */
class SnapshotCatalogStreamSpec extends SparkSpec {

  private val cat = "graftstreamcat"
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    val wh = java.nio.file.Files.createTempDirectory("graft_stream_wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
  }

  private def whRoot = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")

  private def drain(src: String, dst: String, ckpt: String): Unit = {
    val q = spark.readStream.table(src)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(dst)
    q.awaitTermination()
  }

  test("readStream.table -> writeStream.toTable: delta-only, epoch-idempotent") {
    spark.sql(s"CREATE TABLE $cat.db.ssrc (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"CREATE TABLE $cat.db.sdst (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"INSERT INTO $cat.db.ssrc SELECT id, id * 2 AS v FROM range(0, 50)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cat_stream").toString

    drain(s"$cat.db.ssrc", s"$cat.db.sdst", ckpt)
    // a second drain with nothing new must commit NOTHING (idempotent
    // replay: empty epoch publishes no version)
    drain(s"$cat.db.ssrc", s"$cat.db.sdst", ckpt)
    assert(spark.table(s"$cat.db.sdst").count() == 50L)

    // only the DELTA is delivered on the next drain
    spark.sql(s"INSERT INTO $cat.db.ssrc SELECT id, id * 2 AS v FROM range(50, 80)")
    drain(s"$cat.db.ssrc", s"$cat.db.sdst", ckpt)
    assert(spark.table(s"$cat.db.sdst").count() == 80L)
    assert(spark.table(s"$cat.db.sdst").select(sum(col("v"))).head.getLong(0) ==
      spark.table(s"$cat.db.ssrc").select(sum(col("v"))).head.getLong(0))

    // version chain of the SINK: exactly one append per data-bearing
    // epoch — the empty drain left no version at all
    val t = new SnapshotTable(spark, s"$whRoot/db/sdst")
    assert(t.history().map(_.action) == Seq("overwrite", "append", "append"))
    // every append carries the (queryId, epochId) idempotency identity
    assert(t.history().filter(_.action == "append").forall(s =>
      s.txnApp.nonEmpty && s.batchId >= 0))
  }

  test("insert-only contract: a non-append change mid-stream is loud") {
    spark.sql(s"CREATE TABLE $cat.db.schg (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"CREATE TABLE $cat.db.schg_out (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot`")
    spark.sql(s"INSERT INTO $cat.db.schg SELECT id, id AS v FROM range(0, 10)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cat_chg").toString
    drain(s"$cat.db.schg", s"$cat.db.schg_out", ckpt)
    spark.sql(s"UPDATE $cat.db.schg SET v = -1 WHERE id = 3")
    val e = intercept[Exception](
      drain(s"$cat.db.schg", s"$cat.db.schg_out", ckpt))
    assert(e.getMessage.contains("non-append data change") ||
      Option(e.getCause).exists(_.getMessage.contains("non-append data change")))

    // skipChangeCommits streams appends only, past the change. Drained
    // twice: an AvailableNow run that RECOVERS the previously-failed
    // batch stops at that batch, the second run delivers the rest.
    spark.sql(s"INSERT INTO $cat.db.schg VALUES (100, 100)")
    (1 to 2).foreach { _ =>
      val q = spark.readStream
        .option("skipChangeCommits", "true")
        .table(s"$cat.db.schg")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.schg_out")
      q.awaitTermination()
    }
    assert(spark.table(s"$cat.db.schg_out")
      .filter(col("id") === 100).count() == 1L)
  }

  test("startingVersion floors delivery; column pruning flows into the stream") {
    spark.sql(s"CREATE TABLE $cat.db.sver (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"INSERT INTO $cat.db.sver SELECT id, id AS v FROM range(0, 10)")
    spark.sql(s"INSERT INTO $cat.db.sver SELECT id, id AS v FROM range(10, 20)")
    val t = new SnapshotTable(spark, s"$whRoot/db/sver")
    val tip = t.latestVersion()
    spark.sql(s"INSERT INTO $cat.db.sver SELECT id, id AS v FROM range(20, 30)")

    // start AFTER the first two appends: only the third delivers
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cat_ver").toString
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream
      .option("startingVersion", (tip + 1).toString)
      .table(s"$cat.db.sver")
      .select(col("id")) // narrow projection
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.collect().map(_.getLong(0)); ()
      }
      .start()
    q.awaitTermination()
    assert(got.toSet == (20L until 30L).toSet)
  }

  test("streamed epochs record NDV sketches: estimateDistinct matches an INSERT of the same rows") {
    spark.sql(s"CREATE TABLE $cat.db.ndvsrc (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"CREATE TABLE $cat.db.ndvstream (id BIGINT, v BIGINT) " +
      "USING `graft-snapshot` TBLPROPERTIES('stats_cols'='id')")
    spark.sql(s"INSERT INTO $cat.db.ndvsrc SELECT id % 300 AS id, id AS v FROM range(0, 1000)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cat_ndv").toString
    drain(s"$cat.db.ndvsrc", s"$cat.db.ndvstream", ckpt)
    val streamed = new SnapshotTable(spark, s"$whRoot/db/ndvstream", Seq("id"))
    val inserted = new SnapshotTable(spark, s"$whRoot/db/ndvsrc", Seq("id"))
    assert(streamed.snapshot(streamed.latestVersion()).action == "append")
    assert(streamed.estimateDistinct("id").isDefined,
      "a streamed epoch must record its files' NDV sketches")
    assert(streamed.estimateDistinct("id") == inserted.estimateDistinct("id"))
  }

  test("readStream.table startingVersion=latest is resolved once per checkpoint: commits during downtime are NOT skipped") {
    spark.sql(s"CREATE TABLE $cat.db.slatest (id BIGINT) USING `graft-snapshot`")
    spark.sql(s"INSERT INTO $cat.db.slatest VALUES (1)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cat_latest").toString
    def drainLatest(): Set[Long] = {
      val got = scala.collection.mutable.Set[Long]()
      val q = spark.readStream.option("startingVersion", "latest")
        .table(s"$cat.db.slatest")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= b.collect().map(_.getLong(0)); ()
        }
        .start()
      q.awaitTermination(); got.toSet
    }
    assert(drainLatest().isEmpty) // resolved to from-now-on, persisted
    // the query is DOWN while two appends commit; a restart that
    // re-resolved "latest" would floor past them and silently drop them
    spark.sql(s"INSERT INTO $cat.db.slatest VALUES (2)")
    spark.sql(s"INSERT INTO $cat.db.slatest VALUES (3)")
    assert(drainLatest() == Set(2L, 3L))
  }
}
