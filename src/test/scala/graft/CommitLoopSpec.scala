package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import graft.sources.{LocalExclusiveLogStore, SnapshotLogStore, SnapshotTable}

/** The snapshot table's one optimistic-commit loop: every commit verb
  * gives up the same way after 50 lost races, and a loser that
  * re-derives its content from the new tip leaves no data files behind
  * that no manifest references. */
class CommitLoopSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_commitloop_$tag")
    f.toFile.delete()
    f.toString
  }

  /** Every publish loses: the store raises the local stores' collision
    * type and nothing ever lands. Counts the attempts and keeps the last
    * exception it raised. */
  private class AlwaysCollides extends SnapshotLogStore {
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    @volatile var last: Throwable = _
    override def writeExclusive(fs: FileSystem, path: Path, body: Array[Byte]): Unit = {
      attempts.incrementAndGet()
      last = new java.nio.file.FileAlreadyExistsException(path.toString)
      throw last
    }
  }

  private def assertGaveUp(store: AlwaysCollides, op: String, root: String)
                          (commit: => Any): Unit = {
    val e = intercept[IllegalStateException](commit)
    assert(e.getMessage == s"$op at $root: gave up after 50 conflicts")
    assert(e.getCause eq store.last, s"the last collision must be the cause: ${e.getCause}")
    assert(store.attempts.get() == 50, s"publish attempts: ${store.attempts.get()}")
  }

  test("give-up: a publish that always collides raises after exactly 50 attempts, last collision as cause") {
    val root = freshRoot("appendgiveup")
    val store = new AlwaysCollides
    val t = new SnapshotTable(spark, root, logStore = Some(store))
    assertGaveUp(store, "append", root)(t.commitAppend(Seq(1L).toDF("id")))
  }

  test("give-up: a re-deriving verb gives up the same way") {
    val root = freshRoot("repairgiveup")
    val t = new SnapshotTable(spark, root)
    t.commitAppend(Seq(1L, 2L).toDF("id").repartition(1))
    t.commitAppend(Seq(3L).toDF("id").repartition(1))
    // lose one data file: the repair re-probes storage per attempt and
    // accounts rows from the manifest alone (no Spark job per attempt)
    val lost = t.snapshot(2L).files.last
    assert(new java.io.File(s"$root/data/$lost").delete())
    val store = new AlwaysCollides
    val loser = new SnapshotTable(spark, root, logStore = Some(store))
    assertGaveUp(store, "repairTable", root)(loser.repairTable(dryRun = false))
    assert(t.latestVersion() == 2L, "nothing may publish")
  }

  /** The loser's store: armed, its next manifest (`v*.json`) publish
    * first lets `rival` land an append — the loser then collides and
    * re-derives. */
  private class RivalBeforeFirstPublish(rival: () => Unit) extends SnapshotLogStore {
    @volatile var armed = false
    @volatile var fired = 0
    override def writeExclusive(fs: FileSystem, path: Path, body: Array[Byte]): Unit = {
      if (armed && path.getName.startsWith("v")) { armed = false; fired += 1; rival() }
      LocalExclusiveLogStore.writeExclusive(fs, path, body)
    }
  }

  private def commitDirsOnDisk(root: String): Set[String] =
    Option(new java.io.File(s"$root/data").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).toSet

  private def commitDirsReferenced(t: SnapshotTable): Set[String] =
    t.history().flatMap(s => s.files ++ s.deletes).map(_.split('/').head).toSet

  // (verb, unraced setup, the raced commit) — the rival's row (id 1000)
  // lies outside every verb's predicate, so it must survive
  private val verbs: Seq[(String, SnapshotTable => Unit, SnapshotTable => Any)] = Seq(
    ("commitRewrite", _ => (),
      t => t.commitRewrite("delete")(cur => cur.get.filter(col("id") =!= 1L))),
    ("commitUpsert", _ => (),
      t => t.commitUpsert(Seq((1L, 100L)).toDF("id", "w"),
        uniqueKey = Seq("id"), watermarkCol = "w")),
    ("commitReplaceWhere", _ => (),
      t => t.commitReplaceWhere("id", Seq((1L, 7L), (2L, 7L)).toDF("id", "w"), 1L, 2L)),
    ("compact", _ => (), t => t.compact(1000L)),
    ("compactRange", _ => (), t => t.compactRange("id", 0L, 100L, 1000L)),
    ("compactFiles", _ => (), t => t.compactFiles(1L << 30, 1L << 30)),
    ("compactDeletes", { t =>
      t.commitDeleteByKey(Seq(3L).toDF("id"), Seq("id"))
      t.commitDeleteByKey(Seq(4L).toDF("id"), Seq("id"))
      ()
    }, t => t.compactDeletes()))

  verbs.foreach { case (name, setup, raced) =>
    test(s"a lost race leaves no orphan data files: $name") {
      val root = freshRoot(name)
      val rival = new SnapshotTable(spark, root, statsCols = Seq("id"))
      val store = new RivalBeforeFirstPublish(() =>
        rival.commitAppend(Seq((1000L, 0L)).toDF("id", "w").repartition(1)))
      val t = new SnapshotTable(spark, root, statsCols = Seq("id"),
        logStore = Some(store))
      // one file straddling every verb's range and holding the upsert
      // key, one disjoint from both
      t.commitAppend((1L to 5L).map(i => (i, 0L)).toDF("id", "w").repartition(1))
      t.commitAppend(Seq((10L, 0L), (11L, 0L)).toDF("id", "w").repartition(1))
      setup(t)
      store.armed = true
      raced(t)
      assert(store.fired == 1, "the rival must have raced the verb's publish")
      val ids = t.read().select("id").as[Long].collect().toSet
      assert(ids.contains(1000L), s"$name lost the rival's row: $ids")
      val orphans = commitDirsOnDisk(root) -- commitDirsReferenced(t)
      assert(orphans.isEmpty, s"$name left unreferenced commit dirs: $orphans")
    }
  }
}
