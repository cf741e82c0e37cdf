package graft

import org.apache.spark.sql.functions._
import graft.sources.{ConcurrentTxnException, SnapshotLogStore, TableTransactions}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Multi-table atomic commit: the root-level transaction log that makes
  * the reference's staging→production swap across N tables publish
  * all-or-nothing (taico_facebook_data_etl_dag.py:136-222 promotes the
  * wide table; dags/etl.py:143-190 syncs 9 dims + the relations bridge
  * as one logical unit). Gates: a reader racing a 3-table promote sees
  * only all-old or all-new; disjoint concurrent transactions auto-rebase
  * and BOTH land; overlapping ones conflict loudly; a failed validation
  * rolls all tables back in one transaction. */
class TableTxnSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String = {
    val f = java.nio.file.Files.createTempDirectory(s"graft_txn_$tag")
    f.toFile.delete()
    f.toString
  }

  /** Interpose on the FIRST exclusive publish: run `race` (a competing
    * commit) in the window between deciding the transaction number and
    * writing its manifest — the deterministic interleaving every
    * multi-writer spec in this repo uses instead of sleeps. */
  private class RaceOnFirstWrite(inner: SnapshotLogStore, race: () => Unit)
      extends SnapshotLogStore {
    @volatile private var fired = false
    override def writeExclusive(fs: FileSystem, path: Path,
                                body: Array[Byte]): Unit = {
      if (!fired) { fired = true; race() }
      inner.writeExclusive(fs, path, body)
    }
  }

  private def dims(root: String) = {
    val tx = new TableTransactions(spark, root)
    val a = tx.table("dim_channel")
    val b = tx.table("dim_product")
    val c = tx.table("dim_region")
    (tx, a, b, c)
  }

  test("a reader resolving through the txn log sees all-old or all-new, never a mixed cut") {
    val root = freshRoot("cut")
    val (tx, a, b, c) = dims(root)
    val va1 = a.commitAppend(Seq((1L, "tv")).toDF("id", "name"))
    val vb1 = b.commitAppend(Seq((1L, "soap")).toDF("id", "name"))
    val vc1 = c.commitAppend(Seq((1L, "north")).toDF("id", "name"))
    tx.commit(Map("dim_channel" -> va1, "dim_product" -> vb1,
      "dim_region" -> vc1))
    val oldCut = tx.published()

    // stage the promote ONE table-level commit at a time; after EVERY
    // step a transactional reader still resolves the old cut — table
    // chains are the staging area, invisible until the txn CAS
    val va2 = a.commitOverwrite(Seq((1L, "tv"), (2L, "radio")).toDF("id", "name"))
    assert(tx.published() == oldCut, "staged commit on A leaked into the cut")
    val vb2 = b.commitOverwrite(Seq((1L, "soap"), (2L, "rope")).toDF("id", "name"))
    assert(tx.published() == oldCut, "staged commit on B leaked into the cut")
    val vc2 = c.commitOverwrite(Seq((1L, "north"), (2L, "south")).toDF("id", "name"))
    assert(tx.published() == oldCut, "staged commit on C leaked into the cut")
    assert(tx.readPublished("dim_product").count() == 1L)

    // a reader that resolved the old cut BEFORE the promote keeps a
    // consistent view afterwards: pinned versions are immutable
    val preResolved = tx.published()
    tx.commit(Map("dim_channel" -> va2, "dim_product" -> vb2,
      "dim_region" -> vc2), "promote")
    assert(Seq("dim_channel", "dim_product", "dim_region")
      .forall(t => a.read(preResolved("dim_channel")).count() == 1L))
    // and a fresh resolve is ALL-new
    val newCut = tx.published()
    assert(newCut == Map("dim_channel" -> va2, "dim_product" -> vb2,
      "dim_region" -> vc2))
    assert(Seq("dim_channel", "dim_product", "dim_region")
      .forall(t => tx.readPublished(t).count() == 2L))
  }

  test("concurrent transactions on DISJOINT tables both land via auto-rebase") {
    val root = freshRoot("disjoint")
    val (tx, a, b, _) = dims(root)
    val va = a.commitAppend(Seq((1L, "tv")).toDF("id", "name"))
    val vb = b.commitAppend(Seq((1L, "soap")).toDF("id", "name"))
    val racer = new TableTransactions(spark, root)
    val contender = new TableTransactions(spark, root,
      Some(new RaceOnFirstWrite(SnapshotLogStore.forFileSystem(
        new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)),
        () => racer.commit(Map("dim_channel" -> va)))))
    // contender publishes dim_product; in its decide->write window the
    // racer lands dim_channel at the SAME txn number
    val got = contender.commit(Map("dim_product" -> vb))
    assert(got == 2L, "contender must rebase to the next number")
    assert(tx.published() == Map("dim_channel" -> va, "dim_product" -> vb),
      "both disjoint publishes must survive the race")
  }

  test("concurrent transactions on the SAME table conflict loudly; the winner's pin survives") {
    val root = freshRoot("overlap")
    val (tx, a, _, _) = dims(root)
    val v1 = a.commitAppend(Seq((1L, "tv")).toDF("id", "name"))
    val v2 = a.commitAppend(Seq((2L, "radio")).toDF("id", "name"))
    val racer = new TableTransactions(spark, root)
    val contender = new TableTransactions(spark, root,
      Some(new RaceOnFirstWrite(SnapshotLogStore.forFileSystem(
        new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)),
        () => racer.commit(Map("dim_channel" -> v2)))))
    val e = intercept[ConcurrentTxnException] {
      contender.commit(Map("dim_channel" -> v1))
    }
    assert(e.getMessage.contains("dim_channel"))
    assert(tx.published() == Map("dim_channel" -> v2),
      "the racing winner's pin must survive the conflict")
  }

  /** A remote conditional-PUT store's lost election: a plain IOException
    * carrying the HTTP 412, with the winner's object visible — none of
    * the FileAlreadyExists types. Counts the rejections. */
  private class S3Style412LogStore extends SnapshotLogStore {
    val rejections = new java.util.concurrent.atomic.AtomicInteger
    private val lock = new Object
    override def writeExclusive(fs: FileSystem, path: Path,
                                body: Array[Byte]): Unit = lock.synchronized {
      if (fs.exists(path)) {
        rejections.incrementAndGet()
        throw new java.io.IOException(
          s"PUT $path: 412 Precondition Failed (If-None-Match: *)")
      }
      val out = fs.create(path, true)
      try out.write(body) finally out.close()
    }
  }

  test("a remote 412 rejection is a lost race: disjoint racers rebase, same-table racers conflict") {
    val root = freshRoot("s3put")
    val (tx, a, b, _) = dims(root)
    val va = a.commitAppend(Seq((1L, "tv")).toDF("id", "name"))
    val vb = b.commitAppend(Seq((1L, "soap")).toDF("id", "name"))
    val store = new S3Style412LogStore
    val racer = new TableTransactions(spark, root, Some(store))
    val disjoint = new TableTransactions(spark, root,
      Some(new RaceOnFirstWrite(store, () => racer.commit(Map("dim_channel" -> va)))))
    assert(disjoint.commit(Map("dim_product" -> vb)) == 2L,
      "the 412 loser must rebase to the next number")
    assert(store.rejections.get() == 1)
    assert(tx.published() == Map("dim_channel" -> va, "dim_product" -> vb))

    val va2 = a.commitAppend(Seq((2L, "radio")).toDF("id", "name"))
    val overlapping = new TableTransactions(spark, root,
      Some(new RaceOnFirstWrite(store, () => racer.commit(Map("dim_channel" -> va2)))))
    val e = intercept[ConcurrentTxnException] {
      overlapping.commit(Map("dim_channel" -> va))
    }
    assert(e.getMessage.contains("dim_channel"))
    assert(store.rejections.get() == 2)
    assert(tx.published() == Map("dim_channel" -> va2, "dim_product" -> vb),
      "the racing winner's pin must survive the conflict")
  }

  test("promoteAll: failed validation rolls back ALL tables in one transaction, unpinning first-time publishes") {
    val root = freshRoot("rollback")
    val (tx, a, b, c) = dims(root)
    val va1 = a.commitAppend(Seq((1L, "tv")).toDF("id", "name"))
    val vb1 = b.commitAppend(Seq((1L, "soap")).toDF("id", "name"))
    tx.commit(Map("dim_channel" -> va1, "dim_product" -> vb1))
    // stage: A and B move, C is published for the FIRST time
    val va2 = a.commitOverwrite(Seq((2L, "radio")).toDF("id", "name"))
    val vb2 = b.commitOverwrite(Seq((2L, "rope")).toDF("id", "name"))
    val vc1 = c.commitAppend(Seq((1L, "north")).toDF("id", "name"))
    val stuck = tx.promoteAll(
      Map("dim_channel" -> va2, "dim_product" -> vb2, "dim_region" -> vc1),
      _ => false)
    assert(!stuck)
    assert(tx.published() == Map("dim_channel" -> va1, "dim_product" -> vb1),
      "rollback must restore every prior pin and unpin dim_region")
    val actions = tx.history().map(_.action)
    assert(actions.takeRight(2) == Seq("promote", "rollback"))
    // staged versions remain in each table's history for audit
    assert(a.read(va2).count() == 1L)
    // a successful promote sticks
    assert(tx.promoteAll(Map("dim_channel" -> va2), m =>
      tx.table("dim_channel").read(m("dim_channel")).count() == 1L))
    assert(tx.published()("dim_channel") == va2)
  }

  test("readPublished refuses a never-published table; commit validates names and versions") {
    val root = freshRoot("guards")
    val (tx, a, _, _) = dims(root)
    a.commitAppend(Seq((1L, "tv")).toDF("id", "name"))
    intercept[IllegalStateException] { tx.readPublished("dim_channel") }
    intercept[IllegalArgumentException] { tx.commit(Map("bad name" -> 1L)) }
    intercept[IllegalArgumentException] { tx.commit(Map("dim_channel" -> 0L)) }
    intercept[IllegalArgumentException] { tx.commit(Map.empty) }
  }
}
