package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The ONE atomic primitive the snapshot commit protocol needs: publish a
  * manifest file exclusively (fail if it already exists) with its FULL
  * content — a reader must never observe the path without the body.
  * Everything else in the format — data-file writes, manifest content,
  * retries — is coordination-free; this call is where exactly one writer
  * wins a version number.
  *
  * All three production stores use the same two-phase shape (the public
  * log-store pattern): write the complete body to a TEMP file first, then
  * make it visible with ONE atomic, exclusive operation. The election and
  * the content land together, so neither a write failure NOR a JVM crash
  * can leave a torn manifest at the published path — a crash strands only
  * an orphaned temp file that no reader ever looks at ([[SnapshotTable
  * .vacuum]] sweeps aged ones).
  *
  * Store matrix (why this is a trait and not an `if`):
  *  - local filesystems: Hadoop's `RawLocalFileSystem.create(overwrite =
  *    false)` is CHECK-THEN-ACT (exists? then create) — two racing
  *    writers can both "win" and one silently clobbers the other: a lost
  *    commit. [[LocalExclusiveLogStore]] publishes via java.nio
  *    `createLink` (hard link — a single atomic syscall that fails with
  *    EEXIST if the target exists). POSIX `rename` would NOT do: it
  *    silently REPLACES an existing target, losing the race loser's
  *    collision signal (and the winner's commit).
  *  - HDFS (and stores with the same contract): [[HadoopAtomicLogStore]]
  *    publishes via `fs.rename(tmp, target)` — atomic at the NameNode and
  *    `false` when the target exists (the HDFS rename contract, i.e. the
  *    reference HDFS log-store pattern).
  *  - object stores (S3-family): plain PUT is last-writer-wins — neither
  *    of the above is safe, but a conditional PUT is already atomic AND
  *    all-or-nothing (an object never appears half-written), so no temp
  *    phase is needed. The contract maps to the store's conditional-write
  *    primitive (`If-None-Match: *` on S3, `ifGenerationMatch=0` on GCS).
  *    [[ConditionalPutLogStore]] pins that contract in-process (a
  *    check-and-create under a JVM-wide lock, temp-staged so even a crash
  *    inside the lock can't tear the visible file); a production S3
  *    implementation replaces the lock with the conditional PUT header
  *    and nothing above this trait changes. The REMOTE failure shape —
  *    a plain IOException carrying the HTTP 412 with the winner's
  *    object visible, which none of the FileAlreadyExists types match —
  *    is rehearsed in SnapshotFormatSpec's object-store specs: the
  *    committers classify it as a collision through the exists probe
  *    and take the retry/loser path a real S3/GCS store needs.
  *
  * Failure signaling: existence races MUST surface as
  * `FileAlreadyExistsException` (java.nio or Hadoop flavor) or an
  * IOException with the target already present — the committers treat
  * exactly those as "lost the race, retry on the new tip" and rethrow
  * everything else (a permission error or full disk is not a collision).
  */
trait SnapshotLogStore {
  /** Atomically create `path` containing `body` iff it does not exist.
    * Post-conditions, in every failure mode including JVM crash:
    * `path` either does not exist or holds the COMPLETE body (its own or
    * a racing winner's). Orphaned `.tmp_*` siblings are permitted — they
    * are invisible to manifest listing and swept by vacuum. */
  def writeExclusive(fs: FileSystem, path: Path, body: Array[Byte]): Unit
}

object SnapshotLogStore {
  /** Temp names start with `.tmp_` so the manifest listing's
    * `v*.json` filter never sees them; vacuum sweeps aged orphans. */
  private[sources] def tempFor(path: Path): Path =
    new Path(path.getParent, s".tmp_${java.util.UUID.randomUUID()}_${path.getName}")

  /** Default store for a root: nio link-publish on local schemes, Hadoop
    * rename-publish elsewhere (HDFS-class semantics). Object-store
    * schemes would map to their conditional-PUT implementation here. */
  def forFileSystem(fs: FileSystem): SnapshotLogStore = fs match {
    case _: org.apache.hadoop.fs.RawLocalFileSystem |
         _: org.apache.hadoop.fs.LocalFileSystem => LocalExclusiveLogStore
    case _ => HadoopAtomicLogStore
  }

  /** The one collision classifier of every committer: true iff `e`, raised
    * by [[SnapshotLogStore.writeExclusive]] of `path`, means another
    * writer already created it — the only failure a commit may retry.
    * Besides the two FileAlreadyExists types, a plain IOException with
    * the target present is a collision (a remote store's 412 on a
    * conditional PUT). A persistent fault (permissions, full disk,
    * unreachable root) is NOT: retrying would only mask the cause. A
    * collision is remembered on this thread as the cause a
    * [[commitLoop]] give-up carries. */
  private[sources] def isCollision(fs: FileSystem, path: Path,
                                   e: java.io.IOException): Boolean = {
    val lost = e match {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
      case _: java.nio.file.FileAlreadyExistsException => true
      case _ => fs.exists(path)
    }
    if (lost) lastCollision.set(e)
    lost
  }

  private val lastCollision = new ThreadLocal[java.io.IOException]

  /** Lost races one commit tolerates before giving up. */
  private val MaxConflicts = 50

  /** The one optimistic-commit loop (table manifests and the multi-table
    * transaction log): run `attempt` on a base — `first` when given, else
    * a fresh `tip()`, and a fresh `tip()` after every lost race (`None`)
    * — up to 50 times, then raise `IllegalStateException("<op>: gave up
    * after 50 conflicts")` with the last collision as its cause, after
    * running `onGiveUp` (no attempt published). No sleep between
    * attempts: the loser's next base is the winner's published tip.
    * Anything else the attempt throws propagates at once. */
  private[sources] def commitLoop[A](op: => String, tip: () => Long,
                                     first: Option[Long] = None,
                                     onGiveUp: () => Unit = () => ())
                                    (attempt: Long => Option[A]): A = {
    lastCollision.remove()
    try {
      var attempts = 0
      while (attempts < MaxConflicts) {
        val base = if (attempts == 0) first.getOrElse(tip()) else tip()
        attempt(base) match {
          case Some(done) => return done
          case None => attempts += 1
        }
      }
      onGiveUp()
      throw new IllegalStateException(
        s"$op: gave up after $attempts conflicts", lastCollision.get)
    } finally lastCollision.remove()
  }

  /** Best-effort tip hint (a table's `_snapshots/_tip`, the transaction
    * log's `_txn/_tip`): 0 when absent, torn, or unreadable — the caller
    * falls back to listing. Never authoritative. */
  private[sources] def readTipHint(fs: FileSystem, path: Path): Long =
    try {
      if (!fs.exists(path)) 0L
      else {
        val in = fs.open(path)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                  finally in.close()
        txt.toLong
      }
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Overwrite a tip hint after a successful publish. Best-effort by
    * design: concurrent overwrites may tear or regress the hint, and
    * both are safe — a reader probes forward past a stale hint and falls
    * back to listing on a torn one. Correctness never depends on this
    * write landing. */
  private[sources] def writeTipHint(fs: FileSystem, path: Path, v: Long): Unit =
    try {
      val out = fs.create(path, /* overwrite = */ true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Read a published manifest, retrying failures with bounded backoff
    * (9 tries, sleeping 2 → 200 ms between them, ~0.45 s in all): the
    * exclusive publish elects the writer atomically, but on local/HDFS
    * filesystems the content can become visible progressively, so a
    * reader racing the winner may parse a truncated body. One that still
    * fails is corrupt (a crash mid-publish) and raises
    * `IllegalStateException(what)` with the last failure as its cause; a
    * missing file (`FileNotFoundException`) raises at once. */
  private[sources] def readRetrying[A](what: => String)(read: => A): A = {
    var delayMs = 2L
    var last: Throwable = null
    var tries = 0
    while (tries < 9) {
      try return read
      catch {
        case e: java.io.FileNotFoundException => throw e
        case scala.util.control.NonFatal(e) =>
          last = e
          tries += 1
          if (tries < 9) { Thread.sleep(delayMs); delayMs = math.min(200L, delayMs * 2) }
      }
    }
    throw new IllegalStateException(what, last)
  }
}

/** file:// roots: stage the body to a temp file, publish with java.nio
  * `createLink` — one atomic syscall that both ELECTS (EEXIST when the
  * target exists → FileAlreadyExistsException, the collision signal) and
  * makes the complete content visible. A crash at any point leaves
  * either nothing or a stranded temp file — never a torn manifest. */
object LocalExclusiveLogStore extends SnapshotLogStore {
  override def writeExclusive(fs: FileSystem, path: Path, body: Array[Byte]): Unit = {
    val target = java.nio.file.Paths.get(path.toUri.getPath)
    val tmpPath = SnapshotLogStore.tempFor(path)
    val tmp = java.nio.file.Paths.get(tmpPath.toUri.getPath)
    java.nio.file.Files.write(tmp, body) // complete body lands BEFORE publish
    try java.nio.file.Files.createLink(target, tmp)
    finally {
      try java.nio.file.Files.deleteIfExists(tmp)
      catch { case _: java.io.IOException => () } // orphan temp: vacuum sweeps it
    }
  }
}

/** HDFS-class stores: stage to a temp file, publish with `rename` — atomic
  * at the NameNode and `false` when the target already exists (the HDFS
  * rename contract). `false` with the target present is the collision
  * signal; `false` without it is a genuine store fault and raises as
  * such. */
object HadoopAtomicLogStore extends SnapshotLogStore {
  override def writeExclusive(fs: FileSystem, path: Path, body: Array[Byte]): Unit = {
    val tmp = SnapshotLogStore.tempFor(path)
    val out = fs.create(tmp, /* overwrite = */ true)
    try { out.write(body); out.close() }
    catch {
      case e: Throwable =>
        try out.close() catch { case _: Throwable => () }
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
    val renamed =
      try fs.rename(tmp, path)
      catch { case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
      }
    if (!renamed) {
      try fs.delete(tmp, false) catch { case _: Throwable => () }
      if (fs.exists(path))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(path.toString)
      throw new java.io.IOException(
        s"rename $tmp -> $path failed with no existing target (store fault)")
    }
  }
}

/** The object-store shape: an atomic compare-and-create — "PUT iff the
  * key does not exist". In-process the check-and-create pair runs under
  * one JVM-wide lock, which is exactly the guarantee a conditional PUT
  * (`If-None-Match: *`) gives across processes; a real S3/GCS/ABFS
  * implementation swaps the lock for the header (and drops the temp
  * phase — a PUT is already all-or-nothing) and keeps the contract.
  * Exists-check + write both go through the Hadoop FileSystem, so this
  * works against any scheme in tests. */
object ConditionalPutLogStore extends SnapshotLogStore {
  private val lock = new Object
  override def writeExclusive(fs: FileSystem, path: Path, body: Array[Byte]): Unit =
    lock.synchronized {
      if (fs.exists(path))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(path.toString)
      val tmp = SnapshotLogStore.tempFor(path)
      val out = fs.create(tmp, /* overwrite = */ true)
      try { out.write(body); out.close() }
      catch {
        case e: Throwable =>
          try out.close() catch { case _: Throwable => () }
          try fs.delete(tmp, false) catch { case _: Throwable => () }
          throw e
      }
      // existence settled under the lock; rename models the PUT landing
      if (!fs.rename(tmp, path)) {
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw new java.io.IOException(s"publish rename $tmp -> $path failed")
      }
    }
}

/** DELIBERATELY UNSAFE: the check-then-act create every naive
  * object-store integration starts with (HEAD then PUT — last writer
  * wins). Exists so the multi-writer stress spec can DEMONSTRATE the
  * lost-commit anomaly this store family causes and prove
  * [[ConditionalPutLogStore]] closes it; never the default for any
  * scheme. `betweenCheckAndWrite` runs in the check-to-write window so a
  * spec can hold both racers past the check deterministically (a
  * barrier) instead of hoping a sleep lines the schedules up. */
class NonAtomicLogStore(betweenCheckAndWrite: () => Unit = () => ())
    extends SnapshotLogStore {
  override def writeExclusive(fs: FileSystem, path: Path, body: Array[Byte]): Unit = {
    if (fs.exists(path))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(path.toString)
    betweenCheckAndWrite()
    val out = fs.create(path, /* overwrite = */ true) // the unsafe part: blind PUT
    try out.write(body) finally out.close()
  }
}
