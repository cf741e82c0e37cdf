package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{QueryCaches, Tables}
import graft.llm.Dedup
import graft.operators.ConnectedComponents
import graft.sources.SnapshotTable

/** Per-layer probes of a traced run, made after the timed passes through
  * the program's public functions and the files it left behind:
  *
  *  - sources: every snapshot table under the run directory (the
  *    warehouses of the last pass): tip versions, live data and delete
  *    files, manifest and data bytes. The time of `latestVersion()` and of
  *    `snapshot(tip)` on a fresh handle is taken over those tables plus
  *    one the probe writes itself (three appends of `nation`), so that it
  *    is measured in workloads whose operations leave no table;
  *  - llm: MinHash-LSH candidate pairs against verified pairs on the
  *    workload's corpus;
  *  - operators: connected components over those verified pairs. */
object Layers {
  private val Repeats = 5

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timedMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }

  private def bytesUnder(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Table roots: directories holding a `_snapshots` manifest chain, not
    * counting branch chains under `_refs`. */
  def tableRoots(runDir: Path): Seq[Path] =
    Files.walk(runDir).iterator().asScala
      .filter(p => p.getFileName.toString == "_snapshots" && Files.isDirectory(p))
      .map(_.getParent)
      .filterNot(r => r.toString.contains("/_refs/"))
      .toSeq.sortBy(_.toString)

  def probe(spark: SparkSession, inputDir: String, runDir: Path,
            trace: Tracer, ledger: JobLedger): Seq[(String, Any)] = {
    val left = tableRoots(runDir)
    val own = runDir.resolve("probe-table")
    val t = new SnapshotTable(spark, own.toString)
    (1 to 3).foreach(_ => t.commitAppend(Tables.nation(spark, inputDir)))
    val tables = (left :+ own).map { root =>
      val span = trace.open("sources.table", Map("root" -> runDir.relativize(root).toString))
      val (tip, tipMs) = (1 to Repeats).map { _ =>
        timedMs(new SnapshotTable(spark, root.toString).latestVersion())
      }.unzip
      val v = tip.head
      val (snaps, loadMs) =
        if (v > 0) (1 to Repeats).map(_ => timedMs(new SnapshotTable(spark, root.toString)
          .snapshot(v))).unzip
        else (Nil, Nil)
      trace.close(span)
      (v, median(tipMs), if (loadMs.isEmpty) None else Some(median(loadMs)),
        snaps.headOption.map(_.files.size).getOrElse(0),
        snaps.headOption.map(_.deletes.size).getOrElse(0),
        bytesUnder(root.resolve("_snapshots")) + bytesUnder(root.resolve("_refs")),
        bytesUnder(root.resolve("data")))
    }

    val docs = Tables.documents(spark, inputDir)
    val lshSpan = trace.open("llm.lsh")
    val banded = Dedup.bandedMinhash(Dedup.hashedShingles(docs, 3), 16, 4).cache()
    val candidates = banded.select(col("doc_id").as("a"), col("band"), col("bh"))
      .join(banded.select(col("doc_id").as("b"), col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    banded.unpersist(blocking = true)
    val pairs = Dedup.minhashLshPairs(docs).select("a", "b").cache()
    val nPairs = pairs.count()
    trace.close(lshSpan)

    Bus.drain(spark.sparkContext)
    ledger.take()
    val ccSpan = trace.open("operators.cc")
    ledger.enter("probe|cc")
    val t0 = System.nanoTime()
    Consume.run(ConnectedComponents.connectedComponents(pairs, "a", "b"))
    val ccS = (System.nanoTime() - t0) / 1e9
    ledger.enter("idle")
    trace.close(ccSpan)
    Bus.drain(spark.sparkContext)
    val ccJobs = ledger.take().count(_.phase == "probe|cc")
    pairs.unpersist(blocking = true)
    QueryCaches.releaseAll()

    val ops = tables.init
    Seq(
      "sources.versions" -> ops.map(_._1).sum,
      "sources.data_files" -> ops.map(_._4).sum,
      "sources.delete_files" -> ops.map(_._5).sum,
      "sources.manifest_kb" -> ops.map(_._6).sum / 1024.0,
      "sources.data_mb" -> ops.map(_._7).sum / 1048576.0,
      "sources.tip_resolve_ms" -> median(tables.map(_._2)),
      "sources.snapshot_load_ms" -> median(tables.flatMap(_._3)),
      "llm.lsh_candidates" -> candidates,
      "llm.lsh_pairs" -> nPairs,
      "operators.cc_s" -> ccS,
      "operators.cc_jobs" -> ccJobs)
  }
}
