package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryCaches, SparkEntry}

/** The measured JVM: one client running one workload's operations in a
  * seeded order, pass after pass, in one session configured as
  * `graft.Verify` configures it.
  *
  *  1. setup: the session (inputs are generated before the JVM starts);
  *     with `--setup-only 1` the JVM stops here;
  *  2. cold pass: the first pass in the fresh JVM, which writes each
  *     operation's output as parquet for the DuckDB oracle check and reads
  *     it back, as a scheduled pipeline run lands its outputs;
  *  3. timed passes until `--seconds` have gone by (at least
  *     `--min-passes`).
  *
  * Every operation is timed in three phases — build (the registered
  * builder, where eager commits happen), plan (forcing the executed plan)
  * and exec (consuming every row, see [[Consume]]) — and its Spark jobs
  * are filed under those phases by [[JobLedger]]. An operation that
  * throws, or whose output fingerprint differs from its cold-pass one,
  * is recorded as failed and contributes no timing.
  *
  * Writes `result.json` (and `spans.json` with `--trace 1`) to the run
  * directory; run.py turns them into the benchmark's metrics. */
object Main {
  final case class Op(name: String, family: String,
                      build: (SparkSession, String) => DataFrame)

  /** Per-operation record for one pass. */
  final class OpRec(val op: Op, val pass: Int, val kind: String) {
    var ok = true
    var error = ""
    var buildS = 0.0
    var planS = 0.0
    var execS = 0.0
    var rows = 0L
    var hash = 0L
    var jobs: Seq[JobRec] = Nil
    var gcS = 0.0
    var jitS = 0.0
    var span = -1
  }

  private val rt = ManagementFactory.getRuntimeMXBean
  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def heapUsed: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Heap in use after a full collection. Spark frees released cache and
    * broadcast blocks asynchronously (non-blocking unpersist, the context
    * cleaner reacting to the first collection), so collect, let those
    * threads run, and collect again. */
  private def settledHeap(): Long = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    heapUsed
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(Opts(args))
      catch { case e: Opts.Usage => System.err.println(s"[graftbench] ${e.getMessage}"); 2 }
    System.exit(code)
  }

  def run(o: Opts): Int = {
    val registry = SparkEntry.queries
    val unknown = o.ops.filterNot(registry.contains)
    if (unknown.nonEmpty) throw new Opts.Usage(s"unknown operation(s): ${unknown.mkString(", ")}")
    // java.util.Random's first draws barely differ between nearby seeds
    // (seeds 301–310 all put the same one of two operations first), so the
    // seed is mixed before it orders the operations.
    val rng = new scala.util.Random(new java.util.SplittableRandom(o.seed).nextLong())
    val ops = rng.shuffle(o.ops.map(n => Op(n, Families.of(n), registry(n)))) ++
      (if (o.injectFailure) Seq(Op("bench_injected_failure", "other",
        (_, _) => throw new IllegalStateException("injected failure"))) else Nil)

    val runDir = Paths.get(o.runDir).toAbsolutePath
    val trace = new Tracer(o.trace, rt.getStartTime)
    val ledger = new JobLedger

    val cpus = Runtime.getRuntime.availableProcessors
    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(ledger)
    trace.closed("setup.session", tSession, System.nanoTime())

    val inputDir = Paths.get(o.inputDir).toAbsolutePath.toString
    val setupS = (System.currentTimeMillis() - rt.getStartTime) / 1e3
    if (o.setupOnly) {
      Files.writeString(runDir.resolve("result.json"), Json.obj(Seq("setup_s" -> setupS)))
      spark.stop()
      return 0
    }

    val head = Seq[(String, Any)](
      "input_dir" -> inputDir, "setup_s" -> setupS,
      "ops" -> ops.map(op => Map("name" -> op.name, "family" -> op.family)))
    val oracles = SparkEntry.oracleSql
    Files.writeString(runDir.resolve("oracle.json"),
      Json.value(ops.flatMap(op => oracles.get(op.name).map(op.name -> _)).toMap))
    val dumpDir = runDir.resolve("dump")
    val firstDigest = mutable.Map.empty[String, Consume.Digest]
    val passes = mutable.ArrayBuffer.empty[(Int, String, Seq[OpRec], Long)]

    def runPass(p: Int, kind: String): Seq[OpRec] = {
      val passSpan = trace.open("pass", Map("pass" -> p, "kind" -> kind))
      val recs = ops.map { op =>
        val r = new OpRec(op, p, kind)
        val tag = s"$p|${op.name}"
        val opSpan = trace.open(op.name, Map("pass" -> p, "kind" -> kind,
          "family" -> op.family), parent = passSpan, newOp = true)
        r.span = opSpan
        val g0 = gcMillis
        val j0 = jitMillis
        try {
          ledger.enter(s"$tag|build")
          val t0 = System.nanoTime()
          val df = op.build(spark, inputDir)
          val t1 = System.nanoTime()
          ledger.enter(s"$tag|plan")
          Consume.plan(df)
          val t2 = System.nanoTime()
          ledger.enter(s"$tag|exec")
          val d =
            if (kind != "cold") Consume.run(df)
            else {
              // Every later pass must produce the fingerprint of the output
              // read back here, so the output the oracle checks is the one
              // every pass produced.
              val path = dumpDir.resolve(op.name).toString
              df.write.parquet(path)
              Consume.run(spark.read.parquet(path))
            }
          val t3 = System.nanoTime()
          ledger.enter(s"$tag|check")
          r.gcS = (gcMillis - g0) / 1e3
          r.jitS = (jitMillis - j0) / 1e3
          r.buildS = (t1 - t0) / 1e9
          r.planS = (t2 - t1) / 1e9
          r.execS = (t3 - t2) / 1e9
          r.rows = d.rows
          r.hash = d.hash
          trace.closed("build", t0, t1, opSpan)
          trace.closed("plan", t1, t2, opSpan)
          trace.closed("exec", t2, t3, opSpan)
          firstDigest.get(op.name) match {
            case None => firstDigest(op.name) = d
            case Some(first) if first != d =>
              r.ok = false
              r.error = s"output differs from the first pass: $d vs $first"
            case _ => ()
          }
        } catch {
          case NonFatal(e) =>
            r.ok = false
            r.error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        } finally {
          QueryCaches.releaseAll()
          ledger.enter("idle")
          trace.close(opSpan)
        }
        if (!r.ok) System.err.println(s"[graftbench] ${op.name} failed: ${r.error}")
        else System.err.println(f"[graftbench] pass $p%d $kind%-6s ${op.name}%-28s " +
          f"build ${r.buildS}%.3f plan ${r.planS}%.3f exec ${r.execS}%.3f s")
        r
      }
      Bus.drain(spark.sparkContext)
      val jobs = ledger.take()
      val byTag = jobs.groupBy(j => j.phase.split('|').take(2).mkString("|"))
      recs.foreach { r =>
        r.jobs = byTag.getOrElse(s"${r.pass}|${r.op.name}", Nil)
          .filter(j => !j.phase.endsWith("|check"))
        if (r.ok) trace.jobs(r.jobs, r.span)
      }
      trace.close(passSpan)
      // Outside every timing, so that each pass starts from the same heap.
      passes += ((p, kind, recs, settledHeap()))
      recs
    }

    // No warm-up pass: the work counters repeat exactly from the first
    // pass after the cold one on. Pass times keep falling for about eight
    // passes as the JIT compiles more of the program; a run cannot afford
    // that warm-up, and pass times are not gated (see README.md).
    runPass(0, "cold")
    var p = 1
    val timedStart = System.nanoTime()
    var timed = 0
    while (timed < o.minPasses || (System.nanoTime() - timedStart) / 1e9 < o.seconds) {
      runPass(p, "timed")
      p += 1
      timed += 1
    }

    val layers = if (o.trace) Layers.probe(spark, inputDir, runDir, trace, ledger) else Nil
    val out = head ++ Seq(
      "passes" -> passes.map { case (pn, kind, recs, heap) =>
        Map("pass" -> pn, "kind" -> kind, "heap_after_gc_bytes" -> heap,
          "ops" -> recs.map(opJson))
      },
      "layers" -> layers.toMap)
    Files.writeString(runDir.resolve("result.json"), Json.obj(out))
    if (o.trace) Files.writeString(runDir.resolve("spans.json"), trace.json)
    spark.stop()
    0
  }

  private def opJson(r: OpRec): Map[String, Any] =
    Map("name" -> r.op.name, "family" -> r.op.family, "ok" -> r.ok, "error" -> r.error,
      "build_s" -> r.buildS, "plan_s" -> r.planS, "exec_s" -> r.execS,
      "rows" -> r.rows, "hash" -> r.hash.toString, "jobs" -> r.jobs.size,
      "shuffle_write_bytes" -> r.jobs.map(_.shuffleWrite).sum,
      "input_bytes" -> r.jobs.map(_.input).sum,
      "jvm_gc_s" -> r.gcS, "jvm_jit_s" -> r.jitS)
}
